"""Property-based tests (hypothesis): OCR roundtrip over the full charset,
wrap/reassembly invariants, codec fuzz (SURVEY.md §5.2.4)."""

import string

import numpy as np
from hypothesis import given, settings, strategies as st

from api_ocr_spark.imaging import font, png, render
from api_ocr_spark.ocr import engine

# words over the renderable charset. Punctuation joins only as part of a
# word with letters/digits: a page whose ONLY ink is a lone 16-px glyph is
# below the noisy-scenario Otsu separability bound (~2% ink density —
# imaging/render.py margins; every real 8-word chunk is far above it).
_word = st.text(alphabet=string.ascii_lowercase + string.digits, min_size=1, max_size=10)
_punct_word = st.tuples(
    st.sampled_from(["(", "", "-"]),
    st.text(alphabet=string.ascii_lowercase + string.digits, min_size=2, max_size=8),
    st.sampled_from([")", "", ".", ",", ":"]),
).map("".join)
_text = st.lists(st.one_of(_word, _punct_word), min_size=2, max_size=30).map(" ".join)


@settings(max_examples=40, deadline=None)
@given(text=_text, scenario=st.sampled_from(render.SCENARIOS), seed=st.integers(0, 2**31 - 1))
def test_roundtrip_property(text, scenario, seed):
    from api_ocr_spark.kernels import enhance

    img = render.render_text_image(text, scenario, seed=seed)
    # pipeline modes cap before OCR ('large' needs the decimation cap)
    img = enhance.cap_max_dimension(img, 1300)
    got = engine.ocr_image(png.decode_gray(png.encode_gray(img)))
    assert got.replace("\n", " ") == " ".join(text.split())


@settings(max_examples=30, deadline=None)
@given(st.lists(_word, min_size=1, max_size=60), st.integers(4, 40))
def test_wrap_preserves_tokens(words, width):
    text = " ".join(words)
    wrapped = render.wrap_text(text, width)
    # character stream is preserved (wrapping only moves break positions)
    assert "".join("".join(wrapped).split()) == "".join(text.split())
    # no line exceeds width (hard-split guarantee)
    assert all(len(l) <= width for l in wrapped)


@settings(max_examples=30, deadline=None)
@given(st.integers(1, 200), st.integers(1, 200), st.integers(0, 2**31 - 1))
def test_png_codec_fuzz(h, w, seed):
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w)).astype(np.uint8)
    assert np.array_equal(png.decode_gray(png.encode_gray(img)), img)


def _spark_eval(spark, strings, *exprs):
    """One row per string: each expr of exprs over a one-column DataFrame
    of `strings`, in row order."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(x,) for x in strings], "s string")
    return df.select(*[e(F.col("s")) for e in exprs]).collect()


# Java's \s, the whitespace class the Catalyst extractors collapse
_JAVA_WS = " \t\n\x0b\f\r"


@settings(max_examples=5, deadline=None)
@given(strings=st.lists(st.text(max_size=200), min_size=1, max_size=40))
def test_clean_text_idempotent(spark, strings):
    """clean_text's Catalyst form, normalize_ws, is idempotent."""
    from api_ocr_spark.functions.text import normalize_ws

    for once, twice in _spark_eval(spark, strings, normalize_ws,
                                   lambda c: normalize_ws(normalize_ws(c))):
        assert twice == once


@settings(max_examples=5, deadline=None)
@given(strings=st.lists(st.text(max_size=200), min_size=1, max_size=40))
def test_limpiar_idempotent_on_output_whitespace(spark, strings):
    """limpiar_texto_ocr's Catalyst form leaves no whitespace run and no
    leading or trailing whitespace."""
    from api_ocr_spark.functions.text import limpiar_texto_ocr_col

    for (out,) in _spark_eval(spark, strings, limpiar_texto_ocr_col):
        assert "  " not in out and out == out.strip(_JAVA_WS)


@settings(max_examples=20, deadline=None)
@given(st.permutations(list(range(8))))
def test_group_words_line_key_order_insensitive_bbox(perm):
    # line regrouping: union bbox and mean conf are permutation-invariant
    words = [
        {"text": f"w{i}", "bbox": (10 * i, 2 * i, 8, 10), "conf": 40.0 + i,
         "line": 0, "block": 0, "par": 0}
        for i in range(8)
    ]
    base = engine.group_words_into_lines(words)[0]
    shuf = engine.group_words_into_lines([words[i] for i in perm])[0]
    assert base["bbox"] == shuf["bbox"]
    assert abs(base["conf"] - shuf["conf"]) < 1e-9


def test_font_charset_coverage():
    # every renderable char has a template and roundtrips standalone-in-word
    for ch in sorted(font.CHARSET - {" "}):
        text = f"x{ch}x"
        img = render.render_text_image(text, "plain", 0)
        assert engine.ocr_image(img) == text, ch


def test_composite_transforms_roundtrip():
    """Stacked transforms (outside the oracle contract): skew+noise,
    skew+shadow, rules+noise, shadow+noise — the retry/illumination rungs
    must recover exact text (seeded, 120 cases)."""
    import random

    rng = random.Random(7)
    alpha = string.ascii_lowercase + string.digits
    for _ in range(120):
        words = ["".join(rng.choice(alpha) for _ in range(rng.randint(1, 8)))
                 for _ in range(rng.randint(2, 10))]
        text = " ".join(words)
        base = render.render_lines(render.wrap_text(text))
        seed = rng.randint(0, 2**31 - 1)
        nprng = np.random.default_rng(seed)
        combo = rng.choice(["skew+noise", "skew+shadow", "rules+noise", "shadow+noise"])
        img = base
        if "rules" in combo:
            img = render._apply_rules(img)
        if "skew" in combo:
            img = render._apply_skew(img, rng.choice(render.SKEW_DEGREES))
        if "shadow" in combo:
            img = render._apply_shadow(img)
        if "noise" in combo:
            img = render._apply_noise(img, nprng)
        got = engine.ocr_image(png.decode_gray(png.encode_gray(img)))
        assert got.replace("\n", " ") == text, (combo, seed, text)
