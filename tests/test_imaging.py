"""PNG codec, font, renderer — deterministic raster stack."""

import numpy as np
import pytest

from api_ocr_spark.imaging import font, png, render


def test_png_roundtrip_random():
    rng = np.random.default_rng(0)
    img = rng.integers(0, 256, (37, 53)).astype(np.uint8)
    assert np.array_equal(png.decode_gray(png.encode_gray(img)), img)


def test_png_roundtrip_renders():
    img = render.render_text_image("hello world", "plain", 1)
    assert np.array_equal(png.decode_gray(png.encode_gray(img)), img)


def test_png_rejects_garbage():
    with pytest.raises(ValueError):
        png.decode_gray(b"not a png at all")


def test_png_decodes_filtered_rows():
    # hand-build a PNG using Sub(1)/Up(2)/Average(3)/Paeth(4) filters
    import struct
    import zlib

    img = np.arange(40, dtype=np.uint8).reshape(5, 8)
    rows = []
    prev = np.zeros(8, np.int32)
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        line = img[y].astype(np.int32)
        enc = np.zeros(8, np.int32)
        for x in range(8):
            a = line[x - 1] if x > 0 else 0
            b = prev[x]
            c = prev[x - 1] if x > 0 else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            enc[x] = (line[x] - pred) & 0xFF
        rows.append(bytes([ftype]) + bytes(enc.astype(np.uint8)))
        prev = line

    def chunk(tag, data):
        return struct.pack(">I", len(data)) + tag + data + struct.pack(
            ">I", zlib.crc32(tag + data) & 0xFFFFFFFF)

    raw = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", struct.pack(">IIBBBBB", 8, 5, 8, 0, 0, 0, 0))
    raw += chunk(b"IDAT", zlib.compress(b"".join(rows))) + chunk(b"IEND", b"")
    assert np.array_equal(png.decode_gray(raw), img)


def test_font_glyphs_distinct():
    tpls = font.templates()
    n = len(tpls)
    for i in range(n):
        for j in range(i + 1, n):
            ci, ti, _ = tpls[i]
            cj, tj, _ = tpls[j]
            h = max(ti.shape[0], tj.shape[0])
            w = max(ti.shape[1], tj.shape[1])
            a = np.zeros((h, w), bool)
            b = np.zeros((h, w), bool)
            a[: ti.shape[0], : ti.shape[1]] = ti
            b[: tj.shape[0], : tj.shape[1]] = tj
            assert (a ^ b).sum() >= 4, f"glyphs {ci!r} and {cj!r} too similar"


def test_font_glyphs_column_contiguous():
    # the char segmenter requires no fully-blank interior columns
    for ch, g in font.GLYPHS.items():
        cols = np.nonzero(g.any(axis=0))[0]
        assert np.all(np.diff(cols) == 1), f"glyph {ch!r} has interior blank column"


def test_render_deterministic():
    a = render.render_text_image("abc", "noisy", 42)
    b = render.render_text_image("abc", "noisy", 42)
    assert np.array_equal(a, b)
    c = render.render_text_image("abc", "noisy", 43)
    assert not np.array_equal(a, c)


def test_wrap_text():
    assert render.wrap_text("a b c", 3) == ["a b", "c"]
    assert render.wrap_text("abcdefgh", 3) == ["abc", "def", "gh"]
    assert render.wrap_text("") == [""]


def test_jpeg_native_scan_equals_python_fallback():
    """The compiled entropy-scan/bit-packer must be RESULT-IDENTICAL to the
    pure-Python fallback (the deployment contract: an executor without a C
    toolchain produces the same bytes and pixels)."""
    from api_ocr_spark.imaging import _jpegscan, jpeg

    if _jpegscan.scan_fn() is None:
        import pytest

        pytest.skip("no C toolchain in this environment")
    imgs = [render.render_text_image(f"native check words {i}", s, seed=i)
            for i, s in enumerate(render.SCENARIOS)]
    encoded_native = [jpeg.encode_gray_jpeg(im, q) for im in imgs for q in (75, 90)]
    decoded_native = [jpeg.decode_gray_jpeg(d) for d in encoded_native]
    saved = (_jpegscan._scan_fn, _jpegscan._pack_fn)
    try:
        _jpegscan._scan_fn = _jpegscan._pack_fn = None  # force fallback
        encoded_py = [jpeg.encode_gray_jpeg(im, q) for im in imgs for q in (75, 90)]
        decoded_py = [jpeg.decode_gray_jpeg(d) for d in encoded_native]
    finally:
        _jpegscan._scan_fn, _jpegscan._pack_fn = saved
    assert encoded_native == encoded_py  # byte-identical bitstreams
    assert all(np.array_equal(a, b) for a, b in zip(decoded_native, decoded_py))


def _decode_both_paths(data):
    """Run decode under the native path (if built) AND the forced-Python
    fallback; return the list of exceptions raised (None for success)."""
    from api_ocr_spark.imaging import _jpegscan, jpeg

    outcomes = []
    for force_py in (False, True):
        saved = (_jpegscan._scan_fn, _jpegscan._pack_fn)
        try:
            if force_py:
                _jpegscan._scan_fn = _jpegscan._pack_fn = None
            try:
                jpeg.decode_gray_jpeg(data)
                outcomes.append(None)
            except (ValueError, IndexError) as e:
                outcomes.append(type(e).__name__)
        finally:
            _jpegscan._scan_fn, _jpegscan._pack_fn = saved
    return outcomes


def _expected_dims(text, scenario, seed):
    """Python replica of ORACLE_IMAGE_METADATA's geometry arithmetic (wrap →
    cell grid → per-scenario transform). Kept independent of render.py's
    code path on purpose: it re-derives dims the way the SQL does."""
    import math

    import numpy as np

    # greedy wrap over word lengths (no word in the fixture corpus exceeds
    # MAX_LINE_CHARS, so the hard-split branch is unreachable — same
    # assumption the SQL reduce makes)
    nlines, maxlen, cur = 0, 0, 0
    for L in (len(w) for w in text.lower().split()):
        assert L <= 32
        if cur == 0:
            cur = L
        elif cur + 1 + L <= 32:
            cur += 1 + L
        else:
            nlines, maxlen, cur = nlines + 1, max(maxlen, cur), L
    nlines, ncols = nlines + 1, max(maxlen, cur)
    h0 = 16 + nlines * 30
    w0 = 16 + max(1, ncols) * 14
    if scenario in ("plain", "noisy", "shadow"):
        return h0, w0
    if scenario in ("skewed", "skewed_noisy"):
        t = abs(np.tan(np.deg2rad(render.skew_degree(seed))))
        pad = math.floor(t * h0 / 2 + 0.5)
        return h0, w0 + 2 * pad
    if scenario == "ruled":
        count = max(0, math.ceil((h0 - 3 - 34) / 30.0))
        extra = max(0, 12 - count)
        return (h0 + extra * 8 + 8 if extra else h0), w0
    if scenario == "boxed":
        return h0 + 38, w0 + 38
    if scenario == "large":
        return 2 * h0, 1960
    raise AssertionError(scenario)


def test_render_dims_match_geometry_arithmetic():
    """The image_metadata oracle recomputes decoded image dims from pure
    geometry arithmetic; this pins that arithmetic to the actual renderer
    for every scenario over a spread of chunk shapes and seeds."""
    chunks = [
        "a",
        "one two",
        "supplier ordering shipments forecast",
        "alpha beta gamma delta epsilon zeta eta theta",  # 8 words, wraps
        "aaaaaaaa bbbbbbbb cccccccc dddddddd eeeeeeee ffffffff gggggggg hhhhhhhh",
    ]
    for text in chunks:
        for scenario in render.SCENARIOS:
            for seed in (0, 1, 7, 100003 * 13 + 2, 100003 * 40 + 5):
                img = render.render_text_image(text, scenario, seed=seed)
                assert img.shape == _expected_dims(text, scenario, seed), (
                    text, scenario, seed, img.shape)


def test_skew_pad_round_formula_has_no_ties():
    """ORACLE_IMAGE_METADATA computes the skew pad as floor(|tan|*h/2 + 0.5);
    the renderer uses np.round (HALF_EVEN). They agree iff no product lands
    on an exact .5 tie — assert that for every degree and every height up to
    4000 px (far above any reachable render height)."""
    import math

    import numpy as np

    for deg in render.SKEW_DEGREES:
        t = abs(np.tan(np.deg2rad(deg)))
        for h in range(10, 4001):
            v = t * h / 2
            assert int(np.round(v)) == math.floor(v + 0.5), (deg, h)


def test_jpeg_truncated_stream_raises_not_crashes():
    """Malformed input safety (bounds guard in the C scan): a stream whose
    entropy data is cut short must raise in BOTH the native and Python
    paths — never read past the buffer. Exercises the bit-cursor guard."""
    from api_ocr_spark.imaging import jpeg

    img = render.render_text_image("truncation safety check words", "noisy", 7)
    data = jpeg.encode_gray_jpeg(img, 90)
    assert data[-2:] == b"\xff\xd9"
    # chop a big slice of entropy data (keep headers + a little scan)
    truncated = data[: len(data) - len(data) // 3]
    for cut in (truncated, data[:-40], data[:-300]):
        outcomes = _decode_both_paths(cut)
        # both paths raise, and raise the SAME type: the fallback re-raises
        # its IndexError as ValueError so callers see path-independent errors
        assert all(o == "ValueError" for o in outcomes), outcomes


def test_jpeg_adversarial_sof_dims_raise_not_crash():
    """Adversarial header: SOF claims 8192x8192 (1M blocks) while the scan
    stays tiny — the value count / cursor guards must fire long before any
    out-of-bounds write into the packed-values buffer."""
    from api_ocr_spark.imaging import jpeg

    img = render.render_text_image("adversarial dims", "plain", 3)
    data = bytearray(jpeg.encode_gray_jpeg(img, 75))
    i = data.find(b"\xff\xc0")
    assert i >= 0
    # FFC0 len(2) prec(1) h(2) w(2)
    data[i + 5 : i + 9] = (0x2000).to_bytes(2, "big") + (0x2000).to_bytes(2, "big")
    outcomes = _decode_both_paths(bytes(data))
    assert all(o == "ValueError" for o in outcomes), outcomes


def test_jpeg_codec_roundtrip_properties():
    from api_ocr_spark.imaging import jpeg
    rng = np.random.default_rng(1)
    img = rng.integers(0, 256, (37, 61)).astype(np.uint8)  # non-multiple-of-8 dims
    prev_psnr = 0.0
    for q in (15, 50, 75, 95):
        data = jpeg.encode_gray_jpeg(img, q)
        dec = jpeg.decode_gray_jpeg(data)
        assert dec.shape == img.shape and dec.dtype == np.uint8
        mse = float(((dec.astype(float) - img) ** 2).mean())
        psnr = 10 * np.log10(255**2 / max(mse, 1e-9))
        assert psnr > prev_psnr  # quality is monotone in PSNR
        prev_psnr = psnr
    # constant image survives exactly (DC-only blocks)
    flat = np.full((16, 24), 131, np.uint8)
    assert np.array_equal(jpeg.decode_gray_jpeg(jpeg.encode_gray_jpeg(flat, 75)), flat)


def test_ocr_exact_through_jpeg_roundtrip():
    """Lossy JPEG at qualities 95 and 85 preserves the binarized ink mask of
    rendered pages — measured property backing the jpg media-store path."""
    from api_ocr_spark.imaging import jpeg
    from api_ocr_spark.kernels import enhance as enh
    from api_ocr_spark.ocr import engine as eng
    page = render.render_text_image("the quick brown fox 12:30 jumps", "noisy", 7)
    for q in (95, 85):
        dec = jpeg.decode_gray_jpeg(jpeg.encode_gray_jpeg(page, q))
        assert eng.ocr_image(dec) == eng.ocr_image(page), q
        assert np.array_equal(enh.binarize_otsu(dec) > 0, enh.binarize_otsu(page) > 0)
