"""Glyph OCR engine: exact roundtrip per scenario, word/line semantics,
association scoring, the Catalyst postprocess extractors (SURVEY.md §5.2.2-3)."""

import numpy as np
import pytest

from api_ocr_spark.functions import text as T
from api_ocr_spark.imaging import png, render
from api_ocr_spark.kernels import checkbox as cbk
from api_ocr_spark.kernels import enhance
from api_ocr_spark.ocr import association, engine

CORPUS = [
    "the fast key order sort table scan merge part window small hash scan join",
    "a",
    "spark group query row data slow small filter customer line the batch value",
    "12:30 - 14:45 lunes 5 de enero de 2024",
    # punctuation-heavy sparse pages (regression: symmetric-noise skew
    # false-positive on ruled variants of these)
    "(ab) a-b a.b a,b a/b",
    "((x)) 1.5 2,5 3/4 -x-",
]


@pytest.mark.parametrize("scenario", render.SCENARIOS)
@pytest.mark.parametrize("seed", [1, 99])
def test_roundtrip_exact(scenario, seed):
    for text in CORPUS:
        want = " ".join(text.lower().split())
        img = render.render_text_image(text, scenario, seed=seed)
        # every pipeline mode caps before OCR; 'large' is exact only through
        # the factor-of-2 decimation cap (enhance.cap_max_dimension)
        img = enhance.cap_max_dimension(img, 1300)
        got = engine.ocr_image(png.decode_gray(png.encode_gray(img)))
        assert got.replace("\n", " ") == want, (scenario, seed, text)


def test_word_data_shape():
    img = render.render_text_image("ab cd", "plain", 0)
    words = engine.get_text_data(img)
    assert [w["text"] for w in words] == ["ab", "cd"]
    for w in words:
        assert w["conf"] > 30
        x, y, bw, bh = w["bbox"]
        assert bw > 0 and bh > 0
        assert w["line"] == 0


def test_group_words_into_lines_union_bbox_mean_conf():
    words = [
        {"text": "ab", "bbox": (0, 0, 10, 10), "conf": 80.0, "line": 0, "block": 0, "par": 0},
        {"text": "cd", "bbox": (20, 2, 10, 12), "conf": 60.0, "line": 0, "block": 0, "par": 0},
        {"text": "ef", "bbox": (0, 30, 10, 10), "conf": 90.0, "line": 1, "block": 0, "par": 0},
    ]
    lines = engine.group_words_into_lines(words)
    assert [ln["text"] for ln in lines] == ["ab cd", "ef"]
    assert lines[0]["bbox"] == (0, 0, 30, 14)  # union
    assert lines[0]["conf"] == 70.0  # mean
    assert len(lines[0]["words"]) == 2


def test_ocr_region_crop():
    img = render.render_text_image("abc", "plain", 0)
    h, w = img.shape
    assert engine.ocr_region(img, (0, 0, w, h)) == "abc"
    assert engine.ocr_region(img, (0, 0, 0, 0)) == ""


def test_multiline_reading_order():
    text = "first line words " * 4  # forces wrap at 32 chars
    img = render.render_text_image(text.strip(), "plain", 0)
    got = engine.ocr_image(img)
    assert got.split("\n") == render.wrap_text(text.strip())


# ----------------------------------------------------------- association

def test_score_association_reference_formula():
    cb = {"bbox": (0, 0, 20, 20)}  # center (10,10)
    line = {"text": "x", "bbox": (40, 0, 20, 20), "conf": 80.0}  # center (50,10)
    # dist=40 → max(0,100-20)=80; alignment |y_t-y_cb|=0<20 → +50; text fully
    # right (x_t=40 > x_cb+w_cb=20) → +20; font min(30,10)=10; conf/2=40
    # → total 200 → /2.6 (reference ocr/association.py:28-51)
    s = association.score_association(cb, line)
    assert abs(s - 200 / 2.6) < 1e-9


def test_score_association_soft_distance_decay():
    # no hard radius: a 300-px-away line still scores via the other terms
    cb = {"bbox": (0, 0, 10, 10)}
    line = {"text": "x", "bbox": (300, 0, 10, 10), "conf": 99.0}
    # dist=300 → max(0,100-150)=0; align +50; right +20; font 5; conf 49.5
    assert abs(association.score_association(cb, line) - 124.5 / 2.6) < 1e-9


def test_score_association_conf_defaults_to_70():
    cb = {"bbox": (0, 0, 20, 20)}
    no_conf = {"text": "x", "bbox": (40, 0, 20, 20)}
    with_70 = {"text": "x", "bbox": (40, 0, 20, 20), "conf": 70.0}
    assert association.score_association(cb, no_conf) == association.score_association(
        cb, with_70
    )


def test_score_association_edge_based_position():
    cb = {"bbox": (100, 0, 20, 20)}
    # straddles the checkbox's left edge (ends inside it): overlap → +10,
    # even though its center is left of the checkbox center
    straddle = {"text": "x", "bbox": (60, 0, 50, 20), "conf": 80.0}
    # fully left: ends before the checkbox starts → +30
    fully_left = {"text": "x", "bbox": (49, 0, 50, 20), "conf": 80.0}
    s1 = association.score_association(cb, straddle)
    s2 = association.score_association(cb, fully_left)
    # dist terms: straddle center (85,10) d=25 → 87.5; left center (74,10)
    # d=36 → 82; position difference (+10 vs +30) must dominate
    assert abs(s1 - (87.5 + 50 + 10 + 10 + 40) / 2.6) < 1e-9
    assert abs(s2 - (82.0 + 50 + 30 + 10 + 40) / 2.6) < 1e-9
    assert s2 > s1


def test_group_by_proximity_session_gap():
    cbs = [{"bbox": (0, y, 10, 10)} for y in (0, 10, 60, 65, 130)]
    groups = association.group_by_proximity(cbs, gap_threshold=30)
    assert [len(g) for g in groups] == [2, 2, 1]
    # reference default umbral_vertical = 50 (association.py:67): a 40-px
    # gap stays grouped at the default, splits at threshold 30
    cbs2 = [{"bbox": (0, y, 10, 10)} for y in (0, 40, 130)]
    assert [len(g) for g in association.group_by_proximity(cbs2)] == [2, 1]
    assert [len(g) for g in association.group_by_proximity(cbs2, gap_threshold=30)] == [1, 1, 1]


def test_radio_group_correction_keeps_max_conf():
    g = [
        {"bbox": (0, 0, 10, 10), "marked": True, "confidence": 40.0, "tipo": "circle"},
        {"bbox": (0, 12, 10, 10), "marked": True, "confidence": 70.0, "tipo": "circle"},
        {"bbox": (0, 24, 10, 10), "marked": False, "confidence": 0.0, "tipo": "circle"},
    ]
    association.correct_radio_groups([g])
    assert [cb["marked"] for cb in g] == [False, True, False]
    # the reference's `if cb != mejor` flags EVERY non-best member,
    # the never-marked one included (association.py:144-148)
    assert g[0].get("corregido") is True
    assert g[1].get("corregido") is None
    assert g[2].get("corregido") is True


def test_qa_pairs_drop_empty_text_and_average_confianza():
    cbs = [{"bbox": (0, 0, 20, 20), "marked": True, "confidence": 60.0, "tipo": "square"}]
    # no text lines at all → associated text '' → pair dropped (ref :150-155)
    assert association.build_question_answer_pairs(cbs, []) == []
    line = {"text": "si", "bbox": (40, 0, 20, 20), "conf": 80.0}
    qa = association.build_question_answer_pairs(cbs, [line])
    assert len(qa) == 1
    # confianza = (detection confidence + association confidence) / 2
    assoc = association.score_association(cbs[0], line)
    assert abs(qa[0]["confianza"] - (60.0 + assoc) / 2) < 1e-9


def _overlaps(a, b):
    ax, ay, aw, ah = a
    bx, by, bw, bh = b
    return ax < bx + bw and bx < ax + aw and ay < by + bh and by < ay + ah


def test_checkbox_qa_end_to_end():
    img, layout = render.render_checkbox_form(
        [("acepta", True, "square"), ("rechaza", False, "circle")])
    b = enhance.binarize_otsu(img)
    cbs = cbk.detect_checkboxes(b)
    words = [w for w in engine.get_text_data(img)
             if not any(_overlaps(w["bbox"], c["bbox"]) for c in cbs)]
    qa = association.build_question_answer_pairs(cbs, engine.group_words_into_lines(words))
    assert [(p["pregunta"], p["respuesta"]) for p in qa] == [
        ("acepta", "marcado"), ("rechaza", "no marcado")]


def test_radio_form_correction_end_to_end():
    img, _ = render.render_checkbox_form(
        [("si", True, "circle"), ("no", True, "circle")], row_pitch=24)
    b = enhance.binarize_otsu(img)
    cbs = cbk.detect_checkboxes(b)
    words = [w for w in engine.get_text_data(img)
             if not any(_overlaps(w["bbox"], c["bbox"]) for c in cbs)]
    qa = association.build_question_answer_pairs(cbs, engine.group_words_into_lines(words))
    assert sum(p["respuesta"] == "marcado" for p in qa) == 1
    assert any(p["corregido_por_grupo"] for p in qa)


def test_inciso_detection_end_to_end():
    img, layout = render.render_form(
        [{"label": "opcion", "marked": False, "kind": "inciso", "y": 0,
          "inciso_char": "d"}])
    b = enhance.binarize_otsu(img)
    cbs = cbk.detect_checkboxes(b)
    incisos = [c for c in cbs if c["tipo"] == "inciso"]
    assert len(incisos) == 1
    assert incisos[0]["text"] == "(d)"
    assert incisos[0]["marked"] is False
    assert incisos[0]["confidence"] == 100.0
    words = [w for w in engine.get_text_data(img)
             if not any(_overlaps(w["bbox"], c["bbox"]) for c in cbs)]
    qa = association.build_question_answer_pairs(cbs, engine.group_words_into_lines(words))
    got = [(p["pregunta"], p["respuesta"], p["tipo"]) for p in qa
           if p["tipo"] == "inciso"]
    assert got == [("opcion", "no marcado", "inciso")]


def test_inciso_rejects_non_pattern_components():
    # a lone elongated dash-like strip passes the aspect/area gate but its
    # OCR does not match ^\([a-zA-Z0-9]\)$ → not an inciso
    import numpy as np
    img = np.full((40, 80), 230, dtype=np.uint8)
    img[18:21, 10:60] = 30
    cbs = cbk.detect_checkboxes(enhance.binarize_otsu(img))
    assert cbs == []


def test_far_label_associates_via_soft_decay():
    # label center ~145-190 px away: inside the reference's soft decay
    # reach, outside any hard 100-px cutoff
    img, _ = render.render_form(
        [{"label": "lejos", "marked": True, "kind": "square", "y": 0,
          "label_dx": 140}])
    b = enhance.binarize_otsu(img)
    cbs = cbk.detect_checkboxes(b)
    words = [w for w in engine.get_text_data(img)
             if not any(_overlaps(w["bbox"], c["bbox"]) for c in cbs)]
    qa = association.build_question_answer_pairs(cbs, engine.group_words_into_lines(words))
    assert [(p["pregunta"], p["respuesta"]) for p in qa] == [("lejos", "marcado")]


def test_orphan_checkbox_emits_no_pair():
    img, _ = render.render_form(
        [{"label": None, "marked": True, "kind": "square", "y": 0}])
    b = enhance.binarize_otsu(img)
    cbs = cbk.detect_checkboxes(b)
    assert len(cbs) == 1
    words = [w for w in engine.get_text_data(img)
             if not any(_overlaps(w["bbox"], c["bbox"]) for c in cbs)]
    qa = association.build_question_answer_pairs(cbs, engine.group_words_into_lines(words))
    assert qa == []


# ----------------------------------------------------------- postprocess

_ESTRUCTURAR = "clase lunes 12:30\nnota: ver 5 de enero de 2024"
# (expression, input, expected) per extractor of functions/text.py
_EXTRACTOR_CASES = {
    # Java \s collapses newlines too: the texto_limpio deviation from the
    # reference's clean_text, which kept one '\n' per blank-line run
    "normalize_ws": [(T.normalize_ws, "a  b\n\n  \nc\t d ", "a b c d")],
    "limpiar_texto_ocr_col": [
        (T.limpiar_texto_ocr_col, "25* C", "25° C"),
        (T.limpiar_texto_ocr_col, "30%", "30°"),
        (T.limpiar_texto_ocr_col, "3,5 | x", "3.5 x"),
    ],
    "horarios_str": [(T.horarios_str, "clase 12:30 - 14:45 y 9:00 am",
                      "12:30,12:30 - 14:45,14:45,9:00 am")],
    "dias_str": [(T.dias_str, "Lunes y martes 15 vamos", "lunes,martes,martes 15")],
    # lowercases its input (documented), so MARZO comes back as marzo
    "fechas_str": [(T.fechas_str, "el 5 de enero de 2024 y el 7 de MARZO de 2025",
                    "5 de enero de 2024,7 de marzo de 2025")],
    "materiales_str": [
        (T.materiales_str, "los alumnos deben traer lapiz, papel y regla. fin",
         "lapiz,papel y regla"),
        # faithful reference quirks: the capture stops at a newline, and a
        # colon right after 'traer' stays in the first item
        (T.materiales_str, "deben traer lapiz, papel\ny regla.", "lapiz,papel"),
        (T.materiales_str, "deben traer: a, b", ": a,b"),
        (T.materiales_str, "no hay lista", ""),
    ],
    "notas_str": [(T.notas_str, "linea normal\nNota: traer agua\nasisten el día lunes",
                   "Nota: traer agua asisten el día lunes")],
    # the reference's `weekday \d{1,2}` regex also catches 'lunes 12' from
    # the time '12:30' (\b splits at the colon) — faithful semantics
    "estructurar_texto": [
        (T.horarios_str, _ESTRUCTURAR, "12:30"),
        (T.dias_str, _ESTRUCTURAR, "lunes,lunes 12"),
        (T.fechas_str, _ESTRUCTURAR, "5 de enero de 2024"),
    ],
}


@pytest.mark.parametrize("cases", _EXTRACTOR_CASES.values(), ids=_EXTRACTOR_CASES.keys())
def test_text_extractors(spark, cases):
    """The postprocess extractors the text oracle queries run, evaluated by
    Spark over column data: row j holds case j's input, column j its
    expression."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(s,) for _, s, _ in cases], "s string")
    rows = df.select(*[fn(F.col("s")).alias(f"c{j}") for j, (fn, _, _) in enumerate(cases)]
                     ).collect()
    assert [rows[j][j] for j in range(len(cases))] == [want for _, _, want in cases]
