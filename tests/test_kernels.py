"""Numpy kernel library vs hand-computed expectations (SURVEY.md §5.2.2)."""

import numpy as np

from api_ocr_spark.imaging import render
from api_ocr_spark.kernels import checkbox as cbk
from api_ocr_spark.kernels import detection, enhance


def test_otsu_bimodal():
    img = np.array([[30] * 50 + [230] * 50], np.uint8)
    t = enhance.otsu_threshold(img)
    assert 30 <= t < 230
    b = enhance.binarize_otsu(img)
    assert (b[0, :50] == 255).all() and (b[0, 50:] == 0).all()


def test_binarize_methods_exact_on_render():
    img = render.render_text_image("the fast order", "plain", 1)
    assert np.array_equal(enhance.binarize_otsu(img) > 0, img < 128)


def test_box_sum_matches_naive():
    rng = np.random.default_rng(0)
    a = rng.integers(0, 255, (12, 15)).astype(np.float64)
    win, r = 5, 2
    p = np.pad(a, r, mode="edge")
    naive = np.array([[p[y : y + win, x : x + win].sum() for x in range(15)] for y in range(12)])
    assert np.allclose(enhance._box_sum(a, win), naive)
    # uint8 input takes the integer-cumsum path — must match the float path
    u8 = rng.integers(0, 256, (12, 15)).astype(np.uint8)
    assert np.array_equal(
        np.asarray(enhance._box_sum(u8, win), np.float64),
        enhance._box_sum(u8.astype(np.float64), win),
    )


def test_box_sum_uint8_above_int32_bound():
    # 3000x3000 of 255: padded total 255*pad.size > 2^31 — the int32 cumsum
    # would wrap; the accumulator must widen to int64 and stay exact.
    big = np.full((3000, 3000), 255, np.uint8)
    win = 15
    got = enhance._box_sum(big, win)
    assert got.dtype == np.int64
    # constant image with edge replication: every window sums to 255*win*win
    assert got.min() == got.max() == 255 * win * win


def test_skew_estimate_exact_inverse_tall():
    # multi-line image: enough rows for the column profile to pin the angle
    text = "spark filter merge join sort window hash scan part order value row"
    base = render.render_text_image(text, "plain", 0)
    for deg in render.SKEW_DEGREES:
        skewed = render._apply_skew(base, deg)
        est = enhance.estimate_skew(enhance.binarize_otsu(skewed))
        assert est == deg, (deg, est)


def test_skew_recovery_pixel_exact_short():
    # On short images adjacent integer angles can produce the same discrete
    # shift pattern in the text band; what must hold is pixel-exact recovery
    # of the glyph ink, not the angle label.
    base = render.render_text_image("spark filter merge join", "plain", 0)
    truth = enhance.binarize_otsu(base) > 0
    for deg in render.SKEW_DEGREES:
        skewed = render._apply_skew(base, deg)
        recovered, _, _, _ = enhance.deskew_binary_ink(skewed)
        rec_ink = enhance.binarize_otsu(recovered) > 0
        ys, xs = np.nonzero(rec_ink)
        tys, txs = np.nonzero(truth)
        # identical ink pattern modulo the uniform horizontal pad offset
        assert np.array_equal(ys, tys)
        assert len(set(xs - txs)) == 1


def test_correct_skew_noop_below_half_degree():
    img = render.render_text_image("plain text here", "plain", 0)
    out, _, _, deg = enhance.deskew_binary_ink(img)
    assert deg == 0.0 and out is img


def test_area_budget_resize():
    img = np.zeros((1024, 2048), np.uint8)  # 2 MiB at 1 byte/px
    out = enhance.area_budget_resize(img, 0.5)
    assert out.shape[0] * out.shape[1] <= 0.5 * 1024 * 1024
    same = enhance.area_budget_resize(img, 4.0)
    assert same.shape == img.shape


def test_cap_max_dimension():
    img = np.zeros((100, 400), np.uint8)
    out = enhance.cap_max_dimension(img, 200)
    assert max(out.shape) == 200
    assert enhance.cap_max_dimension(img, 500).shape == img.shape
    # the ladder halves until under the cap: (100, 200) at 120 → (50, 100)
    assert enhance.cap_max_dimension(np.zeros((100, 200), np.uint8), 120).shape == (50, 100)


def test_label_components_and_stats():
    m = np.zeros((10, 10), np.uint8)
    m[1:3, 1:3] = 255  # blob A 2x2
    m[6:9, 5:9] = 255  # blob B 3x4
    stats = sorted(detection.connected_components_stats(m), key=lambda s: s["area"])
    assert len(stats) == 2
    assert stats[0] == {"bbox": (1, 1, 2, 2), "area": 4}
    assert stats[1] == {"bbox": (5, 6, 4, 3), "area": 12}


def test_label_components_u_shape_merges():
    # U-shape: two prongs joined at the bottom — must unify into one label
    m = np.zeros((5, 5), np.uint8)
    m[0:4, 0] = 255
    m[0:4, 4] = 255
    m[4, :] = 255
    assert len(detection.connected_components_stats(m)) == 1


def test_rule_rows_and_cols():
    img = render.render_text_image("abc def", "ruled", 0)
    b = enhance.binarize_otsu(img)
    rr = detection.rule_rows(b)
    assert rr.sum() >= render.MIN_RULES * render.RULE_THICKNESS
    boxed = render.render_text_image("abc", "boxed", 0)
    bb = enhance.binarize_otsu(boxed) > 0
    assert detection.rule_cols(bb).sum() >= 2 * render.RULE_THICKNESS


def test_horizontal_line_census_routes_tables():
    ruled = render.render_text_image("abc def", "ruled", 0)
    n = detection.count_horizontal_lines(enhance.binarize_otsu(ruled))
    assert n > 10  # reference table-route threshold (/root/reference/main.py:291)
    plain = render.render_text_image("abc def", "plain", 0)
    assert detection.count_horizontal_lines(enhance.binarize_otsu(plain)) == 0


def test_detect_tables_boxed():
    # long text → >=5 wrapped lines → box taller than the reference's h>100 gate
    img = render.render_text_image(
        "inside the box text with many more words to wrap into several lines "
        "so the bordered region is taller than one hundred pixels", "boxed", 0)
    tables = detection.detect_tables(enhance.binarize_otsu(img))
    assert len(tables) == 1
    x, y, w, h = tables[0]["bbox"]
    assert x == 0 and y == 0 and w == img.shape[1] and h == img.shape[0]
    assert 0 < tables[0]["confidence"] <= 1.0


def test_segment_regions_classifies_text():
    img = render.render_text_image("lots of text words here to make a region", "plain", 0)
    regions = detection.segment_regions(enhance.binarize_otsu(img))
    assert regions, "no regions found"
    assert all(r["type"] in ("text", "line", "image") for r in regions)
    # reading order (y, x)
    ys = [r["bbox"][1] for r in regions]
    assert ys == sorted(ys)


def test_bbox_containment():
    assert detection.contains((0, 0, 10, 10), (2, 2, 3, 3))
    assert not detection.contains((0, 0, 10, 10), (8, 8, 5, 5))


def test_checkbox_detection_kinds_and_marks():
    img, layout = render.render_checkbox_form(
        [("aaa", True, "square"), ("bbb", False, "circle"), ("ccc", True, "circle"),
         ("ddd", False, "square")])
    got = cbk.detect_checkboxes(enhance.binarize_otsu(img))
    assert len(got) == len(layout)
    for g, want in zip(got, layout):
        assert g["tipo"] == want["kind"]
        assert g["marked"] == want["marked"]
        assert g["bbox"] == want["bbox"]


def test_is_checkbox_marked_proportion():
    ink = np.zeros((20, 20), bool)
    marked, conf = cbk.is_checkbox_marked(ink, (0, 0, 20, 20))
    assert not marked and conf == 0.0
    ink[8:12, 8:12] = True  # 16 px in a 12x12 interior = 0.111 > 0.1
    marked, conf = cbk.is_checkbox_marked(ink, (0, 0, 20, 20))
    assert marked and conf > 10
