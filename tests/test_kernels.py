"""Numpy kernel library vs hand-computed expectations (SURVEY.md §5.2.2)."""

import numpy as np

from api_ocr_spark.imaging import render
from api_ocr_spark.kernels import checkbox as cbk
from api_ocr_spark.kernels import detection, enhance


def test_sauvola_formula_small_array():
    # 5x5 constant image: s=0 → T = m*(1 + k*(0/R - 1)) = m*(1-k)
    img = np.full((5, 5), 100, np.uint8)
    t = enhance.sauvola_threshold_map(img, window=3, k=0.2, r=128.0)
    assert np.allclose(t, 100 * (1 - 0.2))


def test_otsu_bimodal():
    img = np.array([[30] * 50 + [230] * 50], np.uint8)
    t = enhance.otsu_threshold(img)
    assert 30 <= t < 230
    b = enhance.binarize_otsu(img)
    assert (b[0, :50] == 255).all() and (b[0, 50:] == 0).all()


def test_binarize_methods_exact_on_render():
    img = render.render_text_image("the fast order", "plain", 1)
    truth = img < 128
    for m in ("otsu", "adaptive", "adaptive_gaussian", "sauvola", "auto"):
        got = enhance.binarize(img, m) > 0
        assert np.array_equal(got, truth), m


def test_adaptive_gaussian_matches_hand_computed_window():
    """Gaussian local mean vs an explicit double loop with the same OpenCV
    sigma rule and reflect-101 borders, on a small random array."""
    rng = np.random.default_rng(5)
    img = rng.integers(0, 255, (9, 11)).astype(np.uint8)
    win, r, c = 5, 2, 2
    sigma = 0.3 * ((win - 1) * 0.5 - 1) + 0.8
    x = np.arange(win) - (win - 1) / 2
    k1 = np.exp(-(x * x) / (2 * sigma * sigma))
    k1 /= k1.sum()
    k2 = np.outer(k1, k1)
    p = np.pad(img.astype(np.float64), r, mode="reflect")
    naive = np.array(
        [[(p[y : y + win, x0 : x0 + win] * k2).sum() for x0 in range(11)] for y in range(9)]
    )
    got = enhance.binarize_adaptive_gaussian(img, window=win, c=c) > 0
    want = img.astype(np.float64) < naive - c
    assert np.array_equal(got, want)
    # constant image: mean == value -> value < value - c is False everywhere
    flat = np.full((7, 7), 90, np.uint8)
    assert not (enhance.binarize_adaptive_gaussian(flat, window=win, c=c) > 0).any()


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


def _area_resample_naive(a, new_h, new_w):
    """Brute-force fractional box mean — the definition resize_area must
    match: output (i, j) = mean of a over [i*rh,(i+1)*rh) x [j*rw,(j+1)*rw)."""
    h, w = a.shape
    rh, rw = h / new_h, w / new_w
    out = np.empty((new_h, new_w))
    for i in range(new_h):
        for j in range(new_w):
            y0, y1 = i * rh, (i + 1) * rh
            x0, x1 = j * rw, (j + 1) * rw
            acc = 0.0
            for y in range(int(np.floor(y0)), int(np.ceil(y1))):
                wy = min(y + 1, y1) - max(y, y0)
                for x in range(int(np.floor(x0)), int(np.ceil(x1))):
                    wx = min(x + 1, x1) - max(x, x0)
                    acc += a[y, x] * wy * wx
            out[i, j] = acc / (rh * rw)
    return out


def test_resize_area_matches_fractional_box_mean():
    rng = np.random.default_rng(3)
    a = rng.random((13, 17)) * 255
    got = enhance.resize_area(a, 5, 7)
    assert np.allclose(got, _area_resample_naive(a, 5, 7), atol=1e-9)
    # integer factor: exact 2x2 block means
    b = rng.random((12, 14)) * 255
    got2 = enhance.resize_area(b, 6, 7)
    want2 = b.reshape(6, 2, 7, 2).mean(axis=(1, 3))
    assert np.allclose(got2, want2, atol=1e-9)
    # uint8 in, uint8 out; constant image stays constant
    const = np.full((30, 40), 173, np.uint8)
    out = enhance.resize_area(const, 11, 13)
    assert out.dtype == np.uint8 and (out == 173).all()


def test_resize_reference_dispatch_and_cap_area_mode():
    img = np.random.default_rng(0).integers(0, 256, (100, 200)).astype(np.uint8)
    capped = enhance.cap_max_dimension(img, 120, mode="area")
    assert max(capped.shape) <= 120
    # aspect preserved within rounding
    assert abs(capped.shape[1] / capped.shape[0] - 2.0) < 0.1
    # default ladder unchanged: powers of two until under the cap
    assert enhance.cap_max_dimension(img, 120).shape == (50, 100)


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


def test_median3():
    img = np.full((5, 5), 200, np.uint8)
    img[2, 2] = 0  # lone speck
    assert enhance.median3(img)[2, 2] == 200


def test_area_budget_resize():
    img = np.zeros((1024, 2048), np.uint8)  # 2 MiB at 1 byte/px
    out = enhance.area_budget_resize(img, 0.5)
    assert out.shape[0] * out.shape[1] <= 0.5 * 1024 * 1024
    same = enhance.area_budget_resize(img, 4.0)
    assert same.shape == img.shape


def test_gaussian5_matches_hand_computed():
    # single bright pixel on black: the response IS the outer product of
    # [1,4,6,4,1]/16 with itself, scaled by 160 and rounded
    img = np.zeros((9, 9), np.uint8)
    img[4, 4] = 160
    out = enhance.gaussian5(img)
    k = np.array([1, 4, 6, 4, 1]) / 16.0
    want = np.floor(np.outer(k, k) * 160 + 0.5).astype(np.uint8)
    assert (out[2:7, 2:7] == want).all()
    assert out[0, 0] == 0 and out.dtype == np.uint8
    # constant image is a fixed point (kernel sums to 1, reflect border)
    flat = np.full((6, 7), 137, np.uint8)
    assert (enhance.gaussian5(flat) == 137).all()
    # dispatch
    assert (enhance.remove_noise(flat, "gaussian") == 137).all()
    # hand-computed 5x5 on a step edge row: [0,0,0,255,255] with reflect-101
    # padding -> [0,0,0,255,255,255,0? no] ... compute a 1-row case exactly
    row = np.array([[0, 0, 0, 255, 255]], np.uint8)
    got = enhance.gaussian5(row)
    # vertical pass is identity (reflect of a 1-row image repeats the row);
    # horizontal: padded row = [0,0, 0,0,0,255,255, 255,0]... np.pad reflect
    # of [0,0,0,255,255] is [0,0, 0,0,0,255,255, 0,255]
    padded = np.pad(np.array([0, 0, 0, 255, 255.0]), 2, mode="reflect")
    want_row = np.floor(np.convolve(padded, np.array([1, 4, 6, 4, 1]) / 16.0,
                                    "valid") + 0.5).astype(np.uint8)
    assert (got[0] == want_row).all()


def test_cap_max_dimension():
    img = np.zeros((100, 400), np.uint8)
    out = enhance.cap_max_dimension(img, 200)
    assert max(out.shape) == 200
    assert enhance.cap_max_dimension(img, 500).shape == img.shape


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
         ("ddd", False, "square")], seed=0)
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


def test_bilateral9_properties():
    # constant image is a fixed point (weights normalize)
    flat = np.full((12, 11), 140, np.uint8)
    assert (enhance.bilateral9(flat) == 140).all()
    # hand-computed 1x2-ish case: two-pixel difference, check against the
    # explicit Tomasi-Manduchi sum at the (5,5) center of a step image
    img = np.full((11, 11), 100, np.uint8)
    img[:, 6:] = 200
    out = enhance.bilateral9(img)
    x = img.astype(float)
    acc = norm = 0.0
    for dy in range(-4, 5):
        for dx in range(-4, 5):
            v = x[5 + dy, min(max(5 + dx, 0), 10)]
            w = np.exp(-((v - x[5, 5]) ** 2) / (2 * 75.0**2) - (dy * dy + dx * dx) / (2 * 75.0**2))
            acc += w * v
            norm += w
    assert out[5, 5] == np.floor(acc / norm + 0.5)
    # edge preservation: the step edge stays sharper than under gaussian5
    g = enhance.gaussian5(img)
    assert abs(int(out[5, 5]) - 100) < abs(int(g[5, 5]) - 100) or out[5, 5] == g[5, 5]


def test_nlmeans_properties():
    rng = np.random.default_rng(3)
    flat = np.full((30, 30), 90, np.uint8)
    assert (enhance.nlmeans(flat) == 90).all()  # constant fixed point
    # denoises: a speckled constant image moves closer to the constant
    noisy = flat.astype(int) + rng.integers(-25, 26, flat.shape)
    noisy = np.clip(noisy, 0, 255).astype(np.uint8)
    den = enhance.nlmeans(noisy)
    err_before = np.abs(noisy.astype(int) - 90).mean()
    err_after = np.abs(den.astype(int) - 90).mean()
    assert err_after < err_before / 2
    # self-similarity: repeating texture is preserved better than blurring
    assert den.dtype == np.uint8


def test_remove_noise_dispatch_all_methods():
    img = np.full((20, 20), 120, np.uint8)
    for m in ("median", "gaussian", "bilateral", "nlmeans", "none"):
        out = enhance.remove_noise(img, m)
        assert out.shape == img.shape and out.dtype == np.uint8
