"""Pure-numpy preprocessing kernels.

Re-implements the semantics of the reference's OpenCV kernel library
(/root/reference/preprocessing/enhance.py) without OpenCV: Otsu /
adaptive-mean / Sauvola binarization (enhance.py:75-118), shadow removal
(enhance.py:121-128), denoise (enhance.py:43-63) and skew correction
(enhance.py:17-40). The reference's composed `deskew_and_clean` chain
(enhance.py:142-162) is `ocr/engine.best_deskew` here.

Skew model: the renderer applies a discrete per-row shear
shift(y)=round(tan(deg)*(y-h/2)); `deskew_binary_ink` searches the same
discrete family, so deskew is an exact inverse (SURVEY.md §5 determinism
pinning).
These run inside Arrow-batched `mapInPandas` stages — a Python-level loop per
image whose inner work is vectorized numpy — never per-row Python UDFs.
"""

from __future__ import annotations

import numpy as np

BINARY_INK = 255  # binarized images are {0,255} with ink=255 (inverted),
                  # matching the reference's THRESH_BINARY_INV usage in
                  # detection (/root/reference/preprocessing/detection.py:17)


def _box_sum(a: np.ndarray, win: int) -> np.ndarray:
    """Sliding win×win sum with edge replication, via 2-D cumsum. O(n).

    Bandwidth-aware dtype: uint8 input cumsums in int32 when exactness is
    provable (total image sum bounded by 255·npixels < 2³¹, i.e. below ~8.4
    megapixels — typical document pages) at half the bytes of float64, and
    falls back to int64 above that (a 3000×3500 scan would silently wrap
    int32); float32 would NOT be exact either way: cumsum magnitudes pass
    2²⁴ on megapixel pages and the window difference loses low bits. Float
    input (the g·g square-sum path) keeps float64."""
    r = win // 2
    pad = np.pad(a, r, mode="edge")
    h, w = a.shape
    if pad.dtype == np.uint8:
        acc = np.int32 if pad.size * 255 < 2**31 else np.int64
        c = pad.cumsum(axis=0, dtype=acc).cumsum(axis=1, dtype=acc)
    else:
        c = np.cumsum(np.cumsum(pad.astype(np.float64), axis=0), axis=1)
    c = np.pad(c, ((1, 0), (1, 0)))
    return (
        c[win : win + h, win : win + w]
        - c[:h, win : win + w]
        - c[win : win + h, :w]
        + c[:h, :w]
    )


def otsu_threshold(gray: np.ndarray) -> int:
    """Classic Otsu between-class variance maximization on the 256-bin hist."""
    hist = np.bincount(gray.ravel(), minlength=256).astype(np.float64)
    total = hist.sum()
    if total == 0:
        return 127
    omega = np.cumsum(hist)
    mu = np.cumsum(hist * np.arange(256))
    mu_t = mu[-1]
    with np.errstate(divide="ignore", invalid="ignore"):
        sigma_b = (mu_t * omega - mu * total) ** 2 / (omega * (total - omega))
    sigma_b[~np.isfinite(sigma_b)] = -1
    return int(np.argmax(sigma_b))


_U255 = np.uint8(BINARY_INK)
_U0 = np.uint8(0)


def binarize_otsu(gray: np.ndarray) -> np.ndarray:
    """Otsu global threshold, inverted: ink(dark) → 255. np.where with uint8
    scalars keeps the whole pass at 1 byte/px (a bare np.where(c, 255, 0)
    materializes an int64 image — 8 bytes/px — then casts it back)."""
    t = otsu_threshold(gray)
    return np.where(gray <= t, _U255, _U0)


def binarize_adaptive(gray: np.ndarray, window: int = 25, c: int = 10) -> np.ndarray:
    """Adaptive-mean threshold (reference uses ADAPTIVE_THRESH_GAUSSIAN_C,
    enhance.py:110-113; mean-box is the numpy-tractable equivalent): pixel is
    ink iff value < local_mean - c. Inverted output."""
    # integer comparison: gray < mean − c  ⇔  gray·win² < boxsum − c·win²
    # (exact int32 arithmetic, no float64 image temporaries)
    n = window * window
    thresh = _box_sum(gray, window) - c * n
    return np.where(gray.astype(np.int32) * n < thresh, _U255, _U0)


def _gaussian_kernel1d(win: int, sigma: float | None = None) -> np.ndarray:
    """Normalized 1-D gaussian taps; default sigma is OpenCV's
    getGaussianKernel rule σ = 0.3·((win−1)/2 − 1) + 0.8."""
    if sigma is None:
        sigma = 0.3 * ((win - 1) * 0.5 - 1) + 0.8
    x = np.arange(win, dtype=np.float64) - (win - 1) / 2
    k = np.exp(-(x * x) / (2.0 * sigma * sigma))
    return k / k.sum()


def _gaussian_local_mean(gray: np.ndarray, win: int, sigma: float | None = None) -> np.ndarray:
    """Separable gaussian-weighted local mean (the gaussian5 machinery
    generalized to any window), float32 accumulation, reflect-101 borders."""
    k = _gaussian_kernel1d(win, sigma).astype(np.float32)
    r = win // 2
    x = np.pad(gray.astype(np.float32), r, mode="reflect")
    rows = sum(w * x[:, i : x.shape[1] - win + 1 + i] for i, w in enumerate(k))
    return sum(w * rows[i : rows.shape[0] - win + 1 + i, :] for i, w in enumerate(k))


def binarize_adaptive_gaussian(gray: np.ndarray, window: int = 15, c: int = 2) -> np.ndarray:
    """Gaussian-weighted adaptive threshold — the reference's
    ADAPTIVE_THRESH_GAUSSIAN_C with its blockSize=15, C=2 defaults
    (/root/reference/preprocessing/enhance.py:110-113): pixel is ink iff
    value < gaussian_local_mean − c. Output INVERTED (ink=255, the engine
    convention; the reference passes THRESH_BINARY, i.e. background=255 —
    the same decision boundary, complementary encoding). Closes the last
    documented binarization delta; mean-box stays the 'adaptive' default."""
    mean = _gaussian_local_mean(gray, window)
    return np.where(gray.astype(np.float32) < mean - c, BINARY_INK, 0).astype(np.uint8)


def sauvola_threshold_map(gray: np.ndarray, window: int = 25, k: float = 0.2, r: float = 128.0) -> np.ndarray:
    """Sauvola local threshold T = m*(1 + k*((s/R) - 1)); box-filter mean and
    sq-mean exactly as the reference computes them (enhance.py:75-102)."""
    g = gray.astype(np.float64)
    n = float(window * window)
    m = _box_sum(g, window) / n
    m2 = _box_sum(g * g, window) / n
    s = np.sqrt(np.maximum(m2 - m * m, 0.0))
    return m * (1.0 + k * ((s / r) - 1.0))


def binarize_sauvola(gray: np.ndarray, window: int = 25, k: float = 0.2, r: float = 128.0) -> np.ndarray:
    t = sauvola_threshold_map(gray, window, k, r)
    return np.where(gray < t, _U255, _U0)


def binarize(gray: np.ndarray, method: str = "auto") -> np.ndarray:
    """Dispatch mirroring the reference's auto rule (enhance.py:105-118,
    deskew_and_clean picks sauvola if mean<200 else adaptive, :153-156)."""
    if method == "otsu":
        return binarize_otsu(gray)
    if method == "adaptive":
        return binarize_adaptive(gray)
    if method == "adaptive_gaussian":
        return binarize_adaptive_gaussian(gray)
    if method == "sauvola":
        return binarize_sauvola(gray)
    if method == "auto":
        return binarize_sauvola(gray) if gray.mean() < 200 else binarize_adaptive(gray)
    raise ValueError(f"unknown binarization method {method!r}")


def remove_shadows(gray: np.ndarray, window: int = 21) -> np.ndarray:
    """Illumination flattening: estimate background by a large box blur of the
    image with ink suppressed, subtract, renormalize. Functional equivalent of
    the reference's dilate→medianBlur→absdiff→normalize (enhance.py:121-128)."""
    g = gray.astype(np.float64)
    bg = _box_sum(gray, window) / float(window * window)  # int32 cumsum path
    bg = np.maximum(bg, g)  # background is at least as bright as the pixel
    flat = 255.0 - np.minimum(255.0, bg - g)
    lo, hi = flat.min(), flat.max()
    if hi > lo:
        flat = (flat - lo) * (255.0 / (hi - lo))
    return flat.astype(np.uint8)


def median3(gray: np.ndarray) -> np.ndarray:
    """3×3 median filter (reference default is fastNlMeansDenoising,
    enhance.py:49-50; median is its deterministic numpy stand-in — the
    'median' alt the reference also offers at enhance.py:55-56)."""
    p = np.pad(gray, 1, mode="edge")
    stack = np.stack([p[dy : dy + gray.shape[0], dx : dx + gray.shape[1]]
                      for dy in range(3) for dx in range(3)])
    return np.median(stack, axis=0).astype(np.uint8)


GAUSS5 = np.array([1.0, 4.0, 6.0, 4.0, 1.0]) / 16.0  # binomial 5-tap


def gaussian5(gray: np.ndarray) -> np.ndarray:
    """Separable 5x5 gaussian blur — the reference's
    cv2.GaussianBlur(gray, (5,5), 0) (/root/reference/preprocessing/
    enhance.py:56-57). With ksize=5 and sigma=0 OpenCV uses the fixed
    binomial kernel [1,4,6,4,1]/16 and BORDER_REFLECT_101; both are
    reproduced here (np.pad mode='reflect' IS reflect-101), row pass then
    column pass, round-half-away like OpenCV's fixed-point rounding."""
    x = gray.astype(np.float64)
    x = np.pad(x, ((2, 2), (2, 2)), mode="reflect")
    rows = sum(w * x[:, i : x.shape[1] - 4 + i] for i, w in enumerate(GAUSS5))
    cols = sum(w * rows[i : rows.shape[0] - 4 + i, :] for i, w in enumerate(GAUSS5))
    return np.floor(cols + 0.5).astype(np.uint8)


def bilateral9(gray: np.ndarray, sigma_color: float = 75.0,
               sigma_space: float = 75.0) -> np.ndarray:
    """Bilateral filter, 9x9 window — the reference's
    cv2.bilateralFilter(gray, 9, 75, 75) (/root/reference/preprocessing/
    enhance.py:60-61) as the standard Tomasi-Manduchi formula: per-offset
    spatial gaussian × per-pixel range gaussian, normalized. Vectorized as
    an 81-offset shift-stack over a reflect-101-padded image (no per-pixel
    Python). Formula-level reproduction (cv2's fixed-point LUT rounding is
    not bit-reproduced — documented)."""
    r = 4  # d=9 → radius 4 (cv2 uses radius = d//2)
    x = gray.astype(np.float64)
    p = np.pad(x, r, mode="reflect")
    h, w = x.shape
    acc = np.zeros_like(x)
    norm = np.zeros_like(x)
    inv2sc = -0.5 / (sigma_color * sigma_color)
    inv2ss = -0.5 / (sigma_space * sigma_space)
    for dy in range(-r, r + 1):
        for dx in range(-r, r + 1):
            shifted = p[r + dy : r + dy + h, r + dx : r + dx + w]
            wgt = np.exp((shifted - x) ** 2 * inv2sc + (dy * dy + dx * dx) * inv2ss)
            acc += wgt * shifted
            norm += wgt
    return np.floor(acc / norm + 0.5).astype(np.uint8)


def _box_sum_valid(x: np.ndarray, r: int) -> np.ndarray:
    """(2r+1)² neighborhood sum, 'valid' mode: input (H, W) → output
    (H−2r, W−2r), via 2-D cumulative sums (O(N) regardless of r)."""
    c = np.zeros((x.shape[0] + 1, x.shape[1] + 1))
    c[1:, 1:] = x.cumsum(axis=0).cumsum(axis=1)
    k = 2 * r + 1
    return c[k:, k:] - c[:-k, k:] - c[k:, :-k] + c[:-k, :-k]


def nlmeans(gray: np.ndarray, h: float = 30.0, template: int = 7,
            search: int = 21) -> np.ndarray:
    """Non-local means (Buades et al.) with the reference's
    cv2.fastNlMeansDenoising(gray, h=30, templateWindowSize=7,
    searchWindowSize=21) parameterization (/root/reference/preprocessing/
    enhance.py:52-55): for each of the 21²−1 search offsets, the 7×7 patch
    SSD is computed for EVERY pixel at once (shifted squared-difference
    image + O(N) box filter), weight = exp(−SSD/(h²·patchArea)), output is
    the weight-normalized average. Formula-level reproduction of the
    algorithm (cv2's fast variant adds LUT quantization — not bit-level).

    Cost: ~search² full-image passes — a real but deliberately heavyweight
    operator (the reference made it the DEFAULT denoise for every request,
    which is part of why it needed 45-130 s timeouts); the engine default
    stays median (sweep-proven exact)."""
    tr = template // 2
    sr = search // 2
    x = gray.astype(np.float64)
    hh, ww = x.shape
    pad = sr + tr
    p = np.pad(x, pad, mode="reflect")
    center = p[pad - tr : pad + hh + tr, pad - tr : pad + ww + tr]
    acc = np.zeros_like(x)
    norm = np.zeros_like(x)
    inv = -1.0 / (h * h * template * template)
    for dy in range(-sr, sr + 1):
        for dx in range(-sr, sr + 1):
            cand = p[pad + dy - tr : pad + dy + hh + tr, pad + dx - tr : pad + dx + ww + tr]
            # SSD of the 7×7 patches around every pixel in one O(N) pass:
            # squared-difference image on the tr-extended grid, then a
            # 'valid' box sum collapses it back to (hh, ww)
            ssd = _box_sum_valid((cand - center) ** 2, tr)
            wgt = np.exp(ssd * inv)
            acc += wgt * p[pad + dy : pad + dy + hh, pad + dx : pad + dx + ww]
            norm += wgt
    return np.floor(acc / norm + 0.5).astype(np.uint8)


def remove_noise(gray: np.ndarray, method: str = "median") -> np.ndarray:
    """Denoise dispatch — all four reference methods
    (/root/reference/preprocessing/enhance.py:43-63): nlmeans (the
    reference's default), gaussian, median, bilateral. The ENGINE default is
    median (exactness proven by the scenario sweeps; nlmeans is the
    reference's per-request bottleneck and stays opt-in)."""
    if method == "median":
        return median3(gray)
    if method == "gaussian":
        return gaussian5(gray)
    if method == "bilateral":
        return bilateral9(gray)
    if method == "nlmeans":
        return nlmeans(gray)
    if method == "none":
        return gray
    raise ValueError(f"unknown denoise method {method!r}")


# ------------------------------------------------------------------- skew

# Candidate angles ordered by |deg| so ties resolve to the smallest skew
# (plain images must estimate exactly 0°). ±1° is excluded: in the discrete
# shear model a 1° shear shifts only the extreme rows, which is
# indistinguishable from profile noise on unskewed images (and harmless to
# recognition when a true ~1° skew goes uncorrected).
SKEW_SEARCH_DEGREES = [0] + sorted(
    (d for d in range(-8, 9) if abs(d) >= 2), key=lambda d: (abs(d), d)
)


def _shear_rows(img: np.ndarray, deg: float, fill: int) -> np.ndarray:
    h, w = img.shape
    t = np.tan(np.deg2rad(deg))
    shifts = np.round(t * (np.arange(h) - h / 2)).astype(int)
    out = np.full_like(img, fill)
    for y in range(h):
        s = shifts[y]
        if s == 0:
            out[y] = img[y]
        elif s > 0:
            out[y, s:] = img[y, :-s]
        else:
            out[y, :s] = img[y, -s:]
    return out


def _profile_scores(ink: np.ndarray, h: int, w: int) -> dict[float, float] | None:
    """Column-profile sharpness score per candidate shear angle.

    Bandwidth shape (the 32-thread memory-bus tax is the engine's scaling
    ceiling): coordinates are int32, and each angle's shifted histogram is
    built in ITS OWN pass over an nnz-sized buffer that is reused — peak
    working set ~8 bytes per ink pixel, vs the earlier single-bincount form
    that materialized a |angles|×nnz int64 index matrix (120 bytes/ink-px)
    plus an equally big gather. Same result, ~15× smaller footprint."""
    ys, xs = np.nonzero(ink)
    if ys.size == 0:
        return None
    ys32 = ys.astype(np.int32)
    xs32 = xs.astype(np.int32)
    pad = int(np.ceil(np.tan(np.deg2rad(8)) * h / 2)) + 1
    width = w + 2 * pad
    n_angles = len(SKEW_SEARCH_DEGREES)
    if ys.size * n_angles <= (1 << 22):
        # Small-page fast path: ONE gather + ONE bincount across all angles
        # (per-angle numpy call overhead dominates at fixture page sizes).
        # The per-height shift matrix is cached — rows are the identical
        # np.round(tan(-deg)*yy) expression of the loop below, so counts
        # and scores are bit-identical; the loop stays for big pages where
        # the (angles x nnz) index matrix would be a bandwidth regression
        # (see the docstring).
        shifts2d = _shift_matrix(h)
        idx2 = shifts2d[:, ys32] + (xs32 + pad)[None, :]
        idx2 += (np.arange(n_angles, dtype=np.int32) * width)[:, None]
        prof = np.bincount(idx2.ravel(), minlength=n_angles * width)
        prof = prof.reshape(n_angles, width)
        sq = (prof * prof).sum(axis=1)
        return {float(deg): float(sq[j])
                for j, deg in enumerate(SKEW_SEARCH_DEGREES)}
    yy = np.arange(h) - h / 2
    scores: dict[float, float] = {}
    for deg in SKEW_SEARCH_DEGREES:
        shift = np.round(np.tan(np.deg2rad(-deg)) * yy).astype(np.int32)
        idx = shift.take(ys32)
        idx += xs32
        idx += pad
        prof = np.bincount(idx, minlength=width)
        scores[float(deg)] = float((prof * prof).sum())
    return scores


_SHIFT_CACHE: dict[int, np.ndarray] = {}


def _shift_matrix(h: int) -> np.ndarray:
    """(n_angles, h) int32 per-row shear shifts for every search angle —
    row j identical to the per-angle loop's shift vector. Cached per image
    height (render heights come from a small discrete set)."""
    m = _SHIFT_CACHE.get(h)
    if m is None:
        yy = np.arange(h) - h / 2
        m = np.stack([
            np.round(np.tan(np.deg2rad(-deg)) * yy).astype(np.int32)
            for deg in SKEW_SEARCH_DEGREES])
        if len(_SHIFT_CACHE) > 256:
            _SHIFT_CACHE.clear()
        _SHIFT_CACHE[h] = m
    return m


def estimate_skew(binary: np.ndarray) -> float:
    """Estimate skew by maximizing **column**-projection sharpness over the
    discrete shear family (profile-projection method; replaces the reference's
    Canny+HoughLines median angle, enhance.py:17-31). Row sums are invariant
    under per-row x-shear, so the column profile is the shear-sensitive
    statistic: unshearing at the true angle re-aligns vertical strokes.
    Accepts a bool ink mask directly (skips the binary>0 pass)."""
    ink = binary if binary.dtype == np.bool_ else binary > 0
    h, w = ink.shape
    # exclude rule-dominated rows (>50% ink): full-width rules carry no skew
    # signal and multiply the ink-pixel count ~10x on ruled pages — but only
    # when enough text ink remains to estimate from (a lone glyph next to
    # ruling must keep the old flat-profile behavior → 0°)
    row_counts = ink.sum(axis=1)
    heavy = row_counts > 0.5 * w
    if heavy.any() and int(row_counts[~heavy].sum()) >= 400:
        ink = ink.copy()
        ink[heavy, :] = False
    scores = _profile_scores(ink, h, w)
    if scores is None:
        return 0.0
    best_deg = max(scores, key=lambda d: scores[d])
    # Hysteresis: profile noise on unskewed images can favor ±1° by <1%;
    # a real shear sharpens the unsheared column profile by >=2%. Below the
    # margin, keep 0° — sub-margin true skews produce no discrete row shift
    # in the text band, so recognition is unaffected (see tests).
    if scores[best_deg] <= 1.015 * scores[0.0]:
        return 0.0
    # Asymmetry test: a true shear sharpens only at its own sign
    # (score(+d) >> score(-d)); profile noise on sparse pages is symmetric
    # (score(+d) ~ score(-d) both slightly above 0°). Reject symmetric peaks.
    if scores[best_deg] <= 1.01 * scores.get(-best_deg, 0.0):
        return 0.0
    return best_deg


def deskew_binary_ink(
    gray: np.ndarray, min_abs_deg: float = 0.5
) -> tuple[np.ndarray, np.ndarray, np.ndarray, float]:
    """One-pass deskew: (deskewed_gray, binary, ink_mask, angle) with exactly
    one extra binarization when a shear is applied and zero when not — the
    shared primitive behind engine.best_deskew and the pipeline modes. The
    bool ink mask is computed ONCE here and handed to every downstream
    consumer (skew estimate, rule scans, band segmentation):
    full-image passes dominate per-image cost under many-core memory-bus
    contention, so each eliminated binary>0 re-pass is ~2 bytes/px off the
    bus."""
    t = otsu_threshold(gray)
    ink = gray <= t
    binary = np.where(ink, _U255, _U0)
    deg = estimate_skew(ink)
    if abs(deg) <= min_abs_deg:
        return gray, binary, ink, 0.0
    sheared = _shear_rows(gray, -deg, int(gray[0, 0]))
    t2 = otsu_threshold(sheared)
    ink2 = sheared <= t2
    return sheared, np.where(ink2, _U255, _U0), ink2, deg


def skew_candidates(binary: np.ndarray, k: int = 3) -> list[float]:
    """Top-k candidate angles by raw column-profile score, WITHOUT the
    margin/asymmetry guards — the OCR retry ladder validates candidates by
    recognition confidence instead (ocr/engine.py get_text_data)."""
    ink = binary > 0
    h, w = ink.shape
    scores = _profile_scores(ink, h, w)
    if scores is None:
        return [0.0]
    degs = list(scores)
    order = sorted(range(len(degs)), key=lambda i: (-scores[degs[i]], i))[:k]
    return [degs[i] for i in order]


# ------------------------------------------------------------------ resize

def resize_nearest(img: np.ndarray, new_h: int, new_w: int) -> np.ndarray:
    """Nearest-neighbor resize (stands in for cv2.resize INTER_AREA/CUBIC)."""
    h, w = img.shape[:2]
    ys = np.minimum((np.arange(new_h) * (h / new_h)).astype(int), h - 1)
    xs = np.minimum((np.arange(new_w) * (w / new_w)).astype(int), w - 1)
    return img[ys][:, xs]


def _box_resample_axis(a: np.ndarray, new_n: int, axis: int) -> np.ndarray:
    """1-D fractional box-mean along `axis` (float64 out). Output cell j
    averages the source interval [j·r, (j+1)·r), r = n/new_n — the exact
    integral of the piecewise-constant signal, via a cumulative sum plus
    fractional end corrections. Area resampling over axis-aligned boxes is
    separable, so 2-D INTER_AREA = this pass applied to each axis."""
    a0 = np.moveaxis(np.asarray(a, np.float64), axis, 0)
    n = a0.shape[0]
    r = n / new_n
    csum = np.concatenate(
        [np.zeros((1,) + a0.shape[1:]), np.cumsum(a0, axis=0)], axis=0)
    lo = np.arange(new_n) * r
    hi = lo + r
    lo_i = np.floor(lo).astype(np.int64)
    hi_i = np.minimum(np.floor(hi).astype(np.int64), n)  # hi may hit n exactly
    shape = (new_n,) + (1,) * (a0.ndim - 1)
    frac_lo = (lo - lo_i).reshape(shape)
    frac_hi = (hi - hi_i).reshape(shape)
    integral = (
        csum[hi_i] - csum[lo_i]
        - frac_lo * a0[lo_i]
        + frac_hi * a0[np.minimum(hi_i, n - 1)]
    )
    return np.moveaxis(integral / r, 0, axis)


def resize_area(img: np.ndarray, new_h: int, new_w: int) -> np.ndarray:
    """cv2.INTER_AREA-equivalent downscale at ANY ratio (the reference's
    shrink path, /root/reference/utils/file_handling.py:46-59 and
    preprocessing/enhance.py:66-72): each output pixel is the exact mean of
    its (fractional) source box. Pure numpy, separable two-pass."""
    out = _box_resample_axis(_box_resample_axis(img, new_h, 0), new_w, 1)
    if np.issubdtype(np.asarray(img).dtype, np.integer):
        return np.clip(np.rint(out), 0, 255).astype(np.uint8)
    return out


def cap_max_dimension(img: np.ndarray, max_dim: int, mode: str = "ladder") -> np.ndarray:
    """Dimension cap — reference semantics: result max dim <= max_dim
    (/root/reference/utils/file_handling.py:46-53).

    mode='ladder' (default, fixture-exact): a factor-of-2 decimation ladder
    ([::2, ::2] until small enough). Exact grid decimation has the property
    the engine's exactness contract needs: decimating a 2k-scaled glyph
    grid (even offsets) yields the k-scaled glyph BIT-EXACTLY, so oversized
    pages OCR exactly after capping; any fractional resample drifts the
    sampling grid and distorts glyph bitmaps.

    mode='area' (reference-parity path for real scans): one arbitrary-ratio
    INTER_AREA-equivalent resample straight to the cap, preserving aspect —
    exactly what the reference's cv2.resize call does. Use for non-fixture
    inputs where anti-aliased quality beats bit-exactness."""
    h, w = img.shape[:2]
    if max(h, w) <= max_dim:
        return img
    if mode == "area":
        s = max_dim / max(h, w)
        return resize_area(img, max(1, int(h * s)), max(1, int(w * s)))
    out = img
    while max(out.shape[:2]) > max_dim:
        out = out[::2, ::2]
    return out


def area_budget_resize(img: np.ndarray, max_size_mb: float) -> np.ndarray:
    """Reference area-budget resize (/root/reference/main.py:101-108): if the
    decoded array exceeds the MB budget, scale both dims by sqrt(max/cur)."""
    h, w = img.shape[:2]
    channels = 1 if img.ndim == 2 else img.shape[2]
    cur_mb = h * w * channels / (1024.0 * 1024.0)
    if cur_mb <= max_size_mb:
        return img
    scale = float(np.sqrt(max_size_mb / cur_mb))
    return resize_nearest(img, max(1, int(h * scale)), max(1, int(w * scale)))
