"""Pure-numpy preprocessing kernels.

Re-implements the semantics of the reference's OpenCV kernel library
(/root/reference/preprocessing/enhance.py) without OpenCV, for the steps
the engine runs: Otsu binarization, shadow removal (enhance.py:121-128),
skew correction (enhance.py:17-40) and the dimension caps. The
reference's composed `deskew_and_clean` chain (enhance.py:142-162) is
`ocr/engine.best_deskew` here.

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
    input keeps float64."""
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


SHADOW_WINDOW = 21


def remove_shadows(gray: np.ndarray) -> np.ndarray:
    """Illumination flattening: estimate background by a large box blur of the
    image with ink suppressed, subtract, renormalize. Functional equivalent of
    the reference's dilate→medianBlur→absdiff→normalize (enhance.py:121-128)."""
    g = gray.astype(np.float64)
    # int32 cumsum path
    bg = _box_sum(gray, SHADOW_WINDOW) / float(SHADOW_WINDOW * SHADOW_WINDOW)
    bg = np.maximum(bg, g)  # background is at least as bright as the pixel
    flat = 255.0 - np.minimum(255.0, bg - g)
    lo, hi = flat.min(), flat.max()
    if hi > lo:
        flat = (flat - lo) * (255.0 / (hi - lo))
    return flat.astype(np.uint8)


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


def deskew_binary_ink(gray: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, float]:
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
    deg = estimate_skew(ink)  # 0.0 or a search angle, |deg| >= 2
    if deg == 0.0:
        return gray, binary, ink, 0.0
    sheared = _shear_rows(gray, -deg, int(gray[0, 0]))
    t2 = otsu_threshold(sheared)
    ink2 = sheared <= t2
    return sheared, np.where(ink2, _U255, _U0), ink2, deg


def skew_candidates(binary: np.ndarray) -> list[float]:
    """Every search angle, best raw column-profile score first, WITHOUT the
    margin/asymmetry guards — the OCR retry ladder validates candidates by
    recognition confidence instead (ocr/engine.py get_text_data)."""
    ink = binary > 0
    h, w = ink.shape
    scores = _profile_scores(ink, h, w)
    if scores is None:
        return [0.0]
    degs = list(scores)
    order = sorted(range(len(degs)), key=lambda i: (-scores[degs[i]], i))
    return [degs[i] for i in order]


# ------------------------------------------------------------------ resize

def resize_nearest(img: np.ndarray, new_h: int, new_w: int) -> np.ndarray:
    """Nearest-neighbor resize (stands in for cv2.resize INTER_AREA/CUBIC)."""
    h, w = img.shape[:2]
    ys = np.minimum((np.arange(new_h) * (h / new_h)).astype(int), h - 1)
    xs = np.minimum((np.arange(new_w) * (w / new_w)).astype(int), w - 1)
    return img[ys][:, xs]


def cap_max_dimension(img: np.ndarray, max_dim: int) -> np.ndarray:
    """Dimension cap — reference semantics: result max dim <= max_dim
    (/root/reference/utils/file_handling.py:46-53).

    A factor-of-2 decimation ladder ([::2, ::2] until small enough). Exact
    grid decimation has the property the engine's exactness contract
    needs: decimating a 2k-scaled glyph grid (even offsets) yields the
    k-scaled glyph BIT-EXACTLY, so oversized pages OCR exactly after
    capping; any fractional resample drifts the sampling grid and distorts
    glyph bitmaps."""
    h, w = img.shape[:2]
    if max(h, w) <= max_dim:
        return img
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
