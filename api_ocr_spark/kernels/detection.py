"""Pure-numpy layout analysis: connected components, horizontal-rule census,
table detection, and region segmentation.

Re-implements the semantics of /root/reference/preprocessing/detection.py
(detect_tables :10-46, segment_regions :61-92) and the Hough horizontal-line
census used for routing (/root/reference/main.py:272-283, 999-1011) without
OpenCV. Binary inputs are {0,255} uint8 with ink=255 (inverted), the same
convention as the reference's THRESH_BINARY_INV.
"""

from __future__ import annotations

import numpy as np


def connected_components_stats(mask: np.ndarray) -> list[dict]:
    """4-connected component {bbox, area} stats straight from row runs —
    no label image is materialized. Run extraction is one flat vectorized
    pass; the union-find merge loop touches each run once with binary-search
    overlap lookup into the previous row."""
    h, w = mask.shape
    ink = mask > 0
    flat = np.zeros((h, w + 1), dtype=bool)
    flat[:, :w] = ink
    f = flat.ravel()
    d = np.diff(f.astype(np.int8))
    starts = np.nonzero(d == 1)[0] + 1
    ends = np.nonzero(d == -1)[0] + 1
    if f.size and f[0]:
        starts = np.concatenate([[0], starts])
    n_runs = len(starts)
    if n_runs == 0:
        return []
    rows = starts // (w + 1)
    s_col = starts % (w + 1)
    e_col = ends - rows * (w + 1)  # exclusive end column
    parent = np.arange(n_runs)

    def find(i: int) -> int:
        root = i
        while parent[root] != root:
            root = parent[root]
        while parent[i] != root:
            parent[i], i = root, parent[i]
        return root

    idx0 = np.searchsorted(rows, np.arange(h))
    idx1 = np.searchsorted(rows, np.arange(h), side="right")
    occupied = np.nonzero(idx1 > idx0)[0]
    for y in occupied:
        if y == 0:
            continue
        a0, a1 = idx0[y], idx1[y]
        p0, p1 = idx0[y - 1], idx1[y - 1]
        if p0 == p1:
            continue
        ps = s_col[p0:p1]
        pe = e_col[p0:p1]
        # vectorized overlap window per current-row run
        lo = np.searchsorted(pe, s_col[a0:a1], side="right")
        hi = np.searchsorted(ps, e_col[a0:a1], side="left")
        for k in np.nonzero(hi > lo)[0]:
            i = a0 + k
            for j in range(p0 + lo[k], p0 + hi[k]):
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
    roots = np.fromiter((find(i) for i in range(n_runs)), dtype=np.int64, count=n_runs)
    uniq, inv = np.unique(roots, return_inverse=True)
    k = len(uniq)
    area = np.zeros(k, dtype=np.int64)
    np.add.at(area, inv, e_col - s_col)
    x0 = np.full(k, np.iinfo(np.int64).max)
    x1 = np.zeros(k, dtype=np.int64)
    y0 = np.full(k, np.iinfo(np.int64).max)
    y1 = np.zeros(k, dtype=np.int64)
    np.minimum.at(x0, inv, s_col)
    np.maximum.at(x1, inv, e_col - 1)
    np.minimum.at(y0, inv, rows)
    np.maximum.at(y1, inv, rows)
    return [
        {
            "bbox": (int(x0[i]), int(y0[i]), int(x1[i] - x0[i] + 1), int(y1[i] - y0[i] + 1)),
            "area": int(area[i]),
        }
        for i in range(k)
    ]


def _max_run_1d(row: np.ndarray) -> int:
    idx = np.nonzero(np.diff(np.concatenate(([False], row, [False])).astype(np.int8)))[0]
    if idx.size == 0:
        return 0
    return int((idx[1::2] - idx[0::2]).max())


RULE_MIN_FRAC = 0.85  # a rule's contiguous ink run spans >= 85% of the page


def rule_rows(binary: np.ndarray) -> np.ndarray:
    """Boolean row mask: rows containing a contiguous ink run spanning
    >= RULE_MIN_FRAC of the width (full-width horizontal rules; used to drop
    ruling before OCR row segmentation). Contiguity matters: fixed-pitch
    text rows can exceed a mean-fraction test but never cross the margins.

    Bandwidth-aware: a cheap row-count pass prunes to candidate rows (a run
    of k pixels needs >= k ink pixels), then the exact run check touches
    only those rows — no full-image run-length materialization. Accepts a
    bool ink mask directly (callers that already hold one skip a full
    binary>0 pass)."""
    ink = binary if binary.dtype == np.bool_ else binary > 0
    h, w = ink.shape
    need = RULE_MIN_FRAC * w
    counts = ink.sum(axis=1)
    mask = np.zeros(h, dtype=bool)
    for y in np.nonzero(counts >= need)[0]:
        mask[y] = _max_run_1d(ink[y]) >= need
    return mask


def rule_cols(ink: np.ndarray) -> np.ndarray:
    """Boolean column mask for full-height vertical rules (table borders).
    Same candidate-pruning strategy as rule_rows. The 24-px floor (~2 glyph
    heights) keeps letter stems from reading as rules on small ROIs — a
    real table border spans multiple text lines; a stem is one glyph tall."""
    h, w = ink.shape
    need = max(RULE_MIN_FRAC * h, 24.0)
    counts = ink.sum(axis=0)
    mask = np.zeros(w, dtype=bool)
    for x in np.nonzero(counts >= need)[0]:
        mask[x] = _max_run_1d(ink[:, x]) >= need
    return mask


def count_horizontal_lines(binary: np.ndarray) -> int:
    """Distinct horizontal rules (consecutive rows over 60% ink = one
    rule). Mirrors the reference's HoughLinesP census that drives the table
    route (/root/reference/main.py:272-283: lines with |Δy|<5 and
    length>100).
    Accepts a bool ink mask directly (skips the binary>0 pass)."""
    ink = binary if binary.dtype == np.bool_ else binary > 0
    rows = ink.mean(axis=1) > 0.6
    if not rows.any():
        return 0
    d = np.diff(rows.astype(np.int8))
    return int((d == 1).sum() + (1 if rows[0] else 0))


def detect_tables(binary: np.ndarray) -> list[dict]:
    """Detect ruled/bordered tables: keep only long horizontal/vertical
    strokes, label them, and filter bboxes by the reference's exact gates
    area>5000 ∧ w>100 ∧ h>100 ∧ w/h<10 with confidence = area/image_area
    (/root/reference/preprocessing/detection.py:30-45)."""
    ink = binary > 0
    h, w = ink.shape
    min_len = 40  # reference morph-open kernels are 40x1 / 1x40 (detection.py:21-27)
    horiz = _long_runs(ink, min_len, axis=1)
    vert = _long_runs(ink, min_len, axis=0)
    grid = horiz | vert
    out = []
    img_area = float(h * w)
    for st in connected_components_stats(grid):
        x, y, bw, bh = st["bbox"]
        bbox_area = bw * bh
        if bbox_area > 5000 and bw > 100 and bh > 100 and bw / max(bh, 1) < 10:
            out.append(
                {"bbox": (x, y, bw, bh), "type": "table",
                 "confidence": round(min(bbox_area / img_area, 1.0), 2)}
            )
    return out


def _long_runs(ink: np.ndarray, min_len: int, axis: int) -> np.ndarray:
    """Keep only ink pixels belonging to runs >= min_len along `axis`
    (separable erosion+dilation — the morph-open trick). Run discovery is a
    single flat vectorized pass; only the (few) qualifying long runs are
    painted individually."""
    a = ink if axis == 1 else ink.T
    h, w = a.shape
    # flatten with a False spacer column so runs never cross row boundaries
    flat = np.zeros((h, w + 1), dtype=bool)
    flat[:, :w] = a
    f = flat.ravel()
    d = np.diff(f.astype(np.int8))
    starts = np.nonzero(d == 1)[0] + 1
    ends = np.nonzero(d == -1)[0] + 1
    if f[0]:
        starts = np.concatenate([[0], starts])
    keep = (ends - starts) >= min_len
    out = np.zeros(f.shape, dtype=bool)
    for s, e in zip(starts[keep], ends[keep]):
        out[s:e] = True
    out = out.reshape(h, w + 1)[:, :w]
    return out if axis == 1 else out.T


def dilate_box(mask: np.ndarray, radius: int) -> np.ndarray:
    """Binary dilation with a (2r+1)² box — separable 1-D running sums on
    int32 (≈4x less memory traffic than a float64 2-D cumsum)."""
    win = 2 * radius + 1

    def run1d(a: np.ndarray, axis: int) -> np.ndarray:
        # uint16 suffices: values bounded by win * max(h, w) << 65535 here,
        # and halves the memory traffic of the int32 version
        dtype = np.uint16 if max(mask.shape) * win < 60000 else np.int32
        cs = np.cumsum(a, axis=axis, dtype=dtype)
        pad_shape = list(a.shape)
        pad_shape[axis] = radius + 1
        zeros = np.zeros(pad_shape, dtype=dtype)
        tail_shape = list(a.shape)
        tail_shape[axis] = radius
        last = np.take(cs, [-1], axis=axis)
        tail = np.repeat(last, radius, axis=axis)
        hi = np.concatenate([np.take(cs, range(radius, a.shape[axis]), axis=axis), tail], axis=axis)
        lo = np.concatenate([zeros, np.take(cs, range(a.shape[axis] - radius - 1), axis=axis)], axis=axis)
        _ = win
        return hi - lo

    h_sum = run1d(mask.astype(np.uint8), 1)
    return run1d(h_sum, 0) > 0


def segment_regions(binary: np.ndarray) -> list[dict]:
    """Region proposals: dilate ink to merge words, label, classify.
    Mirrors /root/reference/preprocessing/detection.py:61-92 —
    dilate 5x5 ×3 ≈ box radius 6; classify aspect>3 ∧ h<50 → 'line',
    text_density>0.2 → 'text', else 'image'; drop area<500."""
    ink = binary > 0
    merged = dilate_box(ink, 6)
    out = []
    for st in connected_components_stats(merged):
        x, y, w, h = st["bbox"]
        if w * h < 500:
            continue
        roi = ink[y : y + h, x : x + w]
        density = float(roi.mean())
        aspect = w / max(h, 1)
        if aspect > 3 and h < 50:
            rtype = "line"
        elif density > 0.2:
            rtype = "text"
        else:
            rtype = "image"
        out.append({"bbox": (x, y, w, h), "type": rtype, "confidence": round(density, 2)})
    # reading order (y, x) — /root/reference/main.py:166
    out.sort(key=lambda r: (r["bbox"][1], r["bbox"][0]))
    return out


def contains(outer: tuple[int, int, int, int], inner: tuple[int, int, int, int]) -> bool:
    """bbox containment predicate for the table/region anti-join
    (/root/reference/main.py:148-164)."""
    ox, oy, ow, oh = outer
    ix, iy, iw, ih = inner
    return ox <= ix and oy <= iy and ix + iw <= ox + ow and iy + ih <= oy + oh
