"""Deterministic text→raster renderer for fixtures and bench corpora.

Mirrors SURVEY.md §5.2 / FIXTURES.md §2: media images are rendered from known
ground-truth text so expected OCR output is known a priori. Scenario tags map
to the reference's routing classes (/root/reference/main.py:291,1041) and
exercise specific preprocessing kernels:

  plain   clean render                         → binarize only
  skewed  integer per-row shear (±1..7°)       → deskew_binary_ink
  noisy   seeded sub-threshold gray noise      → Otsu binarize margin
  shadow  horizontal illumination gradient     → remove_shadows / Otsu margin
  ruled   >10 full-width horizontal rules      → table route (Hough census)
  boxed   text enclosed in a rectangle border  → detect_tables largest-table crop
  checkbox squares/circles + labels            → checkbox pipeline

All randomness is derived from a caller-supplied integer seed — no global
state, fully reproducible across processes/executors.
"""

from __future__ import annotations

import numpy as np

from .font import CELL_W, GLYPH_H, LINE_H, SCALE, CHARSET, scaled_glyph

GLYPH_H_PX = GLYPH_H * SCALE

INK = 30
BG = 230
MARGIN = 8
MAX_LINE_CHARS = 32
SCENARIOS = ("plain", "skewed", "noisy", "shadow", "ruled", "boxed",
             "skewed_noisy", "large")

# 'large' canvas width: > MAX_DIMENSION_DOCUMENTO (1300) so the documento
# cap FIRES, and one factor-of-2 decimation lands at 980 — under every
# mode's cap (basico 1000, segmentado/tabla 1100, documento 1300), so all
# modes see the SAME exactly-decimated base-scale image
LARGE_W = 1960

# Skew uses the same discrete shear model in render and deskew search so the
# inverse is exact: shift(y) = round(tan(deg) * (y - h/2)).
SKEW_DEGREES = (-7, -5, -3, -2, 2, 3, 5, 7)


def skew_degree(seed: int) -> int:
    """Skew degree for a seed, md5-DERIVED (first hex digit of
    md5('skew{seed}') mod 8 indexes SKEW_DEGREES) rather than drawn from the
    numpy Generator: md5 is the hash all engines share, so the DuckDB oracle
    can recompute the degree — and with it the skew pad, i.e. the rendered
    image WIDTH — in SQL (the image_metadata oracle). A PCG64 draw would
    make skewed-image geometry engine-private (rows-only checkable). The
    deskew inverse is per-degree exact for every member of SKEW_DEGREES
    (tests/test_kernels.py), so the distribution change is behavior-neutral
    for extraction."""
    import hashlib

    d = int(hashlib.md5(f"skew{seed}".encode()).hexdigest()[0], 16)
    return SKEW_DEGREES[d % len(SKEW_DEGREES)]
NOISE_AMPLITUDE = 60  # |ink-bg| = 200 → global threshold keeps >40px margin
# Shadow depth bounds the background spread so Otsu's between-class variance
# for the ink/bg split dominates any split inside the illumination ramp even
# for sparse-ink renders (~1.5% ink: 0.015·185² ≈ 505 > ramp 0.25·depth²).
SHADOW_DEPTH = 60
RULE_THICKNESS = 3
MIN_RULES = 12  # > reference's >10 horizontal-line table-route threshold


def wrap_text(text: str, width: int = MAX_LINE_CHARS) -> list[str]:
    """Greedy word wrap; words longer than `width` are hard-split."""
    lines: list[str] = []
    cur = ""
    for word in text.split():
        while len(word) > width:
            if cur:
                lines.append(cur)
                cur = ""
            lines.append(word[:width])
            word = word[width:]
        if not cur:
            cur = word
        elif len(cur) + 1 + len(word) <= width:
            cur += " " + word
        else:
            lines.append(cur)
            cur = word
    if cur:
        lines.append(cur)
    return lines or [""]


def render_lines(lines: list[str]) -> np.ndarray:
    """Render wrapped lines on a fixed-pitch grid. Gray uint8, ink on bg."""
    ncols = max((len(l) for l in lines), default=1)
    h = 2 * MARGIN + len(lines) * LINE_H
    w = 2 * MARGIN + max(1, ncols) * CELL_W
    img = np.full((h, w), BG, dtype=np.uint8)
    for li, line in enumerate(lines):
        y0 = MARGIN + li * LINE_H
        for ci, ch in enumerate(line):
            if ch == " " or ch not in CHARSET:
                continue
            g = scaled_glyph(ch)
            x0 = MARGIN + ci * CELL_W
            img[y0 : y0 + g.shape[0], x0 : x0 + g.shape[1]][g] = INK
    return img


def _apply_skew(img: np.ndarray, deg: float) -> np.ndarray:
    h, w = img.shape
    t = np.tan(np.deg2rad(deg))
    shifts = np.round(t * (np.arange(h) - h / 2)).astype(int)
    pad = int(np.abs(shifts).max())
    out = np.full((h, w + 2 * pad), BG, dtype=np.uint8)
    for y in range(h):
        s = shifts[y]
        out[y, pad + s : pad + s + w] = img[y]
    return out


NOISE_DENSITY = 0.15  # fraction of pixels perturbed (speckle model)


def _apply_noise(img: np.ndarray, rng: np.random.Generator) -> np.ndarray:
    """Sub-threshold speckle: NOISE_DENSITY of pixels shift by up to
    ±NOISE_AMPLITUDE gray levels (classic scan speckle — and, unlike dense
    uniform noise, it stays PNG-compressible, which matters when millions of
    these flow through shuffles)."""
    mask = rng.random(img.shape) < NOISE_DENSITY
    noise = rng.integers(-NOISE_AMPLITUDE, NOISE_AMPLITUDE + 1, size=img.shape)
    out = img.astype(np.int32)
    out[mask] += noise[mask]
    return np.clip(out, 0, 255).astype(np.uint8)


def _apply_shadow(img: np.ndarray) -> np.ndarray:
    h, w = img.shape
    grad = np.round(np.linspace(0, SHADOW_DEPTH, w)).astype(np.int32)
    return np.clip(img.astype(np.int32) - grad[None, :], 0, 255).astype(np.uint8)


def _apply_rules(img: np.ndarray) -> np.ndarray:
    """Full-width horizontal rules in the inter-line gaps (+ extras below).
    Padding rules are packed at a tight pitch (rule + 5px gap) — they only
    need to count as distinct rules for the table-route census, and a tight
    pack keeps ruled pages from ballooning to several times the text height."""
    h, w = img.shape
    ys = list(range(MARGIN + LINE_H - RULE_THICKNESS - 1, h - RULE_THICKNESS, LINE_H))
    extra_needed = max(0, MIN_RULES - len(ys))
    if extra_needed:
        pitch = RULE_THICKNESS + 5
        pad = np.full((extra_needed * pitch + 8, w), BG, dtype=np.uint8)
        img = np.vstack([img, pad])
        base = h + 4
        ys += [base + i * pitch for i in range(extra_needed)]
        h = img.shape[0]
    img = img.copy()
    for y in ys:
        img[y : y + RULE_THICKNESS, :] = INK
    return img


def _apply_box(img: np.ndarray) -> np.ndarray:
    """Enclose the whole render in a rectangle border (a 1-cell 'table')."""
    h, w = img.shape
    t = RULE_THICKNESS
    # inner padding 16 > the region-segmenter's dilation reach (12) so the
    # border never merges with the first/last text lines
    pad = t + 16
    out = np.full((h + 2 * pad, w + 2 * pad), BG, dtype=np.uint8)
    out[pad : pad + h, pad : pad + w] = img
    out[:t, :] = INK
    out[-t:, :] = INK
    out[:, :t] = INK
    out[:, -t:] = INK
    return out


def render_text_image(text: str, scenario: str = "plain", seed: int = 0) -> np.ndarray:
    """Render `text` (chars outside the font charset are dropped) under a
    scenario transform. Deterministic in (text, scenario, seed)."""
    rng = np.random.default_rng(seed)
    img = render_lines(wrap_text(text.lower()))
    if scenario == "plain":
        return img
    if scenario == "skewed":
        return _apply_skew(img, skew_degree(seed))
    if scenario == "noisy":
        return _apply_noise(img, rng)
    if scenario == "shadow":
        return _apply_shadow(img)
    if scenario == "ruled":
        return _apply_rules(img)
    if scenario == "boxed":
        return _apply_box(img)
    if scenario == "skewed_noisy":
        # composite distortion: shear then sub-threshold noise — exercises
        # the skew-candidate retry ladder under a degraded profile
        return _apply_noise(_apply_skew(img, skew_degree(seed)), rng)
    if scenario == "large":
        # oversized page: 2x pixel-doubled render padded to LARGE_W — makes
        # the mode dimension caps fire; one [::2, ::2] decimation recovers
        # the base-scale render bit-exactly (see enhance.cap_max_dimension)
        up = np.repeat(np.repeat(img, 2, axis=0), 2, axis=1)
        h, w = up.shape
        out = np.full((h, LARGE_W), BG, dtype=np.uint8)
        out[:, :w] = up
        return out
    raise ValueError(f"unknown scenario {scenario!r}")


# ---------------------------------------------------------------- checkboxes

CHECKBOX_SIZE = 18  # px, square side / circle diameter


DEFAULT_LABEL_DX = CHECKBOX_SIZE + 20  # >= WORD_GAP_PX: ring never merges into the label word


def render_form(rows: list[dict], pad_h: int = 48) -> tuple[np.ndarray, list[dict]]:
    """General checkbox-form renderer for association fixtures (FIXTURES.md §5).

    Each row dict: {label: str|None, marked: bool, kind: 'square'|'circle'|
    'inciso', y: int (row offset below MARGIN), label_dx: int (label x offset
    from the checkbox's left edge; default DEFAULT_LABEL_DX — large values
    build far-label fixtures that discriminate the reference's soft distance
    decay, /root/reference/ocr/association.py:33-36), mark_inset: int
    (mark-fill inset; larger inset → smaller fill → lower detection
    confidence, for radio-correction fixtures), inciso_char: str}.

    'inciso' rows render '(c)'-style lettered options: the three glyphs plus
    a 1-px connector baseline spanning their exact ink width, so the trio is
    ONE connected component — the elongated small-area shape the reference's
    inciso gate detects (/root/reference/preprocessing/checkbox.py:100-121).
    label=None renders an orphan checkbox (no text anywhere on its row).

    Returns (image, layout) with ground-truth bboxes and marked states.
    """
    s = CHECKBOX_SIZE

    def _label_dx(r):
        dx = r.get("label_dx")
        if dx is not None:
            return dx
        return (2 * s + 22) if r["kind"] == "inciso" else DEFAULT_LABEL_DX

    w = 2 * MARGIN + max(
        (_label_dx(r) + len(r["label"] or "") * CELL_W for r in rows), default=1
    ) + CELL_W
    h = 2 * MARGIN + max((r["y"] for r in rows), default=0) + pad_h
    img = np.full((h, w), BG, dtype=np.uint8)
    layout = []
    for r in rows:
        kind = r["kind"]
        label = r.get("label")
        marked = bool(r.get("marked", False))
        cy = MARGIN + r["y"]
        cx = MARGIN
        y_label = cy if kind == "inciso" else cy + (s - GLYPH_H_PX) // 2
        x_label = cx + _label_dx(r)
        if label:
            for ci, ch in enumerate(label.lower()):
                if ch == " " or ch not in CHARSET:
                    continue
                g = scaled_glyph(ch)
                x0 = x_label + ci * CELL_W
                img[y_label : y_label + g.shape[0], x0 : x0 + g.shape[1]][g] = INK
        if kind == "square":
            img[cy : cy + 2, cx : cx + s] = INK
            img[cy + s - 2 : cy + s, cx : cx + s] = INK
            img[cy : cy + s, cx : cx + 2] = INK
            img[cy : cy + s, cx + s - 2 : cx + s] = INK
        elif kind == "circle":
            yy, xx = np.mgrid[0:s, 0:s]
            rr = (s - 2) / 2
            d = np.sqrt((yy - s / 2 + 0.5) ** 2 + (xx - s / 2 + 0.5) ** 2)
            ring = (d <= rr) & (d >= rr - 2)
            img[cy : cy + s, cx : cx + s][ring] = INK
        elif kind == "inciso":
            ch = r.get("inciso_char", "a")
            x0_min, x1_max = None, None
            for ci, gch in enumerate(("(", ch, ")")):
                g = scaled_glyph(gch)
                cols = np.nonzero(g.any(axis=0))[0]
                x0 = cx + ci * CELL_W
                img[cy : cy + g.shape[0], x0 : x0 + g.shape[1]][g] = INK
                lo, hi = x0 + int(cols.min()), x0 + int(cols.max()) + 1
                x0_min = lo if x0_min is None else min(x0_min, lo)
                x1_max = hi if x1_max is None else max(x1_max, hi)
            # connector baseline: makes '(c)' one component and is a
            # full-width rule within the component bbox, so the engine's
            # rule_rows masking strips it before glyph matching
            img[cy + GLYPH_H_PX, x0_min:x1_max] = INK
            layout.append(
                {"bbox": (x0_min, cy, x1_max - x0_min, GLYPH_H_PX + 1),
                 "kind": kind, "marked": False, "label": label,
                 "inciso_text": f"({ch})",
                 "label_bbox": (x_label, y_label, len(label or "") * CELL_W, GLYPH_H_PX)}
            )
            continue
        else:
            raise ValueError(f"unknown checkbox kind {kind!r}")
        if marked:
            m0 = int(r.get("mark_inset", 5))
            img[cy + m0 : cy + s - m0, cx + m0 : cx + s - m0] = INK
        # ground truth records the tight ink bbox (circle rings inscribe the
        # cell, so their ink bbox is (s-2)x(s-2) at +1,+1)
        ink_bbox = (cx, cy, s, s) if kind == "square" else (cx + 1, cy + 1, s - 2, s - 2)
        layout.append(
            {"bbox": ink_bbox, "kind": kind, "marked": marked, "label": label,
             "label_bbox": (x_label, y_label, len(label or "") * CELL_W, GLYPH_H_PX)}
        )
    return img, layout


def render_checkbox_form(
    questions: list[tuple[str, bool, str]], row_pitch: int = 48
) -> tuple[np.ndarray, list[dict]]:
    """Render a form of (label, marked, kind) rows; kind ∈ {square, circle}.
    The label sits to the right of its checkbox on the same row.
    `row_pitch` < 50 puts consecutive rows in one proximity group
    (radio-group fixtures, /root/reference/ocr/association.py:66-99 with
    umbral_vertical=50); >= 50 keeps one group per row.

    Thin wrapper over :func:`render_form` (geometry unchanged)."""
    rows = [
        {"label": label, "marked": marked, "kind": kind, "y": i * row_pitch}
        for i, (label, marked, kind) in enumerate(questions)
    ]
    return render_form(rows, pad_h=row_pitch)
