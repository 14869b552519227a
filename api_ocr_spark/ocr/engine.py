"""Deterministic glyph-OCR engine (template matching over the engine font).

Plays the role of Tesseract in the reference (/root/reference/ocr/engine.py):
`get_text_data` (:76-128) emits word dicts {text,bbox,conf,line,block,par}
with the conf>30 filter (:109-111); `group_words_into_lines` (:131-174)
regroups words into line dicts with unioned bboxes and mean confidence;
`ocr_image` is the analogue of `run_tesseract`/`image_to_string` (:21-52).

Recognition pipeline (all numpy, deterministic):
  binarize+deskew (kernels.enhance) → drop full-width rule rows →
  horizontal-projection line bands → vertical-projection char runs
  (word gap >= WORD_GAP_PX) → per-char tight-bbox template match
  (min Hamming distance over the font; conf = 100·(1 − d/area)).

Environment note: Tesseract/OpenCV are unavailable in this container; this
recognizer is exact on images produced by imaging.render (the fixture
contract of SURVEY.md §5.2) and degrades gracefully (low conf → dropped
words) on anything else.
"""

from __future__ import annotations

import numpy as np

from ..imaging.font import exact_templates, templates
from ..kernels import enhance
from ..kernels.detection import rule_cols, rule_rows

WORD_GAP_PX = 16  # space cell ⇒ gap ≥ 22px; max intra-word gap ≤ 12px
CHAR_GAP_PX = 3   # inter-char gap is ≥ 4px at render scale
LINE_GAP_ROWS = 4 # inter-line gap is 6px; max intra-glyph row gap is 2px
CONF_FLOOR = 30   # reference drops words with conf <= 30 (ocr/engine.py:111)


def _is_binary(img: np.ndarray) -> bool:
    """{0,255}-valued test — single vectorized pass (no unique()/sort)."""
    return bool(((img == 0) | (img == 255)).all())


def _match_char(crop: np.ndarray) -> tuple[str, float]:
    """Nearest template by Hamming distance on tight-bbox-aligned bitmaps,
    with an O(1) exact-bytes fast path for clean glyphs."""
    hit = exact_templates().get(crop.tobytes())
    if hit is not None and hit[1] == crop.shape:
        return hit[0], 100.0
    best_ch, best_conf = "", 0.0
    ch_h, ch_w = crop.shape
    for ch, tmpl, _ in templates():
        th, tw = tmpl.shape
        h, w = max(ch_h, th), max(ch_w, tw)
        a = np.zeros((h, w), dtype=bool)
        b = np.zeros((h, w), dtype=bool)
        a[:ch_h, :ch_w] = crop
        b[:th, :tw] = tmpl
        d = int(np.count_nonzero(a ^ b))
        conf = 100.0 * (1.0 - d / float(h * w))
        if conf > best_conf:
            best_conf, best_ch = conf, ch
    return best_ch, round(best_conf, 2)


def _runs_with_gap_merge(flags: np.ndarray, merge_below: int) -> list[tuple[int, int]]:
    """Contiguous True runs of `flags`, merging runs separated by gaps
    smaller than `merge_below`. Vectorized run extraction, tiny python loop
    over the (few) runs only."""
    d = np.diff(np.concatenate(([False], flags, [False])).astype(np.int8))
    starts = np.nonzero(d == 1)[0]
    ends = np.nonzero(d == -1)[0]
    out: list[tuple[int, int]] = []
    for s, e in zip(starts, ends):
        if out and s - out[-1][1] < merge_below:
            out[-1] = (out[-1][0], int(e))
        else:
            out.append((int(s), int(e)))
    return out


def _line_bands(ink: np.ndarray) -> list[tuple[int, int]]:
    """Row ranges of text lines: ink-row runs separated by >= LINE_GAP_ROWS
    blank rows are distinct lines; smaller internal gaps (e.g. ':') merge."""
    return _runs_with_gap_merge(ink.any(axis=1), LINE_GAP_ROWS)


def _char_runs(colink: np.ndarray) -> list[list[tuple[int, int]]]:
    """Within a line band, given its column-ink flags band.any(axis=0):
    group ink-column runs into words (gap >= WORD_GAP_PX) and chars (gap >=
    CHAR_GAP_PX). Returns [[(x0,x1)...]...]. Vectorized run extraction;
    python loops touch runs, not pixels."""
    chars = _runs_with_gap_merge(colink, CHAR_GAP_PX)
    words: list[list[tuple[int, int]]] = []
    for c in chars:
        if words and c[0] - words[-1][-1][1] < WORD_GAP_PX:
            words[-1].append(c)
        else:
            words.append([c])
    return words


def get_text_data(
    gray: np.ndarray, preprocess: bool = True, binary: np.ndarray | None = None
) -> list[dict]:
    """OCR word data — the engine's `image_to_data` equivalent
    (/root/reference/ocr/engine.py:76-128). Returns word dicts
    {text, bbox:(x,y,w,h), conf, line, block, par} with conf > 30 kept.
    Pass `binary` to reuse an already-binarized image (callers that did the
    census/deskew themselves avoid re-running full-image passes).

    Retry ladder (the reference's degradation-ladder idiom, main.py:660-696):
    on sparse pages the skew estimator's noise guards can reject a true
    shear; if the first pass isn't a perfect template match, alternative
    skew candidates are tried and the best-confidence result wins. The hot
    path stays single-pass — corpus pages match perfectly on pass one."""
    if binary is not None:
        return _extract_words(binary > 0)
    if not preprocess:
        # already-binary ROIs pass through; gray ROIs binarize with Otsu —
        # the engine-wide global-threshold choice: the fixture contract
        # guarantees global ink/background separability in every scenario
        # (ink ≤ 90 < 110 ≤ bg, imaging/render.py), and Otsu is exactly
        # invertible there
        b = gray if _is_binary(gray) else enhance.binarize_otsu(gray)
        return _extract_words(b > 0)
    _, _, words = best_deskew(gray)
    return words


def best_deskew(gray: np.ndarray) -> tuple[np.ndarray, np.ndarray, list[dict]]:
    """Confidence-validated deskew: (deskewed_gray, binary, words).

    Pass 1 uses the guarded profile estimate (enhance.deskew_binary_ink);
    if the extraction is a perfect template match (the common case — every
    corpus page), that's it. Otherwise the FULL candidate grid is probed and each
    candidate validated by recognition confidence, plus an illumination rung
    (remove_shadows) — the reference's degradation-ladder idiom applied to
    preprocessing (main.py:660-696). All pipeline modes deskew through this,
    so region/table/checkbox paths share the robustness."""
    deskewed0, b0, ink0, deg0 = enhance.deskew_binary_ink(gray)
    words = _extract_words(ink0)  # ink mask reused — no binary>0 re-pass
    if _is_perfect(words):
        return deskewed0, b0, words
    best = (deskewed0, b0, words, _mean_conf(words))
    base_binary = b0 if deg0 == 0.0 else enhance.binarize_otsu(gray)
    for deg in enhance.skew_candidates(base_binary):
        if deg == deg0:
            continue
        sheared = enhance._shear_rows(gray, -deg, int(gray[0, 0])) if deg else gray
        b = enhance.binarize_otsu(sheared)
        w2 = _extract_words(b > 0)
        c2 = _mean_conf(w2)
        if c2 > best[3]:
            best = (sheared, b, w2, c2)
            if _is_perfect(w2):
                return best[:3]
    # illumination rung: flatten shadows then re-binarize (the shadows step
    # of the reference's deskew_and_clean chain, enhance.py:142-162 — needed
    # when gradient + noise squeeze the global Otsu margin)
    flat = enhance.remove_shadows(gray)
    b = enhance.binarize_otsu(flat)
    w2 = _extract_words(b > 0)
    if _mean_conf(w2) > best[3]:
        best = (flat, b, w2, _mean_conf(w2))
    return best[:3]


def _mean_conf(words: list[dict]) -> float:
    if not words:
        return 0.0
    return float(sum(w["conf"] for w in words)) / len(words)


def _is_perfect(words: list[dict]) -> bool:
    return bool(words) and all(w["conf"] == 100.0 for w in words)


def _extract_words(ink: np.ndarray) -> list[dict]:
    rr = rule_rows(ink)  # bool mask in: no second binary>0 pass
    if rr.any():
        ink = ink.copy()
        ink[rr, :] = False
    # full-height vertical rules (table borders) likewise: they would fuse
    # all line bands into one and read as spurious glyphs
    rc = rule_cols(ink)
    if rc.any():
        ink = ink.copy()
        ink[:, rc] = False
    words_out: list[dict] = []
    for line_no, (y0, y1) in enumerate(_line_bands(ink)):
        band = ink[y0:y1]
        # Per-column ink extents, computed ONCE per band: char/word y-bounds
        # are then reduceat-mins/maxes over column ranges — the per-char
        # col.any(axis=1)+nonzero passes this replaces dominated the stage
        # with small-array numpy call overhead (identical bounds: a char's
        # tight y-range is the min top / max bottom of its ink columns).
        hb = band.shape[0]
        colink = band.any(axis=0)
        top = np.where(colink, band.argmax(axis=0), hb)
        bot = np.where(colink, hb - 1 - band[::-1].argmax(axis=0), -1)
        for word in _char_runs(colink):
            bounds = np.empty(2 * len(word), np.intp)
            bounds[0::2] = [c[0] for c in word]
            bounds[1::2] = [c[1] for c in word]
            # reduceat segments alternate char span / inter-char gap; even
            # segments are the chars. Non-ink columns carry top=hb / bot=-1
            # sentinels, so gap columns never move a min/max. When the last
            # char ends at the band edge its end index == len(top) (not a
            # valid reduceat index) — drop it; the final segment then ends
            # at the array edge, which is exactly that char's span.
            nb = bounds if bounds[-1] < len(top) else bounds[:-1]
            ctop = np.minimum.reduceat(top, nb)[0::2]
            cbot = np.maximum.reduceat(bot, nb)[0::2]
            chars = []
            confs = []
            for i, (x0, x1) in enumerate(word):
                crop = band[int(ctop[i]): int(cbot[i]) + 1, x0:x1]
                ch, conf = _match_char(crop)
                chars.append(ch)
                confs.append(conf)
            text = "".join(chars)
            # sum/len, not np.mean: no per-word array allocation. NOT
            # provably bit-identical to np.mean — numpy's unrolled
            # multi-accumulator summation changes the add order from 8
            # elements on — so exactness at the round(., 2) / CONF_FLOOR
            # boundaries rests on the media sweep (all ocr_* + media_manifest
            # oracle queries at sf0.01 and sf0.1, 0 mismatches)
            conf = (sum(confs) / len(confs)) if confs else 0.0
            if conf <= CONF_FLOOR or not text.strip():
                continue
            x0 = word[0][0]
            x1 = word[-1][1]
            wy0 = int(ctop.min())
            wy1 = int(cbot.max())
            words_out.append(
                {
                    "text": text,
                    "bbox": (int(x0), int(y0 + wy0),
                             int(x1 - x0), int(wy1 - wy0 + 1)),
                    "conf": round(conf, 2),
                    "line": line_no,
                    "block": 0,
                    "par": 0,
                }
            )
    return words_out


def group_words_into_lines(words: list[dict]) -> list[dict]:
    """Words → lines: concat text with ' ', union bboxes, mean conf —
    exactly /root/reference/ocr/engine.py:131-174 (insertion-ordered)."""
    lines: dict[tuple[int, int, int], dict] = {}
    for w in words:
        key = (w["block"], w["par"], w["line"])
        x, y, bw, bh = w["bbox"]
        if key not in lines:
            lines[key] = {
                "text": w["text"], "x0": x, "y0": y, "x1": x + bw, "y1": y + bh,
                "confs": [w["conf"]], "words": [w],
            }
        else:
            ln = lines[key]
            ln["text"] += " " + w["text"]
            ln["x0"] = min(ln["x0"], x)
            ln["y0"] = min(ln["y0"], y)
            ln["x1"] = max(ln["x1"], x + bw)
            ln["y1"] = max(ln["y1"], y + bh)
            ln["confs"].append(w["conf"])
            ln["words"].append(w)
    return [
        {
            "text": ln["text"],
            "bbox": (ln["x0"], ln["y0"], ln["x1"] - ln["x0"], ln["y1"] - ln["y0"]),
            "words": ln["words"],
            "conf": round(sum(ln["confs"]) / len(ln["confs"]), 2),
        }
        for ln in lines.values()
    ]


def ocr_image(gray: np.ndarray, preprocess: bool = True) -> str:
    """Plain-text OCR: lines joined with '\\n' in emission order — the
    `image_to_string` + join idiom (/root/reference/main.py:484, 552-554)."""
    words = get_text_data(gray, preprocess=preprocess)
    return "\n".join(ln["text"] for ln in group_words_into_lines(words))


def ocr_image_stats(gray: np.ndarray) -> dict:
    """OCR + word stats in one pass (text, n_words, mean_conf) — feeds the
    per-partition metrics table without a second recognition pass."""
    words = get_text_data(gray)
    text = "\n".join(ln["text"] for ln in group_words_into_lines(words))
    mean_conf = (round(sum(w["conf"] for w in words) / len(words), 2)
                 if words else 0.0)
    return {"text": text, "n_words": len(words), "mean_conf": mean_conf}


def ocr_region(gray: np.ndarray, bbox: tuple[int, int, int, int]) -> str:
    """Crop-then-OCR (/root/reference/ocr/engine.py:55-73) without the
    reference's temp-PNG round trip (semantics unchanged: PNG is lossless)."""
    x, y, w, h = bbox
    roi = gray[y : y + h, x : x + w]
    if roi.size == 0:
        return ""
    return ocr_image(roi, preprocess=False)
