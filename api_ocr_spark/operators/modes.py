"""Per-image pipeline modes — the reference's endpoints as pure functions
(np.ndarray → result dict), executed inside the Arrow-batched extraction UDF.

Endpoint map (SURVEY.md §2.11):
  basico             POST /ocr/basico             (/root/reference/main.py:718-800)
  segmentado         POST /ocr/segmentado         (main.py:803-886)
  tabla              POST /ocr/tabla              (main.py:889-972)
  documento_completo POST /ocr/documento_completo (main.py:975-1152)
  checkboxes         POST /ocr/checkboxes         (main.py:1155-1303)

Each returns {"text": str, "route": str, ...extras}. Text is the raw
newline-joined OCR output; whitespace normalization happens in the Spark
layer so span equality is whitespace-insensitive exactly once.
"""

from __future__ import annotations

import numpy as np

from ..config import (
    MAX_DIMENSION_BASIC, MAX_DIMENSION_BASIC_RETRY, MAX_DIMENSION_DOCUMENTO,
    MAX_DIMENSION_SEGMENTADO, MAX_SIZE_MB_DOCUMENTO, TABLE_ROUTE_MIN_HLINES,
)
from ..kernels import checkbox as cbk
from ..kernels import detection, enhance
from ..ocr import association, engine


def _bbox_overlaps(a, b) -> bool:
    ax, ay, aw, ah = a
    bx, by, bw, bh = b
    return ax < bx + bw and bx < ax + aw and ay < by + bh and by < ay + ah


def run_basico(gray: np.ndarray) -> dict:
    """No preprocessing beyond decode; degradation ladder on failure
    (/root/reference/main.py:660-696: 1000 px then 850 px retry)."""
    for max_dim in (MAX_DIMENSION_BASIC, MAX_DIMENSION_BASIC_RETRY):
        img = enhance.cap_max_dimension(gray, max_dim)
        try:
            out = engine.ocr_image_stats(img)
            out["route"] = "basico"
            return out
        except Exception:  # noqa: BLE001 — ladder: degrade, never fail the task
            continue
    return {"text": "", "route": "basico_failed"}


def run_segmentado(gray: np.ndarray, _pre: tuple | None = None) -> dict:
    """best_deskew → segment_regions (+ tables via containment anti-join)
    → sort (y,x) → per-region OCR → re-join (/root/reference/main.py:495-559).
    The reference's bounded 3-way concurrency is superseded by Spark task
    parallelism (SURVEY.md §2.12). `_pre` carries (deskewed, binary, tables)
    from a caller that already computed them (tabla-route fallback)."""
    if _pre is not None:
        deskewed, binary, tables_pre = _pre
    else:
        gray = enhance.cap_max_dimension(gray, MAX_DIMENSION_SEGMENTADO)
        deskewed, binary, _ = engine.best_deskew(gray)
        tables_pre = None
    # mask full-width ruling before region proposal: ruling would otherwise
    # dilate into large empty regions that each pay an OCR call and then emit
    # nothing (the engine drops rule rows anyway — output is identical)
    rr = detection.rule_rows(binary)
    if rr.any():
        binary = binary.copy()
        binary[rr, :] = 0
    regions = detection.segment_regions(binary)
    # keep innermost regions: a bbox that fully contains another region is a
    # frame/envelope (e.g. a table border ring) — OCRing it would re-read the
    # interior regions' text
    regions = [
        r for r in regions
        if not any(
            o is not r and detection.contains(r["bbox"], o["bbox"]) for o in regions
        )
    ]
    tables = tables_pre if tables_pre is not None else detection.detect_tables(binary)
    # containment anti-join: add tables not fully inside an existing region
    # (/root/reference/main.py:148-164). Deviation (documented): regions
    # fully inside an appended table are dropped — OCRing both the table
    # and its interior regions would emit the same text twice.
    for t in tables:
        if not any(detection.contains(r["bbox"], t["bbox"]) for r in regions):
            regions = [r for r in regions if not detection.contains(t["bbox"], r["bbox"])]
            regions.append(t)
    regions.sort(key=lambda r: (r["bbox"][1], r["bbox"][0]))  # reading order
    if not regions:
        return {"text": engine.ocr_image(deskewed, preprocess=False), "route": "segmentado_empty"}
    # ONE full-page recognition pass, then words assigned to regions by
    # bbox-center containment — text-identical to per-region crop OCR (the
    # engine binarizes globally, so a crop's words ARE the page's words
    # restricted to the crop; proven by the media sweeps) at a fraction of
    # the cost: per-region ocr_region calls re-ran banding/segmentation per
    # crop, the dominant expense on ruled/boxed pages.
    words_all = engine.get_text_data(deskewed, binary=binary)

    def region_text(r: dict) -> str:
        # solid-ink regions (density ~1: ruling lines, separators) carry no
        # text — the OCR engine would drop them as rule rows anyway
        if r["type"] == "line" and r["confidence"] > 0.9:
            return ""
        rx, ry, rw, rh = r["bbox"]
        ws = [
            w for w in words_all
            if rx <= w["bbox"][0] + w["bbox"][2] / 2 < rx + rw
            and ry <= w["bbox"][1] + w["bbox"][3] / 2 < ry + rh
        ]
        return "\n".join(ln["text"] for ln in engine.group_words_into_lines(ws))

    return {
        "text": "\n".join(region_text(r) for r in regions),
        "route": "segmentado",
        "n_regions": len(regions),
    }


def run_tabla(gray: np.ndarray, _pre: tuple | None = None) -> dict:
    """Largest-table crop → OCR (/root/reference/main.py:562-586); falls back
    to segmentation when no table is found (main.py:293-296 semantics)."""
    if _pre is not None:
        deskewed, binary = _pre
    else:
        # the reference's tabla endpoint reads through the same 1100-px cap
        # as segmentado (/root/reference/main.py:895-906: read_image with
        # max_dimension=DOCUMENTO_MAX_DIMENSION)
        gray = enhance.cap_max_dimension(gray, MAX_DIMENSION_SEGMENTADO)
        deskewed, binary, _ = engine.best_deskew(gray)
    tables = detection.detect_tables(binary)
    if not tables:
        out = run_segmentado(gray, _pre=(deskewed, binary, tables))
        out["route"] = "tabla_fallback_segmentacion"
        return out
    largest = max(tables, key=lambda t: t["bbox"][2] * t["bbox"][3])  # main.py:231
    return {
        "text": engine.ocr_region(binary, largest["bbox"]),
        "route": "tabla",
        "n_tables": len(tables),
    }


def run_documento_completo(gray: np.ndarray) -> dict:
    """Auto-routing by horizontal-line census (/root/reference/main.py:999-1054):
    >10 rules → table path (with segmentation fallback); else plain
    preprocessing path."""
    gray = enhance.cap_max_dimension(gray, MAX_DIMENSION_DOCUMENTO)
    gray = enhance.area_budget_resize(gray, MAX_SIZE_MB_DOCUMENTO)
    deskewed, binary, words = engine.best_deskew(gray)
    num_horizontal = detection.count_horizontal_lines(binary)
    if num_horizontal > TABLE_ROUTE_MIN_HLINES:
        out = run_tabla(deskewed, _pre=(deskewed, binary))
        out["num_horizontal"] = num_horizontal
        return out
    # texto route: reuse the validated extraction directly
    text = "\n".join(ln["text"] for ln in engine.group_words_into_lines(words))
    mean_conf = round(float(sum(w["conf"] for w in words) / len(words)), 2) if words else 0.0
    return {
        "text": text,
        "n_words": len(words),
        "mean_conf": mean_conf,
        "route": "texto",
        "num_horizontal": num_horizontal,
    }


def run_checkboxes(gray: np.ndarray) -> dict:
    """best_deskew → detect_checkboxes → words/lines → QA pairs + a
    separate full-text pass (/root/reference/main.py:1155-1303; the reference
    OCRs the same image twice with different PSM — here one engine pass feeds
    both, SURVEY.md §3.2)."""
    deskewed, binary, words = engine.best_deskew(gray)
    checkboxes = cbk.detect_checkboxes(binary)
    clear_words = [
        w for w in words
        if not any(_bbox_overlaps(w["bbox"], cb["bbox"]) for cb in checkboxes)
    ]
    lines = engine.group_words_into_lines(clear_words)
    qa = association.build_question_answer_pairs(checkboxes, lines)
    return {
        "text": "\n".join(ln["text"] for ln in lines),
        "route": "checkboxes",
        "qa_pairs": qa,
        "n_checkboxes": len(checkboxes),
    }


def run_mode(gray: np.ndarray, mode: str) -> dict:
    if mode == "basico":
        return run_basico(gray)
    if mode == "segmentado":
        return run_segmentado(gray)
    if mode == "tabla":
        return run_tabla(gray)
    if mode == "documento_completo":
        return run_documento_completo(gray)
    if mode == "checkboxes":
        return run_checkboxes(gray)
    raise ValueError(f"unknown mode {mode!r}")
