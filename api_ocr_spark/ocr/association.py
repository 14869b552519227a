"""Checkbox↔text association, session grouping, radio correction, QA pairs.

Exact re-implementation of /root/reference/ocr/association.py semantics:
  - multi-level scoring (:6-63): dist_score = max(0, 100 − dist/2) over
    bbox centers (soft decay, NO hard radius); alignment 50 iff
    |y_text − y_cb| < 20 on the bboxes' TOP-LEFT y's; position 30 iff the
    text bbox ends left of the checkbox (x_t + w_t < x_cb), 20 iff it
    starts right of it (x_t > x_cb + w_cb), else 10; font min(30, h_t/2);
    OCR conf / 2 with DEFAULT 70 when the line has no 'conf'; total
    normalized by 2.6 and capped at 100.
  - argmax line per checkbox: the reference sorts by confianza descending
    (stable) and takes the head — first-in-input-order wins ties (:59-63).
  - vertical proximity grouping (:66-99): sort by (y, x); a new group starts
    when |y − last member's y| >= umbral_vertical (default 50).
  - radio-group correction (:139-148): if a group has >1 marked, the
    max-'confidence' one (first max in group order) stays; EVERY other
    member of the group — marked or not — gets marked=False and
    corregido=True (the reference's `if cb != mejor` touches all members).
  - QA pairs (:150-166): emitted in the ORIGINAL checkboxes order;
    checkboxes whose associated text is empty are DROPPED; confianza is the
    mean of detection confidence and association confidence.

Pure Python over per-document lists (tiny cardinality) — executed inside the
batched extraction UDF, never as a per-row Spark UDF. The relational analogue
(cross join + scoring expression + window rank-1) is exercised in
__spark_entry__ as `nearest_prior_login`.
"""

from __future__ import annotations

import math


def score_association(checkbox: dict, line: dict) -> float:
    """Reference multi-level score — /root/reference/ocr/association.py:20-51."""
    x_cb, y_cb, w_cb, h_cb = checkbox["bbox"]
    x_t, y_t, w_t, h_t = line["bbox"]
    cbx, cby = x_cb + w_cb / 2.0, y_cb + h_cb / 2.0
    tx, ty = x_t + w_t / 2.0, y_t + h_t / 2.0
    dist = math.hypot(cbx - tx, cby - ty)
    dist_score = max(0.0, 100.0 - dist / 2.0)
    align_score = 50.0 if abs(y_t - y_cb) < 20 else 0.0
    if x_t + w_t < x_cb:  # text fully to the left (ideal)
        pos_score = 30.0
    elif x_t > x_cb + w_cb:  # text fully to the right
        pos_score = 20.0
    else:  # overlapping / above / below
        pos_score = 10.0
    font_score = min(30.0, h_t / 2.0)
    conf_score = line.get("conf", 70) / 2.0  # reference default conf = 70
    total = dist_score + align_score + pos_score + font_score + conf_score
    return min(100.0, total / 2.6)


def asociacion_multi_nivel(checkboxes: list[dict], lines: list[dict]) -> list[dict]:
    """Best-scoring line per checkbox (stable argmax: first max in input
    order, like the reference's stable reverse sort + head,
    /root/reference/ocr/association.py:53-63). Empty lines → text ''."""
    out = []
    for cb in checkboxes:
        best_line, best_score = None, -1.0
        for ln in lines:
            s = score_association(cb, ln)
            if s > best_score:
                best_score, best_line = s, ln
        enriched = dict(cb)
        enriched["text"] = best_line["text"] if best_line is not None else ""
        enriched["association_confidence"] = best_score if best_line is not None else 0.0
        out.append(enriched)
    return out


def group_by_proximity(checkboxes: list[dict], gap_threshold: int = 50) -> list[list[dict]]:
    """1-D session window on y: sort by (y, x); a vertical gap >= threshold
    from the group's LAST member starts a new group —
    /root/reference/ocr/association.py:66-99 (default umbral_vertical=50;
    duplicate logic at preprocessing/checkbox.py:282-314)."""
    if not checkboxes:
        return []
    cbs = sorted(checkboxes, key=lambda c: (c["bbox"][1], c["bbox"][0]))
    groups: list[list[dict]] = [[cbs[0]]]
    for cur in cbs[1:]:
        if abs(cur["bbox"][1] - groups[-1][-1]["bbox"][1]) < gap_threshold:
            groups[-1].append(cur)
        else:
            groups.append([cur])
    return groups


def correct_radio_groups(groups: list[list[dict]]) -> None:
    """Within each group, if more than one checkbox is marked keep only the
    max-'confidence' one (first max in group order); every OTHER member of
    the group — marked or not — is unmarked and flagged corregido, exactly
    like the reference's `if cb != mejor` loop
    (/root/reference/ocr/association.py:139-148). Mutates in place."""
    for g in groups:
        marked = [cb for cb in g if cb.get("marked", False)]
        if len(marked) > 1:
            best = max(marked, key=lambda cb: cb.get("confidence", 0))
            for cb in g:
                if cb != best:
                    cb["marked"] = False
                    cb["corregido"] = True


def build_question_answer_pairs(checkboxes: list[dict], lines: list[dict]) -> list[dict]:
    """Full association flow → QA pairs
    (/root/reference/ocr/association.py:107-166): associate, group, correct,
    then emit in the ORIGINAL checkbox order, dropping checkboxes with no
    associated text; confianza averages detection and association
    confidences."""
    associated = asociacion_multi_nivel(checkboxes, lines)
    groups = group_by_proximity(associated)
    correct_radio_groups(groups)  # mutates the dicts `associated` holds
    return [
        {
            "pregunta": cb["text"],
            "respuesta": "marcado" if cb.get("marked", False) else "no marcado",
            "tipo": cb.get("tipo", "desconocido"),
            "confianza": (cb.get("confidence", 0) + cb.get("association_confidence", 0)) / 2,
            "bbox_checkbox": cb["bbox"],
            "corregido_por_grupo": cb.get("corregido", False),
        }
        for cb in associated
        if cb.get("text")
    ]

