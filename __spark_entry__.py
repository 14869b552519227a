"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` smoke-runs the flagship extraction on sf0.001; `queries()`
exposes each implemented operator family from SURVEY.md §2 as a
(spark, sf_dir) -> DataFrame callable; `oracle_sql()` gives the DuckDB
equivalent over the same parquet views.

Determinism contracts making the OCR pipeline oracle-checkable end-to-end:
  - span synthesis constants (api_ocr_spark/config.py) are reproduced
    verbatim in SQL (CHUNK_WORDS=8, MEDIA_MOD=3, SCENARIO_MULT=31);
  - rendered media images round-trip exactly through the glyph OCR engine
    (proved by tests/test_ocr.py::test_roundtrip_exact), so extracted text
    equals whitespace-normalized lowercase source text;
  - float-sensitive queries quantize to integers first (cents, x*1000) so
    aggregation order cannot perturb results between engines.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from api_ocr_spark.functions import text as T  # noqa: E402
from api_ocr_spark.operators import dedup, graph, keywords, pipeline, similarity  # noqa: E402
from api_ocr_spark.sources.interleave import build_media, flat_spans  # noqa: E402
from api_ocr_spark.sources.tables import load_table  # noqa: E402


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full interleaved-doc extraction (documento_completo mode)."""
    docs = _docs(spark, "/root/testdata/sf0.001").limit(100)
    return pipeline.extract_documents(docs, mode="documento_completo")


# --------------------------------------------------------------------------
# OCR pipeline family
# --------------------------------------------------------------------------

_NORM_SQL = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

_ROUNDTRIP_ORACLE = f"""
SELECT CAST(doc_id AS VARCHAR) AS doc_id, {_NORM_SQL} AS extracted_text
FROM documents
"""


def _ocr_roundtrip(mode: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = _docs(spark, sf_dir)
        out = pipeline.extract_documents(docs, mode=mode)
        return out.select("doc_id", "extracted_text")

    return q


_SPANS_CTE = """
WITH w AS (
  SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents
), c AS (
  SELECT doc_id, ws, unnest(range(CAST(ceil(len(ws) / 8.0) AS BIGINT))) AS off
  FROM w
)
"""


def _ocr_from_spans(mode: str):
    """The production entry point: a pre-built input_hint-shaped spans table
    + a separate media store, joined by media_ref (extract_from_spans) —
    exercises the media join path instead of the fused render→OCR path.
    Driver-checked for BOTH the basico and documento_completo routes (the
    latter adds the >10-h-lines table routing + unified-coords pass)."""
    from api_ocr_spark.sources.interleave import build_documents_spans, build_media

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = _docs(spark, sf_dir)
        spans_table = build_documents_spans(docs)
        media = build_media(docs)
        out = pipeline.extract_from_spans(spans_table, media, mode=mode)
        return out.select("doc_id", "extracted_text")

    return q


q_ocr_from_spans_table = _ocr_from_spans("basico")
q_ocr_from_spans_completo = _ocr_from_spans("documento_completo")


def q_span_synthesis(spark: SparkSession, sf_dir: str) -> DataFrame:
    fs = flat_spans(_docs(spark, sf_dir))
    return fs.select(
        "doc_id",
        F.col("offset").cast("int").alias("offset"),
        "kind",
        F.coalesce("media_ref", F.lit("")).alias("media_ref"),
        "chunk",
    )


ORACLE_SPAN_SYNTHESIS = _SPANS_CTE + """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       CAST(off AS INTEGER) AS offset,
       CASE WHEN (doc_id + off) % 3 = 0 THEN 'media' ELSE 'text' END AS kind,
       CASE WHEN (doc_id + off) % 3 = 0
            THEN 'm-' || CAST(doc_id AS VARCHAR) || '-' || CAST(off AS VARCHAR)
            ELSE '' END AS media_ref,
       array_to_string(ws[CAST(off*8+1 AS BIGINT):CAST(off*8+8 AS BIGINT)], ' ') AS chunk
FROM c
"""


def q_interleave_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved-corpus composition datasheet — per-document span mix
    over the north-rule input shape (doc_id, spans array): span counts
    by kind and the media fraction in exact permille (integer DIV).
    Multimodal training mixtures budget text vs media tokens from
    exactly this ledger. Pure Catalyst over the spans frame: size/
    filter on the array column, zero shuffle beyond the synthesis."""
    from api_ocr_spark.sources.interleave import build_documents_spans

    spans = build_documents_spans(_docs(spark, sf_dir))
    n_spans = F.size("spans").cast("long")
    n_media = F.size(
        F.filter("spans", lambda s: s["kind"] == "media")).cast("long")
    return spans.select(
        F.col("doc_id"),
        n_spans.alias("n_spans"),
        n_media.alias("n_media"),
        (n_spans - n_media).alias("n_text"),
        F.expr("CAST(size(filter(spans, s -> s.kind = 'media')) AS BIGINT)"
               " * 1000 DIV size(spans)").alias("media_permille"),
    )


ORACLE_INTERLEAVE_STATS = _SPANS_CTE + """
, k AS (
  SELECT doc_id, off,
    CASE WHEN (doc_id + off) % 3 = 0 THEN 1 ELSE 0 END AS is_media
  FROM c
)
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
  CAST(count(*) AS BIGINT) AS n_spans,
  CAST(sum(is_media) AS BIGINT) AS n_media,
  CAST(count(*) - sum(is_media) AS BIGINT) AS n_text,
  CAST((sum(is_media) * 1000) // count(*) AS BIGINT) AS media_permille
FROM k GROUP BY doc_id
"""


def q_media_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media-store manifest — METADATA-only projection, so it routes through
    the Catalyst-expression manifest (interleave.build_media_manifest): the
    old build_media(...).select(...) rendered + encoded every image inside
    the opaque Python stage just to discard the pixels (guide §4.1)."""
    from api_ocr_spark.sources.interleave import build_media_manifest

    return build_media_manifest(_docs(spark, sf_dir))


ORACLE_MEDIA_MANIFEST = _SPANS_CTE + """
SELECT 'm-' || CAST(doc_id AS VARCHAR) || '-' || CAST(off AS VARCHAR) AS media_ref,
       CASE WHEN (doc_id * 7 + off) % 4 = 0 THEN 'jpeg' ELSE 'png' END AS fmt,
       (['plain','skewed','noisy','shadow','ruled','boxed','skewed_noisy','large'])[CAST((doc_id*31 + off) % 8 AS BIGINT) + 1] AS scenario,
       lower(array_to_string(ws[CAST(off*8+1 AS BIGINT):CAST(off*8+8 AS BIGINT)], ' ')) AS truth_text
FROM c
WHERE (doc_id + off) % 3 = 0
"""


def _enriched(col_doc_num, col_text):
    """Deterministic enrichment exercising every estructurar field: weekday
    variants (accented included), bare + am/pm times, a time range, a long
    date, a 'deben traer' material list and a newline-separated nota. The
    SQL twin _ENRICH_SQL mirrors this expression term by term."""
    hh = (col_doc_num % 24).cast("string")
    mm = F.lpad((col_doc_num % 60).cast("string"), 2, "0")
    day = (col_doc_num % 28 + 1).cast("string")
    yd = (col_doc_num % 10).cast("string")
    wk = F.when(col_doc_num % 2 == 0, F.lit("miércoles")).otherwise(F.lit("sábado 15"))
    ampm = F.when(col_doc_num % 3 == 0, F.lit("10:30 am")).otherwise(F.lit("4:15 p.m."))
    mat = F.when(
        col_doc_num % 4 == 0,
        F.lit("\ndeben traer lapiz, papel y tijeras extra."),
    ).otherwise(F.lit(""))
    nota = F.when(
        col_doc_num % 5 == 0, F.lit("\nnota: asistencia obligatoria")
    ).otherwise(F.lit(""))
    main = F.concat_ws(
        " ",
        F.lower(col_text),
        F.lit("lunes"),
        wk,
        F.concat(hh, F.lit(":"), mm),
        ampm,
        F.lit("9:00-17:00"),
        F.concat(day, F.lit(" de enero de 202"), yd),
    )
    return F.concat(main, mat, nota)


_ENRICH_SQL = (
    "lower(text) || ' lunes ' || "
    "CASE WHEN doc_id % 2 = 0 THEN 'miércoles' ELSE 'sábado 15' END || ' ' || "
    "CAST(doc_id % 24 AS VARCHAR) || ':' || "
    "lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') || ' ' || "
    "CASE WHEN doc_id % 3 = 0 THEN '10:30 am' ELSE '4:15 p.m.' END || "
    "' 9:00-17:00 ' || "
    "CAST(doc_id % 28 + 1 AS VARCHAR) || ' de enero de 202' || CAST(doc_id % 10 AS VARCHAR) || "
    "CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'deben traer lapiz, papel y tijeras extra.' ELSE '' END || "
    "CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'nota: asistencia obligatoria' ELSE '' END"
)


def q_estructurar_texto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured extraction (estructurar_texto_ocr,
    /root/reference/ocr/postprocess.py:136-153) as native expressions over
    deterministically enriched text — ALL six fields oracle-checked:
    texto_limpio, horarios (am/pm forms included), dias (accented weekday
    forms included), materiales, notas, fechas."""
    docs = _docs(spark, sf_dir)
    enriched = _enriched(F.col("doc_id"), F.col("text"))
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        T.normalize_ws(enriched).alias("texto_limpio"),
        T.horarios_str(enriched).alias("horarios"),
        T.dias_str(enriched).alias("dias"),
        T.materiales_str(enriched).alias("materiales"),
        T.notas_str(enriched).alias("notas"),
        T.fechas_str(enriched).alias("fechas"),
    )


# the oracle uses the SAME regex constants as the Spark expressions —
# textually identical patterns, substituted below
_WEEKDAYS_SQL = ",".join(f"'{d}'" for d in T.WEEKDAYS)
_DIAS_NUM_PATTERN = r"\b((?:" + "|".join(T.WEEKDAYS) + r")\s+[0-9]{1,2})\b"

ORACLE_ESTRUCTURAR = r"""
WITH e AS (SELECT doc_id, <ENRICH> AS et FROM documents)
SELECT doc_id,
  trim(regexp_replace(et, '\s+', ' ', 'g')) AS texto_limpio,
  array_to_string(list_sort(list_distinct(
      list_concat(regexp_extract_all(et, '(<TIME>)', 1),
                  regexp_extract_all(et, '(<RANGE>)', 1)))), ',') AS horarios,
  array_to_string(list_sort(list_distinct(list_concat(
      list_filter([<WEEKDAYS>], d -> contains(lower(et), d)),
      regexp_extract_all(lower(et), '<DIASNUM>', 1)))), ',') AS dias,
  coalesce(array_to_string(list_filter(list_transform(
      string_split_regex(regexp_extract(et, '<MAT>', 1), '[,\n]'),
      x -> trim(x)), x -> x != ''), ','), '') AS materiales,
  coalesce(array_to_string(list_transform(list_filter(string_split(et, chr(10)),
      l -> contains(lower(l), 'asisten el día') OR contains(lower(l), 'nota')),
      l -> trim(l)), ' '), '') AS notas,
  array_to_string(list_sort(list_distinct(
      regexp_extract_all(lower(et), '(<DATE>)', 1))), ',') AS fechas
FROM e
""".replace("<ENRICH>", _ENRICH_SQL) \
   .replace("<TIME>", T.TIME_PATTERN) \
   .replace("<RANGE>", T.TIME_RANGE_PATTERN) \
   .replace("<WEEKDAYS>", _WEEKDAYS_SQL) \
   .replace("<DIASNUM>", _DIAS_NUM_PATTERN) \
   .replace("<MAT>", T.MATERIALES_PATTERN) \
   .replace("<DATE>", T.DATE_PATTERN)


def q_limpiar_texto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """limpiar_texto_ocr artifact cleanup on text with injected OCR junk."""
    docs = _docs(spark, sf_dir)
    junked = F.concat(F.col("text"), F.lit(" 3,5|x 25* c 30% fin"))
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        T.limpiar_texto_ocr_col(junked).alias("texto_limpio"),
    )


ORACLE_LIMPIAR = r"""
SELECT doc_id,
  trim(regexp_replace(
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(text || ' 3,5|x 25* c 30% fin', '\|', ' ', 'g'),
          '([0-9]+)[%*]\s*([A-Za-z])', '\1° \2', 'g'),
        '([0-9]+)[%*]', '\1°', 'g'),
      '([0-9]+),([0-9]+)', '\1.\2', 'g'),
    '\s+', ' ', 'g')) AS texto_limpio
FROM documents
"""


def q_checkbox_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkbox pipeline end-to-end, oracle-checked with fixtures that
    DISCRIMINATE the reference association formula
    (/root/reference/ocr/association.py:20-51,66-99,139-166):
      - rows 1-2: square/circle with rule-derived marked states, one
        proximity group each (gaps >= 50);
      - rows 3-5: a radio triple (gaps 32 < umbral 50) with TWO marked boxes
        of different detection confidence (mark insets 5 vs 6 → 64 vs 36) —
        the max-confidence one stays marcado and BOTH other members (the
        unmarked one included) come back corregido_por_grupo, the
        reference's `if cb != mejor` quirk;
      - row 6: a far label at label_dx=140 (center distance ~140-190 px) —
        associated only under the reference's soft max(0,100-dist/2) decay,
        lost under a hard 100 px cutoff;
      - row 7: an '(b)'-style inciso (aspect>1.5, area<500, PSM-8 OCR,
        regex ^\\([a-zA-Z0-9]\\)$), never marked;
      - a second orphan-only form (one checkbox, zero text) that must emit
        NOTHING: the reference drops checkboxes with empty associated text.
    """
    import pandas as pd

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 60).select("doc_id", "text")

    def gen(batches):
        from api_ocr_spark.imaging.render import render_form
        from api_ocr_spark.kernels import checkbox as cbk
        from api_ocr_spark.kernels import enhance
        from api_ocr_spark.ocr import association, engine
        from api_ocr_spark.operators.modes import _bbox_overlaps

        def qa_of(img):
            binary = enhance.binarize_otsu(img)
            cbs = cbk.detect_checkboxes(binary)
            wds = [
                w for w in engine.get_text_data(img, preprocess=False)
                if not any(_bbox_overlaps(w["bbox"], c["bbox"]) for c in cbs)
            ]
            return association.build_question_answer_pairs(
                cbs, engine.group_words_into_lines(wds))

        # the orphan-only form is doc-independent: render + QA it ONCE per
        # task (it must emit zero pairs; re-rendering per doc was pure waste)
        orphan_img, _ = render_form(
            [{"label": None, "marked": False, "kind": "square", "y": 0}])
        orphan_pairs = qa_of(orphan_img)
        for pdf in batches:
            out = {"doc_id": [], "pregunta": [], "respuesta": [], "tipo": [],
                   "corregido": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                ws = [w[:8] for w in str(text).split()]
                rows = [
                    {"label": ws[0], "marked": d % 2 == 0, "kind": "square", "y": 0},
                    {"label": ws[1], "marked": d % 3 == 0, "kind": "circle", "y": 56},
                    {"label": ws[2], "marked": True, "kind": "square", "y": 160},
                    {"label": ws[3], "marked": False, "kind": "square", "y": 192},
                    {"label": ws[4], "marked": True, "kind": "square", "y": 224,
                     "mark_inset": 6},
                    {"label": ws[5], "marked": d % 5 == 0, "kind": "square",
                     "y": 340, "label_dx": 140},
                    {"label": ws[6], "marked": False, "kind": "inciso", "y": 408,
                     "inciso_char": "b"},
                ]
                img, _ = render_form(rows)
                for p in qa_of(img) + orphan_pairs:
                    out["doc_id"].append(d)
                    out["pregunta"].append(p["pregunta"])
                    out["respuesta"].append(p["respuesta"])
                    out["tipo"].append(p["tipo"])
                    out["corregido"].append(bool(p["corregido_por_grupo"]))
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        gen,
        schema="doc_id long, pregunta string, respuesta string, tipo string, "
               "corregido boolean",
    )


ORACLE_CHECKBOX_QA = """
WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents WHERE doc_id < 60)
SELECT doc_id, lower(substr(ws[1], 1, 8)) AS pregunta,
       CASE WHEN doc_id % 2 = 0 THEN 'marcado' ELSE 'no marcado' END AS respuesta,
       'square' AS tipo, false AS corregido
FROM w
UNION ALL
SELECT doc_id, lower(substr(ws[2], 1, 8)),
       CASE WHEN doc_id % 3 = 0 THEN 'marcado' ELSE 'no marcado' END,
       'circle', false
FROM w
UNION ALL  -- radio triple: highest-confidence marked box wins ...
SELECT doc_id, lower(substr(ws[3], 1, 8)), 'marcado', 'square', false FROM w
UNION ALL  -- ... every other group member is corregido, the unmarked one too
SELECT doc_id, lower(substr(ws[4], 1, 8)), 'no marcado', 'square', true FROM w
UNION ALL
SELECT doc_id, lower(substr(ws[5], 1, 8)), 'no marcado', 'square', true FROM w
UNION ALL  -- far label: associated only under soft distance decay
SELECT doc_id, lower(substr(ws[6], 1, 8)),
       CASE WHEN doc_id % 5 = 0 THEN 'marcado' ELSE 'no marcado' END,
       'square', false
FROM w
UNION ALL  -- inciso row (the orphan-only form contributes zero rows)
SELECT doc_id, lower(substr(ws[7], 1, 8)), 'no marcado', 'inciso', false FROM w
"""


# --------------------------------------------------------------------------
# Relational operator family (SURVEY.md §2.2-2.6 analogues on TPC-H tables)
# --------------------------------------------------------------------------

def q_checkbox_nearest_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's nearest-ABOVE checkbox↔text join
    (/root/reference/preprocessing/checkbox.py:157-190) as a genuinely
    distributed DataFrame op over deterministic synthetic geometry: text
    regions strictly above the checkbox center within 100 px, argmin
    distance, '' / -1 defaults when no candidate (doc-dependent for the
    third checkbox — both branches exercised)."""
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.split(F.trim("text"), " ").alias("ws"),
    )
    cbs = docs.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(2))).alias("cb_id")
    ).select(
        "doc_id", F.col("cb_id").cast("long").alias("cb_id")
    ).withColumn("cb_center", F.lit(120) + 90 * F.col("cb_id") + F.col("doc_id") % 7)
    trs = docs.select(
        "doc_id", "ws", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("tr_id")
    ).select(
        "doc_id",
        (F.lit(30) + 55 * F.col("tr_id").cast("long") + F.col("doc_id") % 11).alias("tr_center"),
        F.col("ws")[F.col("tr_id")].alias("tr_text"),
    )
    dist = F.col("cb_center") - F.col("tr_center")
    cand = cbs.join(trs, "doc_id").filter((F.col("tr_center") < F.col("cb_center")) & (dist < 100))
    best = cand.groupBy("doc_id", "cb_id").agg(
        F.min_by("tr_text", dist).alias("best_text"),
        F.min(dist).alias("best_dist"),
    )
    return cbs.join(best, ["doc_id", "cb_id"], "left").select(
        "doc_id",
        "cb_id",
        F.coalesce("best_text", F.lit("")).alias("associated_text"),
        F.coalesce("best_dist", F.lit(-1)).cast("long").alias("distance"),
    )


ORACLE_CHECKBOX_NEAREST = """
WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
cb AS (SELECT doc_id, unnest(range(3)) AS cb_id FROM d),
cbc AS (SELECT doc_id, cb_id, 120 + 90 * cb_id + doc_id % 7 AS cb_center FROM cb),
tr AS (SELECT doc_id, unnest(range(4)) AS tr_id, ws FROM d),
trc AS (SELECT doc_id, 30 + 55 * tr_id + doc_id % 11 AS tr_center,
               ws[CAST(tr_id + 1 AS BIGINT)] AS tr_text FROM tr),
best AS (
  SELECT c.doc_id, c.cb_id,
         arg_min(t.tr_text, c.cb_center - t.tr_center) AS best_text,
         min(c.cb_center - t.tr_center) AS best_dist
  FROM cbc c JOIN trc t
    ON c.doc_id = t.doc_id AND t.tr_center < c.cb_center
   AND c.cb_center - t.tr_center < 100
  GROUP BY 1, 2
)
SELECT c.doc_id, CAST(c.cb_id AS BIGINT) AS cb_id,
       coalesce(b.best_text, '') AS associated_text,
       CAST(coalesce(b.best_dist, -1) AS BIGINT) AS distance
FROM cbc c LEFT JOIN best b ON c.doc_id = b.doc_id AND c.cb_id = b.cb_id
"""


def q_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-flavor aggregation; money quantized to cents so sums are
    integer-exact in both engines (partial agg map-side; one shuffle)."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    disc_pct = F.round(F.col("l_discount") * 100, 0).cast("long")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.sum(cents).alias("sum_base_cents"),
            F.sum(cents * (100 - disc_pct)).alias("sum_disc_e4"),
            F.count("*").alias("count_order"),
        )
    )


ORACLE_AGG_PRICING = """
SELECT l_returnflag, l_linestatus,
  round(SUM(l_quantity), 2) AS sum_qty,
  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
      * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS sum_disc_e4,
  COUNT(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


def q_rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (hierarchical subtotals) — beyond the reference's
    flat group-bys; cents-quantized for cross-engine exactness."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.sum(cents).alias("sum_cents"), F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "sum_cents",
            "n",
        )
    )


ORACLE_ROLLUP_PRICING = """
SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
       coalesce(l_linestatus, 'ALL') AS l_linestatus,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       COUNT(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join orders⋈customer⋈nation; nation broadcast (tiny dim)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(cents).alias("revenue_cents"), F.count("*").alias("n_orders"))
    )


ORACLE_REVENUE_BY_NATION = """
SELECT n_name,
  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
  COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k (rank-1 pattern generalized): top-3 orders by price."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "o_custkey", "o_orderkey",
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("price_cents"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


ORACLE_TOPK_ORDERS = """
SELECT o_custkey, o_orderkey,
       CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
       CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders
) WHERE rnk <= 3
"""


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (the checkbox proximity-grouping idiom,
    SURVEY.md §2.4): new session when gap >= 30 min; sessions per user."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    flagged = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap >= 1800 * 1_000_000), F.lit(1)).otherwise(F.lit(0)),
    )
    return (
        flagged.groupBy("user_id")
        .agg(F.sum("new_session").alias("n_sessions"), F.count("*").alias("n_events"))
    )


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (the ClickHouse windowFunnel /
    Amplitude-style product query): per user, the deepest
    view -> click -> purchase chain completed within ONE HOUR of the
    view, exact semantics: for each distinct view instant t0, step 2 =
    the MINIMAL click strictly after t0 within (t0, t0+W]; step 3 = the
    minimal purchase strictly after that click within the SAME window;
    funnel_depth = max over the user's views (0 for users with events
    but no views). All epoch-microsecond integer arithmetic
    (unix_micros <-> epoch_us, the sessionize pair); min-next-step
    resolution by (user_id, hour_bucket) EQUI-joins — the window W equals
    the bucket width, so a step-2/3 event in (t0, t0+W] lives in the
    anchor's own bucket or the next one; each view row is exploded to
    those two bucket keys and every qualifying pair meets EXACTLY once
    (the event's bucket is a single value), making the bucketed join +
    the unchanged range filter result-identical to the plain user-keyed
    join while bounding candidates to events-per-2-bucket-window. A bot
    user with 1e5 views and 1e5 clicks spread over a month meets per
    co-bucket pairs instead of 1e10 row combinations, and the bucket
    rides the shuffle key so AQE can split what remains
    (guide §2.5: salt the hot key — here the salt is the time bucket
    the semantics already provide)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"))
    win = 3600 * 1_000_000
    views = ev.where(F.col("event_type") == "view") \
        .select("user_id", F.col("us").alias("v_us")).distinct()
    clicks = ev.where(F.col("event_type") == "click") \
        .select("user_id", F.col("us").alias("c_us"))
    buys = ev.where(F.col("event_type") == "purchase") \
        .select("user_id", F.col("us").alias("p_us"))
    vb = views.select(
        "user_id", "v_us",
        F.explode(F.array(F.expr(f"v_us DIV {win}"),
                          F.expr(f"v_us DIV {win}") + 1)).alias("jb"))
    s2 = (vb.join(clicks.withColumn("jb", F.expr(f"c_us DIV {win}")),
                  ["user_id", "jb"])
          .where((F.col("c_us") > F.col("v_us"))
                 & (F.col("c_us") <= F.col("v_us") + win))
          .groupBy("user_id", "v_us")
          .agg(F.min("c_us").alias("t1")))
    s2b = s2.select(
        "user_id", "v_us", "t1",
        F.explode(F.array(F.expr(f"v_us DIV {win}"),
                          F.expr(f"v_us DIV {win}") + 1)).alias("jb"))
    s3 = (s2b.join(buys.withColumn("jb", F.expr(f"p_us DIV {win}")),
                   ["user_id", "jb"])
          .where((F.col("p_us") > F.col("t1"))
                 & (F.col("p_us") <= F.col("v_us") + win))
          .groupBy("user_id", "v_us")
          .agg(F.min("p_us").alias("t2")))
    depth = (
        views.join(s2.select("user_id", "v_us", F.lit(1).alias("has2")),
                   ["user_id", "v_us"], "left")
        .join(s3.select("user_id", "v_us", F.lit(1).alias("has3")),
              ["user_id", "v_us"], "left")
        .select("user_id",
                (F.lit(1) + F.coalesce("has2", F.lit(0))
                 + F.coalesce("has3", F.lit(0))).alias("d"))
        .groupBy("user_id")
        .agg(F.max("d").alias("fd"), F.count("*").alias("nv"))
    )
    return (
        ev.select("user_id").distinct()
        .join(depth, "user_id", "left")
        .select(
            "user_id",
            F.coalesce("nv", F.lit(0)).cast("long").alias("n_views"),
            F.coalesce("fd", F.lit(0)).cast("long").alias("funnel_depth"),
        )
    )


ORACLE_EVENT_FUNNEL = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
),
views AS (
  SELECT DISTINCT user_id, us AS v_us FROM ev WHERE event_type = 'view'
),
clicks AS (SELECT user_id, us AS c_us FROM ev WHERE event_type = 'click'),
buys AS (SELECT user_id, us AS p_us FROM ev WHERE event_type = 'purchase'),
s2 AS (
  SELECT v.user_id, v.v_us, min(c.c_us) AS t1
  FROM views v JOIN clicks c ON c.user_id = v.user_id
  WHERE c.c_us > v.v_us AND c.c_us <= v.v_us + 3600000000
  GROUP BY v.user_id, v.v_us
),
s3 AS (
  SELECT s.user_id, s.v_us, min(b.p_us) AS t2
  FROM s2 s JOIN buys b ON b.user_id = s.user_id
  WHERE b.p_us > s.t1 AND b.p_us <= s.v_us + 3600000000
  GROUP BY s.user_id, s.v_us
),
depth AS (
  SELECT v.user_id,
    max(1 + CASE WHEN s2.v_us IS NULL THEN 0 ELSE 1 END
          + CASE WHEN s3.v_us IS NULL THEN 0 ELSE 1 END) AS fd,
    count(*) AS nv
  FROM views v
  LEFT JOIN s2 ON s2.user_id = v.user_id AND s2.v_us = v.v_us
  LEFT JOIN s3 ON s3.user_id = v.user_id AND s3.v_us = v.v_us
  GROUP BY v.user_id
)
SELECT u.user_id,
  CAST(coalesce(d.nv, 0) AS BIGINT) AS n_views,
  CAST(coalesce(d.fd, 0) AS BIGINT) AS funnel_depth
FROM (SELECT DISTINCT user_id FROM ev) u
LEFT JOIN depth d ON d.user_id = u.user_id
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle — the classic product-analytics rollup:
    users cohorted by FIRST-signup day; for each (cohort_day,
    day_offset) the count of distinct cohort users active that many days
    later (any non-signup event). All integer day arithmetic
    (epoch-micros DIV 86400e6 — the sessionize micros pair), offsets >= 0
    only. Shapes: first-signup = one user-keyed min agg; activity days =
    a distinct on (user, day); the cohort meet is a user_id equi-join;
    the triangle is a (cohort_day, offset)-keyed two-phase distinct
    count."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000")
        .cast("long").alias("day"))
    signup = (ev.where(F.col("event_type") == "signup")
              .groupBy("user_id").agg(F.min("day").alias("cohort_day")))
    active = (ev.where(F.col("event_type") != "signup")
              .select("user_id", "day").distinct())
    return (
        signup.join(active, "user_id")
        .where(F.col("day") >= F.col("cohort_day"))
        .select("cohort_day",
                (F.col("day") - F.col("cohort_day")).alias("day_offset"),
                "user_id")
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").cast("long").alias("n_active"))
    )


ORACLE_RETENTION = """
WITH ev AS (
  SELECT user_id, event_type,
    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
  FROM events
),
signup AS (
  SELECT user_id, min(day) AS cohort_day FROM ev
  WHERE event_type = 'signup' GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id, day FROM ev WHERE event_type != 'signup'
)
SELECT s.cohort_day, a.day - s.cohort_day AS day_offset,
  CAST(count(DISTINCT s.user_id) AS BIGINT) AS n_active
FROM signup s JOIN active a ON a.user_id = s.user_id
WHERE a.day >= s.cohort_day
GROUP BY s.cohort_day, a.day - s.cohort_day
"""


def q_revenue_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution (the ad-tech complement of
    event_funnel — purchase-anchored instead of view-anchored): each
    purchase is attributed to the LATEST click in the hour before it;
    per user, purchase counts and EXACT integer cents split into
    attributed vs total. Money never exists as a float downstream of
    the source: cents = round(value * 100) once (identical IEEE double
    op + half-away rounding in both engines), then all sums are int64.
    Purchases key by event_id (unique), so same-instant purchases stay
    distinct; the click meet is a (user_id, hour_bucket) EQUI-join with
    the unchanged range filter — a click in [p_us - W, p_us) lives in the
    purchase's own bucket or the previous one (W = bucket width), each
    purchase row is exploded to those two keys, and every qualifying pair
    meets exactly once — result-identical to the plain user-keyed join
    while bounding candidates to events-per-2-bucket-window (the
    event_funnel bucket fix, purchase-anchored)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "value")
    win = 3600 * 1_000_000
    buys = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("us").alias("p_us"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"))
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("us").alias("c_us"))
    pb = buys.select(
        "event_id", "user_id", "p_us",
        F.explode(F.array(F.expr(f"p_us DIV {win}"),
                          F.expr(f"p_us DIV {win}") - 1)).alias("jb"))
    touched = (pb.join(clicks.withColumn("jb", F.expr(f"c_us DIV {win}")),
                       ["user_id", "jb"])
               .where((F.col("c_us") < F.col("p_us"))
                      & (F.col("c_us") >= F.col("p_us") - win))
               .groupBy("event_id").agg(F.max("c_us").alias("t_click")))
    return (
        buys.join(touched, "event_id", "left")
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            F.sum(F.when(F.col("t_click").isNotNull(), 1).otherwise(0))
            .cast("long").alias("n_attributed"),
            F.sum(F.when(F.col("t_click").isNotNull(), F.col("cents"))
                  .otherwise(F.lit(0))).cast("long")
            .alias("attributed_cents"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
    )


ORACLE_REVENUE_ATTRIBUTION = """
WITH ev AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS us, value
  FROM events
),
buys AS (
  SELECT event_id, user_id, us AS p_us,
    CAST(round(value * 100) AS BIGINT) AS cents
  FROM ev WHERE event_type = 'purchase'
),
clicks AS (SELECT user_id, us AS c_us FROM ev WHERE event_type = 'click'),
touched AS (
  SELECT b.event_id, max(c.c_us) AS t_click
  FROM buys b JOIN clicks c ON c.user_id = b.user_id
  WHERE c.c_us < b.p_us AND c.c_us >= b.p_us - 3600000000
  GROUP BY b.event_id
)
SELECT b.user_id,
  CAST(count(*) AS BIGINT) AS n_purchases,
  CAST(sum(CASE WHEN t.t_click IS NULL THEN 0 ELSE 1 END) AS BIGINT)
    AS n_attributed,
  CAST(sum(CASE WHEN t.t_click IS NULL THEN 0 ELSE b.cents END) AS BIGINT)
    AS attributed_cents,
  CAST(sum(b.cents) AS BIGINT) AS total_cents
FROM buys b LEFT JOIN touched t ON t.event_id = b.event_id
GROUP BY b.user_id
"""


def q_user_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user-journey paths (the Sankey/flow census): sessions cut by
    the sessionize 30-min-gap rule, each session rendered as its ordered
    event-type string ('view>click>purchase'), then the top-20 paths by
    (count desc, path asc). Order inside a session comes from
    array_sort over (us, event_id, type) structs — never collect_list
    arrival order; the census is a path-keyed map-side-partial groupBy
    and the top-k plans as TakeOrderedAndProject."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    flagged = ev.select(
        "user_id", "event_id", "event_type", us.alias("us"),
        F.when(gap.isNull() | (gap >= 1800 * 1_000_000), F.lit(1))
        .otherwise(F.lit(0)).alias("new_session"),
    )
    w2 = (Window.partitionBy("user_id").orderBy("us", "event_id")
          .rowsBetween(Window.unboundedPreceding, 0))
    flagged = flagged.withColumn(
        "session_no", F.sum("new_session").over(w2))
    paths = (
        flagged.groupBy("user_id", "session_no")
        .agg(F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.struct("us", "event_id", "event_type"))),
                lambda s: s["event_type"]),
            ">").alias("path"))
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("long").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(20)
    )


ORACLE_USER_PATHS = """
WITH flagged AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
    CASE WHEN lag(epoch_us(ts)) OVER
              (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         OR epoch_us(ts) - lag(epoch_us(ts)) OVER
              (PARTITION BY user_id ORDER BY ts, event_id)
            >= 1800 * 1000000
         THEN 1 ELSE 0 END AS new_session
  FROM events
),
sess AS (
  SELECT user_id, event_id, event_type, us,
    sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_no
  FROM flagged
),
paths AS (
  SELECT user_id, session_no,
    string_agg(event_type, '>' ORDER BY us, event_id) AS path
  FROM sess GROUP BY user_id, session_no
)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path ASC
LIMIT 20
"""


ORACLE_SESSIONIZE = """
SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM (
  SELECT user_id,
    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              >= 1800 * 1000000
         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         THEN 1 ELSE 0 END AS new_session
  FROM events
)
GROUP BY user_id
"""


def q_nearest_prior_login(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor theta-join + rank-1: for each error event, the most
    recent prior signup by the same user (the relational analogue of the
    checkbox nearest-above join, /root/reference/preprocessing/checkbox.py:157-190)."""
    ev = load_table(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.col("user_id"), F.col("ts").alias("err_ts"))
    sgn = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"), F.col("user_id"), F.col("ts").alias("sgn_ts"))
    joined = err.join(sgn, ["user_id"]).filter(F.col("sgn_ts") < F.col("err_ts"))
    w = Window.partitionBy("error_id").orderBy(F.desc("sgn_ts"), F.desc("signup_id"))
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("error_id", "signup_id", "user_id")
    )


ORACLE_NEAREST_PRIOR = """
SELECT error_id, signup_id, user_id FROM (
  SELECT e.event_id AS error_id, s.event_id AS signup_id, e.user_id,
         row_number() OVER (PARTITION BY e.event_id ORDER BY s.ts DESC, s.event_id DESC) AS rn
  FROM events e JOIN events s
    ON e.user_id = s.user_id AND s.ts < e.ts
  WHERE e.event_type = 'error' AND s.event_type = 'signup'
) WHERE rn = 1
"""


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (the containment anti-join analogue, main.py:148-164)."""
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return cust.join(
        big, cust.c_custkey == big.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


ORACLE_CUSTOMERS_WO_ORDERS = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
"""


def q_set_ops_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union+distinct / except (§2.6): event types of even users minus types
    seen only... intersected with odd users' types, plus dedup."""
    ev = load_table(spark, sf_dir, "events")
    even = ev.filter(F.col("user_id") % 2 == 0).select("event_type").distinct()
    odd = ev.filter((F.col("user_id") % 3 == 0)).select("event_type").distinct()
    return even.intersect(odd).unionByName(
        even.exceptAll(odd).withColumn("event_type", F.concat(F.lit("only:"), "event_type"))
    ).distinct()


ORACLE_SET_OPS = """
SELECT event_type FROM (
  SELECT DISTINCT event_type FROM events WHERE user_id % 2 = 0
  INTERSECT
  SELECT DISTINCT event_type FROM events WHERE user_id % 3 = 0
)
UNION
SELECT 'only:' || event_type AS event_type FROM (
  SELECT DISTINCT event_type FROM events WHERE user_id % 2 = 0
  EXCEPT
  SELECT DISTINCT event_type FROM events WHERE user_id % 3 = 0
)
"""


# --------------------------------------------------------------------------
# Training-data pipeline family (dedup / similarity / text analysis)
# --------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_docs(spark, sf_dir))


ORACLE_DEDUP_EXACT = f"""
SELECT md5({_NORM_SQL}) AS fingerprint, MIN(doc_id) AS keeper_doc_id,
       COUNT(*) AS n_docs
FROM documents GROUP BY 1
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.02, max_doc_id=150)


_NGRAM_CTES = f"""d AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents WHERE doc_id < 150),
w AS (SELECT doc_id, string_split(t, ' ') AS ws FROM d),
g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
             range(1, greatest(len(ws) - 2, 1) + 1),
             i -> array_to_string(ws[i:i+2], ' ')))) AS shingle
  FROM w
),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM g GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM g a JOIN g b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""

ORACLE_NGRAM_JACCARD = f"""
WITH {_NGRAM_CTES}
SELECT doc_a, doc_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
       round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
WHERE round(inter / (sa.sz + sb.sz - inter), 6) >= 0.02
"""


def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER resolution (connected components over the pair
    graph) — the op a dedup pipeline needs downstream of any pair generator.
    Oracle-checked over the deterministic exact-Jaccard pairs (the LSH pair
    source is probabilistic; at scale the same clusterer consumes
    minhash_lsh_pairs)."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.02, max_doc_id=150)
    return dedup.neardup_clusters(pairs.select("doc_a", "doc_b")).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


# transitive closure via recursive CTE: cluster_id = min reachable doc_id
ORACLE_NEARDUP_CLUSTERS = f"""
WITH RECURSIVE {_NGRAM_CTES},
p AS (
  SELECT doc_a, doc_b
  FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
  WHERE round(inter / (sa.sz + sb.sz - inter), 6) >= 0.02
),
e AS (SELECT doc_a AS a, doc_b AS b FROM p UNION SELECT doc_b, doc_a FROM p),
reach(doc_id, lab) AS (
  SELECT a, a FROM e
  UNION
  SELECT e.a, r.lab FROM e JOIN reach r ON e.b = r.doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(min(lab) AS BIGINT) AS cluster_id
FROM reach GROUP BY doc_id
"""


def q_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup (operators/dedup.dedup_weights): every doc keeps a row
    with loss weight 1/cluster_size as an exact integer pair — the
    down-weight-don't-drop alternative to hard dedup. Same deterministic
    exact-Jaccard pair source as neardup_clusters; singletons (and docs
    outside the pair scope) self-cluster at 1/1."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.02, max_doc_id=150)
    return dedup.dedup_weights(docs, pairs.select("doc_a", "doc_b"))


ORACLE_DEDUP_WEIGHTS = f"""
WITH RECURSIVE {_NGRAM_CTES},
p AS (
  SELECT doc_a, doc_b
  FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
  WHERE round(inter / (sa.sz + sb.sz - inter), 6) >= 0.02
),
e AS (SELECT doc_a AS a, doc_b AS b FROM p UNION SELECT doc_b, doc_a FROM p),
reach(doc_id, lab) AS (
  SELECT a, a FROM e
  UNION
  SELECT e.a, r.lab FROM e JOIN reach r ON e.b = r.doc_id
),
clusters AS (
  SELECT doc_id, min(lab) AS cluster_id FROM reach GROUP BY doc_id
),
sizes AS (
  SELECT cluster_id, count(*) AS csize FROM clusters GROUP BY cluster_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
  CAST(coalesce(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id,
  CAST(1 AS BIGINT) AS weight_num,
  CAST(coalesce(s.csize, 1) AS BIGINT) AS weight_den
FROM documents d
LEFT JOIN clusters c ON c.doc_id = d.doc_id
LEFT JOIN sizes s ON s.cluster_id = c.cluster_id
"""


def q_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path near-dup (MinHash+LSH candidates, exact-Jaccard verify) —
    now FULLY oracle-checked: the shingle base hash and the permutation
    family are md5-derived (dedup.minhash_perm_constants), so the DuckDB
    oracle regenerates the identical signatures, bands, candidates and
    verified pairs. Equality holds whatever the LSH recall is — the oracle
    runs the same algorithm, not the exact quadratic one (that remains
    ngram_jaccard_pairs' job)."""
    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.2)


def _minhash_oracle(num_hashes: int = 32, bands: int = 8, threshold: float = 0.2) -> str:
    """Full algorithmic twin of dedup.minhash_lsh_pairs: same md5 base hash,
    same (a,b) permutation constants (generated by the same Python), same
    polynomial band fold, same candidate meet + exact-Jaccard verify."""
    rows = num_hashes // bands
    perms = ",".join(f"({i},{a},{b})" for i, (a, b) in
                     enumerate(dedup.minhash_perm_constants(num_hashes)))
    return f"""
WITH d AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
w AS (SELECT doc_id, string_split(t, ' ') AS ws FROM d),
g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
             range(1, greatest(len(ws) - 2, 1) + 1),
             i -> CAST(('0x' || substr(md5(array_to_string(ws[i:i+2], ' ')), 1, 8)) AS BIGINT)
         ))) AS h
  FROM w
),
perms(i, a, b) AS (VALUES {perms}),
sig AS (
  SELECT doc_id, p.i, min((p.a * g.h + p.b) % {dedup.MINHASH_PRIME}) AS mh
  FROM g CROSS JOIN perms p GROUP BY doc_id, p.i
),
bands AS (
  SELECT doc_id, i // {rows} AS band_id,
         list_reduce(list_prepend(CAST(0 AS BIGINT), list(mh ORDER BY i)),
                     (acc, x) -> acc * 31 + x) AS band_key
  FROM sig GROUP BY doc_id, i // {rows}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM g GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
  FROM cand c
  JOIN g ga ON ga.doc_id = c.doc_a
  JOIN g gb ON gb.doc_id = c.doc_b AND gb.h = ga.h
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
WHERE round(inter / (sa.sz + sb.sz - inter), 6) >= {threshold}
"""


ORACLE_MINHASH_LSH = _minhash_oracle()


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_table(_docs(spark, sf_dir)).select(
        "doc_id", F.col("simhash").cast("long").alias("simhash"))


ORACLE_SIMHASH = f"""
WITH t AS (
  SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok FROM documents
), v AS (
  SELECT doc_id, j,
         SUM(CASE WHEN substr(md5(tok), CAST(j + 1 AS INTEGER), 1)
                       IN ('8','9','a','b','c','d','e','f')
             THEN 1 ELSE -1 END) AS s
  FROM t, (SELECT unnest(range(16)) AS j)
  GROUP BY doc_id, j
)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN CAST(power(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
FROM v GROUP BY doc_id
"""


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming pairs, half-blocked self-join — fully oracle-checked:
    the oracle twins the BLOCKING too (pairs must share the lo or hi byte),
    so the algorithm's recall trade (a hamming-2 pair split 1+1 across halves
    is skipped by design) is reproduced, not papered over."""
    return dedup.simhash_neardup_pairs(_docs(spark, sf_dir), max_hamming=2)


# simhash CTE reused from ORACLE_SIMHASH; blocking + popcount twin
ORACLE_SIMHASH_NEARDUP = f"""
WITH t AS (
  SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok FROM documents
), v AS (
  SELECT doc_id, j,
         SUM(CASE WHEN substr(md5(tok), CAST(j + 1 AS INTEGER), 1)
                       IN ('8','9','a','b','c','d','e','f')
             THEN 1 ELSE -1 END) AS s
  FROM t, (SELECT unnest(range(16)) AS j)
  GROUP BY doc_id, j
), sh AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s > 0 THEN CAST(power(2, j) AS BIGINT) ELSE 0 END) AS INTEGER) AS simhash
  FROM v GROUP BY doc_id
), h AS (
  SELECT doc_id, simhash, simhash & 255 AS lo, (simhash >> 8) & 255 AS hi FROM sh
)
SELECT doc_a, doc_b, hamming FROM (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) AS INTEGER) AS hamming
  FROM h a JOIN h b
    ON a.doc_id < b.doc_id AND (a.lo = b.lo OR a.hi = b.hi)
) WHERE hamming <= 2
"""


def q_simhash64_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION-width 64-bit SimHash near-dup (4×16-bit bands, pigeonhole-
    complete blocking for hamming<=3 — recall 1.0 by construction, unlike the
    16-bit toy form). The corpus has no natural hamming<=3 pair at 64 bits,
    so the query runs over a planted-augmented corpus (every 50th doc copied
    with one appended token — a near-identical pair) to keep the oracle
    discriminating; the oracle twins augmentation, bands and blocking."""
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")
    planted = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zyxq")).alias("text"))
    return dedup.simhash64_neardup_pairs(docs.unionByName(planted))


ORACLE_SIMHASH64_NEARDUP = f"""
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, text || ' zyxq' AS text
  FROM documents WHERE doc_id % 50 = 0
), t AS (
  SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok FROM aug
), v AS (
  SELECT doc_id, j,
         SUM(CASE WHEN (CAST(('0x' || substr(md5(tok), (j // 4) + 1, 1)) AS INTEGER)
                        >> (j % 4)) & 1 = 1
             THEN 1 ELSE -1 END) AS s
  FROM t, (SELECT unnest(range(64)) AS j)
  GROUP BY doc_id, j
), b AS (
  SELECT doc_id, j // 16 AS band,
         CAST(SUM(CASE WHEN s > 0 THEN CAST(power(2, j % 16) AS BIGINT) ELSE 0 END) AS INTEGER) AS bv
  FROM v GROUP BY doc_id, j // 16
), wide AS (
  SELECT doc_id,
         max(CASE WHEN band = 0 THEN bv END) AS b0,
         max(CASE WHEN band = 1 THEN bv END) AS b1,
         max(CASE WHEN band = 2 THEN bv END) AS b2,
         max(CASE WHEN band = 3 THEN bv END) AS b3
  FROM b GROUP BY doc_id
)
SELECT doc_a, doc_b, hamming FROM (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count(CAST(xor(a.b0, b.b0) AS BIGINT))
            + bit_count(CAST(xor(a.b1, b.b1) AS BIGINT))
            + bit_count(CAST(xor(a.b2, b.b2) AS BIGINT))
            + bit_count(CAST(xor(a.b3, b.b3) AS BIGINT)) AS INTEGER) AS hamming
  FROM wide a JOIN wide b
    ON a.doc_id < b.doc_id
   AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
) WHERE hamming <= 3
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (dedup.contamination_flags): every corpus
    document sharing an 8-gram with the deterministic 'eval set'
    (doc_id % 97 == 0) is flagged with its distinct-hit count. The eval-set
    docs flag themselves (they are in the corpus), near-copies flag via
    shared grams — discriminating at both ends."""
    docs = _docs(spark, sf_dir)
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    return dedup.contamination_flags(docs, benchmark)


ORACLE_DECONTAMINATE = f"""
WITH d AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
w AS (SELECT doc_id, string_split(t, ' ') AS ws FROM d),
g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
             range(1, greatest(len(ws) - 7, 1) + 1),
             i -> array_to_string(ws[i:i+7], ' ')))) AS gram
  FROM w
),
b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
hits AS (SELECT g.doc_id, COUNT(*) AS n_hits FROM g JOIN b USING (gram) GROUP BY g.doc_id)
SELECT d.doc_id,
       coalesce(h.n_hits, 0) AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM d LEFT JOIN hits h USING (doc_id)
"""


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    c = F.col("text")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        T.token_count(c).cast("long").alias("n_tokens"),
        T.subword_count(c).cast("long").alias("n_subwords"),
        F.length(c).cast("long").alias("n_chars"),
        T.distinct_token_ratio(c).alias("distinct_ratio"),
        T.stopword_ratio(c).alias("stopword_ratio"),
        T.avg_token_len(c).alias("avg_token_len"),
        T.fingerprint_md5(c).alias("fingerprint"),
        T.lang_guess(c).alias("lang_guess"),
        T.quality_score(c).alias("quality"),
    )


ORACLE_TEXT_STATS = f"""
WITH d AS (SELECT doc_id, text, string_split({_NORM_SQL}, ' ') AS ws FROM documents)
SELECT doc_id,
  CAST(len(ws) AS BIGINT) AS n_tokens,
  CAST(list_sum(list_transform(
      regexp_extract_all(lower(text), '({T.PRETOKEN_PATTERN})', 1),
      p -> (length(trim(p)) + {T.CHARS_PER_SUBWORD - 1}) // {T.CHARS_PER_SUBWORD}
  )) AS BIGINT) AS n_subwords,
  CAST(length(text) AS BIGINT) AS n_chars,
  round(len(list_distinct(ws)) / len(ws), 6) AS distinct_ratio,
  round(len(list_filter(ws, x -> x IN ('the','a','de','la','el'))) / len(ws), 6) AS stopword_ratio,
  round(list_sum(list_transform(ws, x -> length(x))) / len(ws), 6) AS avg_token_len,
  md5(array_to_string(ws, ' ')) AS fingerprint,
  CASE WHEN len(list_filter(ws, x -> x IN ('the','a','of')))
            > len(list_filter(ws, x -> x IN ('de','la','el'))) THEN 'en'
       WHEN len(list_filter(ws, x -> x IN ('de','la','el')))
            > len(list_filter(ws, x -> x IN ('the','a','of'))) THEN 'es'
       WHEN len(list_filter(ws, x -> x IN ('the','a','of'))) > 0 THEN 'en'
       ELSE 'unknown' END AS lang_guess,
  round(0.4 * least(len(ws) / 100.0, 1.0)
      + 0.4 * (len(list_distinct(ws)) / len(ws))
      + 0.2 * (1.0 - abs(len(list_filter(ws, x -> x IN ('the','a','de','la','el'))) / len(ws) - 0.1)), 6) AS quality
FROM d
"""


def q_html_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Main-content extraction over HTML (boilerplate strip + block scoring,
    functions/html.py): each document is wrapped in deterministic
    discriminating markup (nav/related blocks borrowing doc words, script/
    style/comment noise, entity-bearing footer), then the extractor must
    recover the article block by text-length-minus-anchor-length argmax.
    The oracle replays the TEXTUALLY identical regex pipeline in DuckDB
    (patterns kept to the Java∩RE2 subset)."""
    from api_ocr_spark.functions import html as H

    docs = _docs(spark, sf_dir)
    wrapped = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        H.synthesize_html(F.col("text"), F.col("doc_id")).alias("html"),
    )
    return H.html_main_content(wrapped)


# SQL twin of functions/html.synthesize_html's default (density) page —
# shared by ORACLE_HTML_MAIN_CONTENT and the WARC fixture's html payload
_HTML_PAGE_SQL = """'<html><head><title>doc ' || CAST(doc_id AS VARCHAR) ||
    '</title><script>var t=1;</script><style>.m{x:1}</style></head>' ||
    '<body><nav><a href="/">home</a> <a href="/t">' ||
    regexp_extract(text, '^([^ ]+)', 1) ||
    ' archive</a> <a href="/c">contact</a></nav>' ||
    '<!-- build 17 --><div class="content"><p>' || text ||
    '</p></div><div class="related"><a href="/r1">' ||
    regexp_extract(text, '^([^ ]+)', 1) || ' related reading one</a> <a href="/r2">' ||
    regexp_extract(text, '^([^ ]+)', 1) || ' more suggested links two</a></div>' ||
    '<footer>terms &amp; legal</footer></body></html>'"""

def _html_argmax_sql(key: str) -> str:
    """The density-argmax CTE chain (noise → frags → scored → sel), keyed by
    `key`; expects a preceding CTE `h` with ({key}, html). Shared by
    ORACLE_HTML_MAIN_CONTENT (keyed by doc_id) and ORACLE_WARC_EXTRACT
    (keyed by record_id) so the regex pipeline has ONE definition."""
    return f"""
noise AS (
  SELECT {key},
    regexp_replace(regexp_replace(regexp_replace(html,
      '(?is)<!--.*?-->', ' ', 'g'),
      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
      '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS hh
  FROM h
),
frags AS (
  SELECT {key}, i - 1 AS pos, parts[i] AS frag
  FROM (SELECT {key},
          string_split_regex(hh,
            '(?i)</?(?:html|head|body|div|p|nav|header|footer|article|section|aside|main|table|tr|td|th|ul|ol|li|h[1-6]|blockquote|pre|form)[^>]*>') AS parts
        FROM noise),
       unnest(range(1, len(parts) + 1)) AS t(i)
),
scored AS (
  SELECT {key}, pos,
    trim(regexp_replace(
      replace(replace(replace(replace(replace(replace(
        regexp_replace(frag, '(?s)<[^>]*>', ' ', 'g'),
        '&nbsp;', ' '), '&amp;', '&'), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
      '\\s+', ' ', 'g')) AS txt,
    coalesce(list_aggregate(list_transform(
      regexp_extract_all(frag, '(?is)<a[^>]*>(.*?)</a>', 1),
      a -> length(trim(regexp_replace(
        replace(replace(replace(replace(replace(replace(
          regexp_replace(a, '(?s)<[^>]*>', ' ', 'g'),
          '&nbsp;', ' '), '&amp;', '&'), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        '\\s+', ' ', 'g')))), 'sum'), 0) AS alen
  FROM frags
),
sel AS (
  SELECT {key}, txt, length(txt) - alen AS score, pos,
    row_number() OVER (PARTITION BY {key} ORDER BY length(txt) - alen DESC, pos ASC) AS r,
    count(*) OVER (PARTITION BY {key}) AS nb
  FROM scored WHERE length(txt) > 0
)"""


ORACLE_HTML_MAIN_CONTENT = ("""
WITH h AS (
  SELECT doc_id,
    """ + _HTML_PAGE_SQL + """ AS html
  FROM documents
),""" + _html_argmax_sql("doc_id") + """
SELECT doc_id, txt AS main_text, CAST(score AS BIGINT) AS main_score,
       CAST(nb AS BIGINT) AS n_blocks
FROM sel WHERE r = 1
""")


def q_html_main_dom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOM-priority main-content extraction: even doc_ids get their content
    div wrapped in <article> (strategy='dom' restricts the argmax to it);
    odd doc_ids have no semantic container and fall back to the whole-page
    density argmax (strategy='density') — one corpus exercises both
    branches, and the oracle replays branch choice + both scopes in SQL."""
    from api_ocr_spark.functions import html as H

    docs = _docs(spark, sf_dir)
    wrapped = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        H.synthesize_html(F.col("text"), F.col("doc_id"),
                          article_when=(F.col("doc_id") % 2 == 0)).alias("html"),
    )
    return H.html_main_content_dom(wrapped)


# visible-text chain (tag strip → entity unescape → ws collapse) as a SQL
# fragment — the DOM oracle needs it at three call sites, so it is composed
# here instead of hand-copied (the density oracle above keeps its literal)
def _vis_sql(expr: str) -> str:
    return (
        "trim(regexp_replace("
        "replace(replace(replace(replace(replace(replace("
        f"regexp_replace({expr}, '(?s)<[^>]*>', ' ', 'g'),"
        "'&nbsp;', ' '), '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),"
        " '&quot;', '\"'), '&#39;', ''''),"
        " '\\s+', ' ', 'g'))"
    )


_HTML_ARTICLE_RE = "'(?is)<(?:article|main)[^>]*>(.*?)</(?:article|main)>'"

ORACLE_HTML_MAIN_DOM = f"""
WITH h AS (
  SELECT doc_id,
    '<html><head><title>doc ' || CAST(doc_id AS VARCHAR) ||
    '</title><script>var t=1;</script><style>.m{{x:1}}</style></head>' ||
    '<body><nav><a href="/">home</a> <a href="/t">' ||
    regexp_extract(text, '^([^ ]+)', 1) ||
    ' archive</a> <a href="/c">contact</a></nav>' ||
    '<!-- build 17 -->' ||
    CASE WHEN doc_id % 2 = 0 THEN '<article>' ELSE '' END ||
    '<div class="content"><p>' || text || '</p></div>' ||
    CASE WHEN doc_id % 2 = 0 THEN '</article>' ELSE '' END ||
    '<div class="related"><a href="/r1">' ||
    regexp_extract(text, '^([^ ]+)', 1) || ' related reading one</a> <a href="/r2">' ||
    regexp_extract(text, '^([^ ]+)', 1) || ' more suggested links two</a></div>' ||
    '<footer>terms &amp; legal</footer></body></html>' AS html
  FROM documents
),
noise AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(regexp_replace(html,
      '(?is)<!--.*?-->', ' ', 'g'),
      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
      '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS hh
  FROM h
),
art AS (
  SELECT doc_id, hh, regexp_extract(hh, {_HTML_ARTICLE_RE}, 1) AS article
  FROM noise
),
scoped AS (
  SELECT doc_id,
    CASE WHEN length({_vis_sql('article')}) > 0 THEN 'dom' ELSE 'density' END AS strategy,
    CASE WHEN length({_vis_sql('article')}) > 0 THEN article ELSE hh END AS scope
  FROM art
),
frags AS (
  SELECT doc_id, strategy, i - 1 AS pos, parts[i] AS frag
  FROM (SELECT doc_id, strategy,
          string_split_regex(scope,
            '(?i)</?(?:html|head|body|div|p|nav|header|footer|article|section|aside|main|table|tr|td|th|ul|ol|li|h[1-6]|blockquote|pre|form)[^>]*>') AS parts
        FROM scoped),
       unnest(range(1, len(parts) + 1)) AS t(i)
),
scored AS (
  SELECT doc_id, strategy, pos,
    {_vis_sql('frag')} AS txt,
    coalesce(list_aggregate(list_transform(
      regexp_extract_all(frag, '(?is)<a[^>]*>(.*?)</a>', 1),
      a -> length({_vis_sql('a')})), 'sum'), 0) AS alen
  FROM frags
),
sel AS (
  SELECT doc_id, strategy, txt, length(txt) - alen AS score, pos,
    row_number() OVER (PARTITION BY doc_id ORDER BY length(txt) - alen DESC, pos ASC) AS r,
    count(*) OVER (PARTITION BY doc_id) AS nb
  FROM scored WHERE length(txt) > 0
)
SELECT doc_id, strategy, txt AS main_text, CAST(score AS BIGINT) AS main_score,
       CAST(nb AS BIGINT) AS n_blocks
FROM sel WHERE r = 1
"""


def q_boilerpipe_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerpipe-style block classification (functions/html.py): the
    published Kohlschütter NumWordsRulesClassifier decision tree over
    (prev, curr, next) shallow text features, per-doc ordered concat of
    kept blocks. Runs the ARRAY-NATIVE form (html_boilerpipe_arrays):
    every feature is within-document context, so the whole pipeline is a
    pure map — ZERO exchanges (plan-asserted), streaming-compatible, and
    equality-tested against the windowed lag/lead twin (html_boilerpipe).
    The fixture adds a 6-word lede whose keep/drop flips on the NEXT
    block's length, so the varying corpus exercises both outcomes of the
    prev_ld>0.555556 branch plus both content arms of the
    prev_ld<=0.555556 branch. Oracle replays features, neighbor context
    (as SQL windows), and tree verbatim in DuckDB."""
    from api_ocr_spark.functions import html as H

    docs = _docs(spark, sf_dir)
    wrapped = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        H.synthesize_html(F.col("text"), F.col("doc_id"),
                          lede=True).alias("html"),
    )
    return H.html_boilerpipe_arrays(wrapped)


# word count of an already-collapsed text expr; the length guard mirrors
# functions/html.word_count ('' must count 0, but string_split('') is [''])
def _wc_sql(expr: str) -> str:
    return (f"CASE WHEN length({expr}) = 0 THEN 0 "
            f"ELSE len(string_split({expr}, ' ')) END")


ORACLE_BOILERPIPE = f"""
WITH h AS (
  SELECT doc_id,
    '<html><head><title>doc ' || CAST(doc_id AS VARCHAR) ||
    '</title><script>var t=1;</script><style>.m{{x:1}}</style></head>' ||
    '<body><nav><a href="/">home</a> <a href="/t">' ||
    regexp_extract(text, '^([^ ]+)', 1) ||
    ' archive</a> <a href="/c">contact</a></nav>' ||
    '<!-- build 17 -->' ||
    '<p>Editorial summary follows below here today.</p>' ||
    '<div class="content"><p>' || text ||
    '</p></div><div class="related"><a href="/r1">' ||
    regexp_extract(text, '^([^ ]+)', 1) || ' related reading one</a> <a href="/r2">' ||
    regexp_extract(text, '^([^ ]+)', 1) || ' more suggested links two</a></div>' ||
    '<footer>terms &amp; legal</footer></body></html>' AS html
  FROM documents
),
noise AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(regexp_replace(html,
      '(?is)<!--.*?-->', ' ', 'g'),
      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
      '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS hh
  FROM h
),
frags AS (
  SELECT doc_id, i - 1 AS pos, parts[i] AS frag
  FROM (SELECT doc_id,
          string_split_regex(hh,
            '(?i)</?(?:html|head|body|div|p|nav|header|footer|article|section|aside|main|table|tr|td|th|ul|ol|li|h[1-6]|blockquote|pre|form)[^>]*>') AS parts
        FROM noise),
       unnest(range(1, len(parts) + 1)) AS t(i)
),
blocks AS (
  SELECT doc_id, pos, txt,
    {_wc_sql('txt')} AS words,
    CAST(coalesce(list_aggregate(list_transform(
      regexp_extract_all(frag, '(?is)<a[^>]*>(.*?)</a>', 1),
      a -> {_wc_sql(_vis_sql('a'))}), 'sum'), 0) AS DOUBLE)
      / {_wc_sql('txt')} AS ld
  FROM (SELECT doc_id, pos, frag, {_vis_sql('frag')} AS txt FROM frags)
  WHERE length(txt) > 0
),
feats AS (
  SELECT doc_id, pos, txt, words, ld,
    lag(words, 1, 0) OVER (PARTITION BY doc_id ORDER BY pos) AS prev_words,
    lead(words, 1, 0) OVER (PARTITION BY doc_id ORDER BY pos) AS next_words,
    lag(ld, 1, 0.0) OVER (PARTITION BY doc_id ORDER BY pos) AS prev_ld
  FROM blocks
),
labeled AS (
  SELECT *,
    (ld <= 0.333333) AND (CASE WHEN prev_ld <= 0.555556
       THEN (words > 16 OR next_words > 15 OR prev_words > 4)
       ELSE (words > 40 OR next_words > 17) END) AS is_content
  FROM feats
)
SELECT doc_id,
  coalesce(string_agg(CASE WHEN is_content THEN txt END, ' ' ORDER BY pos),
           '') AS content_text,
  CAST(sum(CASE WHEN is_content THEN 1 ELSE 0 END) AS BIGINT) AS n_content,
  CAST(sum(CASE WHEN is_content THEN 0 ELSE 1 END) AS BIGINT) AS n_boiler,
  CAST(sum(CASE WHEN is_content THEN words ELSE 0 END) AS BIGINT) AS content_words
FROM labeled
GROUP BY doc_id
"""


def q_html_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction (functions/html.extract_links): one row per
    anchor with position, href, visible anchor text, internal flag. Pure
    codegen'd map + posexplode — no shuffle; both capture groups come from
    one pattern so the zipped arrays always align. Oracle runs the same
    pattern twice in DuckDB and unnests by index."""
    from api_ocr_spark.functions import html as H

    docs = _docs(spark, sf_dir)
    wrapped = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        H.synthesize_html(F.col("text"), F.col("doc_id")).alias("html"),
    )
    return H.extract_links(wrapped)


_LINK_RE = "'(?is)<a[^>]*href=\"([^\"]*)\"[^>]*>(.*?)</a>'"

ORACLE_HTML_LINKS = f"""
WITH h AS (
  SELECT doc_id,
    '<html><head><title>doc ' || CAST(doc_id AS VARCHAR) ||
    '</title><script>var t=1;</script><style>.m{{x:1}}</style></head>' ||
    '<body><nav><a href="/">home</a> <a href="/t">' ||
    regexp_extract(text, '^([^ ]+)', 1) ||
    ' archive</a> <a href="/c">contact</a></nav>' ||
    '<!-- build 17 --><div class="content"><p>' || text ||
    '</p></div><div class="related"><a href="/r1">' ||
    regexp_extract(text, '^([^ ]+)', 1) || ' related reading one</a> <a href="/r2">' ||
    regexp_extract(text, '^([^ ]+)', 1) || ' more suggested links two</a></div>' ||
    '<footer>terms &amp; legal</footer></body></html>' AS html
  FROM documents
),
noise AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(regexp_replace(html,
      '(?is)<!--.*?-->', ' ', 'g'),
      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
      '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS hh
  FROM h
),
l AS (
  SELECT doc_id,
    regexp_extract_all(hh, {_LINK_RE}, 1) AS hrefs,
    regexp_extract_all(hh, {_LINK_RE}, 2) AS texts
  FROM noise
)
SELECT doc_id, CAST(i - 1 AS BIGINT) AS link_pos, hrefs[i] AS href,
  {_vis_sql('texts[i]')} AS anchor_text,
  CAST(CASE WHEN hrefs[i] LIKE '/%' THEN 1 ELSE 0 END AS BIGINT) AS is_internal
FROM l, unnest(range(1, len(hrefs) + 1)) AS t(i)
"""


def q_html_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-metadata extraction (functions/html.extract_metadata): title /
    meta description / canonical URL / declared lang / heading census —
    the WARC→WET-style header op. The meta fixture varies every field with
    the document (lang branches on doc_id%3, the second heading on
    doc_id%2, description/canonical borrow doc words/id), so constants
    can't be special-cased. Pure map, zero shuffle (plan-asserted)."""
    from api_ocr_spark.functions import html as H

    docs = _docs(spark, sf_dir)
    wrapped = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        H.synthesize_html(F.col("text"), F.col("doc_id"),
                          meta=True).alias("html"),
    )
    return H.extract_metadata(wrapped)


ORACLE_HTML_METADATA = f"""
WITH h AS (
  SELECT doc_id,
    '<html lang="' || CASE WHEN doc_id % 3 = 0 THEN 'es' ELSE 'en' END ||
    '"><head><title>doc ' || CAST(doc_id AS VARCHAR) || '</title>' ||
    '<meta name="description" content="' ||
    regexp_extract(text, '^([^ ]+)', 1) || ' resumen del documento">' ||
    '<link rel="canonical" href="/doc/' || CAST(doc_id AS VARCHAR) || '">' ||
    '<script>var t=1;</script><style>.m{{x:1}}</style></head>' ||
    '<body><nav><a href="/">home</a> <a href="/t">' ||
    regexp_extract(text, '^([^ ]+)', 1) ||
    ' archive</a> <a href="/c">contact</a></nav>' ||
    '<!-- build 17 -->' ||
    '<h1>' || regexp_extract(text, '^([^ ]+)', 1) || ' titular</h1>' ||
    CASE WHEN doc_id % 2 = 0 THEN '<h2>seccion dos</h2>' ELSE '' END ||
    '<div class="content"><p>' || text ||
    '</p></div><div class="related"><a href="/r1">' ||
    regexp_extract(text, '^([^ ]+)', 1) || ' related reading one</a> <a href="/r2">' ||
    regexp_extract(text, '^([^ ]+)', 1) || ' more suggested links two</a></div>' ||
    '<footer>terms &amp; legal</footer></body></html>' AS html
  FROM documents
),
noise AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(regexp_replace(html,
      '(?is)<!--.*?-->', ' ', 'g'),
      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
      '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS hh
  FROM h
),
fields AS (
  SELECT doc_id,
    {_vis_sql("regexp_extract(hh, '(?is)<title[^>]*>(.*?)</title>', 1)")} AS title,
    regexp_extract(hh, '(?is)<meta[^>]*name="description"[^>]*content="([^"]*)"', 1) AS description,
    regexp_extract(hh, '(?is)<link[^>]*rel="canonical"[^>]*href="([^"]*)"', 1) AS canonical,
    regexp_extract(hh, '(?is)<html[^>]* lang="([^"]*)"', 1) AS lang,
    CAST(len(regexp_extract_all(hh, '(?i)<h[1-6][^>]*>', 0)) AS BIGINT) AS n_headings
  FROM noise
)
SELECT doc_id, title, description, canonical, lang, n_headings,
  CAST(CASE WHEN length(title) = 0 THEN 0
       ELSE len(string_split(title, ' ')) END AS BIGINT) AS title_words
FROM fields
"""


def q_html_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML table extraction (functions/html.extract_tables): <table> →
    (doc_id, table_idx, row_idx, col_idx, is_header, cell_text) in
    document order, pure codegen'd map + three posexplodes, zero shuffle.
    The fixture plants every branch: a header row (<th>), an inner-tag
    cell (<b>), an EMPTY cell, a ragged third column on even docs, a
    second table on odd docs, and a decoy table quoted inside <script>
    that strip_noise must remove."""
    from api_ocr_spark.functions import html as H

    d = F.col("doc_id").cast("long")
    first_word = F.regexp_extract(F.col("text"), r"^([^ ]+)", 1)
    page = F.concat(
        F.lit('<html><head><title>t</title><script>var x="<table><tr>'
              '<td>ghost</td></tr></table>";</script></head><body>'
              '<table class="data"><tr><th>item</th><th class="n">qty'
              '</th></tr><tr><td>'),
        first_word, F.lit("</td><td>"), d.cast("string"),
        F.lit("</td></tr><tr><td><b>"), first_word,
        F.lit("</b> units</td><td></td>"),
        F.when(d % 2 == 0, F.lit("<td>extra</td>")).otherwise(F.lit("")),
        F.lit("</tr></table>"),
        F.when(d % 2 == 1,
               F.concat(F.lit("<table><tr><td>total</td><td>"),
                        (d * 3).cast("string"),
                        F.lit("</td></tr></table>"))).otherwise(F.lit("")),
        F.lit("<footer>terms</footer></body></html>"),
    )
    docs = _docs(spark, sf_dir).select(d.alias("doc_id"),
                                       page.alias("html"))
    return H.extract_tables(docs)


_TABLE_RE = r"'(?is)<table(?:\s[^>]*)?>(.*?)</table>'"
_TR_RE = r"'(?is)<tr(?:\s[^>]*)?>(.*?)</tr>'"
_CELL_RE = r"'(?is)<t([dh])(?:\s[^>]*)?>(.*?)</t[dh]>'"

# shared cell-extraction CTE chain (fixture build -> noise strip -> three
# unnest levels), reused by ORACLE_HTML_TABLES and ORACLE_TABLES_MARKDOWN
_HTML_TABLE_CELLS_PREFIX = f"""
WITH h AS (
  SELECT doc_id,
    '<html><head><title>t</title><script>var x="<table><tr><td>ghost</td>'
    || '</tr></table>";</script></head><body>'
    || '<table class="data"><tr><th>item</th><th class="n">qty</th></tr>'
    || '<tr><td>' || regexp_extract(text, '^([^ ]+)', 1) || '</td><td>'
    || CAST(doc_id AS VARCHAR) || '</td></tr><tr><td><b>'
    || regexp_extract(text, '^([^ ]+)', 1) || '</b> units</td><td></td>'
    || CASE WHEN doc_id % 2 = 0 THEN '<td>extra</td>' ELSE '' END
    || '</tr></table>'
    || CASE WHEN doc_id % 2 = 1
       THEN '<table><tr><td>total</td><td>' || CAST(doc_id * 3 AS VARCHAR)
            || '</td></tr></table>' ELSE '' END
    || '<footer>terms</footer></body></html>' AS html
  FROM documents
),
noise AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(regexp_replace(html,
      '(?is)<!--.*?-->', ' ', 'g'),
      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
      '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS hh
  FROM h
),
t AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS table_idx, tbls[i] AS tbl
  FROM (SELECT doc_id, regexp_extract_all(hh, {_TABLE_RE}, 1) AS tbls
        FROM noise), unnest(range(1, len(tbls) + 1)) AS tt(i)
),
r AS (
  SELECT doc_id, table_idx, CAST(i - 1 AS BIGINT) AS row_idx, rws[i] AS rowhtml
  FROM (SELECT doc_id, table_idx,
          regexp_extract_all(tbl, {_TR_RE}, 1) AS rws FROM t),
       unnest(range(1, len(rws) + 1)) AS tt(i)
),
c AS (
  SELECT doc_id, table_idx, row_idx, CAST(i - 1 AS BIGINT) AS col_idx,
    lower(kinds[i]) = 'h' AS is_header, bodies[i] AS body
  FROM (SELECT doc_id, table_idx, row_idx,
          regexp_extract_all(rowhtml, {_CELL_RE}, 1) AS kinds,
          regexp_extract_all(rowhtml, {_CELL_RE}, 2) AS bodies FROM r),
       unnest(range(1, len(kinds) + 1)) AS tt(i)
)
"""

ORACLE_HTML_TABLES = _HTML_TABLE_CELLS_PREFIX + f"""SELECT doc_id, table_idx, row_idx, col_idx, is_header,
  {_vis_sql('body')} AS cell_text
FROM c
"""


def q_tables_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML table -> GitHub-markdown linearization
    (functions/html.tables_to_markdown) over the SAME planted-table
    fixture as html_tables — header separator, pipe escaping, ragged-row
    padding and newline row joins all replayed in the oracle, which
    shares the cell-extraction CTE chain with ORACLE_HTML_TABLES
    (refactor verified byte-identical)."""
    from api_ocr_spark.functions import html as H

    d = F.col("doc_id").cast("long")
    first_word = F.regexp_extract(F.col("text"), r"^([^ ]+)", 1)
    page = F.concat(
        F.lit('<html><head><title>t</title><script>var x="<table><tr>'
              '<td>ghost</td></tr></table>";</script></head><body>'
              '<table class="data"><tr><th>item</th><th class="n">qty'
              '</th></tr><tr><td>'),
        first_word, F.lit("</td><td>"), d.cast("string"),
        F.lit("</td></tr><tr><td><b>"), first_word,
        F.lit("</b> units</td><td></td>"),
        F.when(d % 2 == 0, F.lit("<td>extra</td>")).otherwise(F.lit("")),
        F.lit("</tr></table>"),
        F.when(d % 2 == 1,
               F.concat(F.lit("<table><tr><td>total</td><td>"),
                        (d * 3).cast("string"),
                        F.lit("</td></tr></table>"))).otherwise(F.lit("")),
        F.lit("<footer>terms</footer></body></html>"),
    )
    docs = _docs(spark, sf_dir).select(d.alias("doc_id"),
                                       page.alias("html"))
    return H.tables_to_markdown(H.extract_tables(docs))


ORACLE_TABLES_MARKDOWN = _HTML_TABLE_CELLS_PREFIX + f"""
, cells AS (
  SELECT doc_id, table_idx, row_idx, col_idx, is_header,
    {_vis_sql('body')} AS cell_text
  FROM c
), rowagg AS (
  SELECT doc_id, table_idx, row_idx,
    list(regexp_replace(cell_text, '\\|', '\\\\|', 'g')
         ORDER BY col_idx) AS cl
  FROM cells GROUP BY doc_id, table_idx, row_idx
), stats AS (
  SELECT doc_id, table_idx,
    max(col_idx) + 1 AS n_cols, max(row_idx) + 1 AS n_rows,
    max(CASE WHEN row_idx = 0 AND is_header THEN 1 ELSE 0 END) AS has_header
  FROM cells GROUP BY doc_id, table_idx
), padded AS (
  SELECT r.doc_id, r.table_idx, r.row_idx, s.n_cols, s.n_rows, s.has_header,
    '| ' || array_to_string(
      list_concat(r.cl,
        list_transform(range(len(r.cl) + 1, CAST(s.n_cols AS BIGINT) + 1),
                       x -> '')),
      ' | ') || ' |' AS rowstr
  FROM rowagg r JOIN stats s USING (doc_id, table_idx)
), tbl AS (
  SELECT doc_id, table_idx, n_cols, n_rows, has_header,
    list(rowstr ORDER BY row_idx) AS ls
  FROM padded GROUP BY doc_id, table_idx, n_cols, n_rows, has_header
)
SELECT doc_id, table_idx,
  CAST(n_rows AS BIGINT) AS n_rows,
  CAST(n_cols AS BIGINT) AS n_cols,
  CASE WHEN has_header = 1 AND n_rows > 1
       THEN ls[1] || chr(10) || '|' || repeat(' --- |', CAST(n_cols AS INTEGER))
            || chr(10) || array_to_string(ls[2:], chr(10))
       WHEN has_header = 1
       THEN ls[1] || chr(10) || '|' || repeat(' --- |', CAST(n_cols AS INTEGER))
       ELSE array_to_string(ls, chr(10)) END AS markdown
FROM tbl
"""


def q_doc_outline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document outline extraction (functions/html.extract_outline):
    h1–h6 → hierarchical section numbers ('1.2.1'), visible titles, and
    per-section body word counts. Numbering is pure window algebra
    (running per-level counts minus their value at the last lower-level
    heading) — all six levels share ONE doc-keyed window, so the outline
    costs a single exchange (plan-asserted). Fixture plants: varying
    heading sets (h2 on even ids, h3 on %3==0), a counter RESET via a
    second h1, an entity title, a skipped level (h3 directly after h1 →
    '2.0.1' convention), and a script-quoted ghost heading."""
    from api_ocr_spark.functions import html as H

    d = F.col("doc_id").cast("long")
    first_word = F.regexp_extract(F.col("text"), r"^([^ ]+)", 1)
    page = F.concat(
        F.lit('<html><head><title>d</title><script>var h="<h1>ghost'
              '</h1>";</script></head><body><h1>'),
        first_word, F.lit(" overview</h1><p>"), F.col("text"),
        F.lit("</p>"),
        F.when(d % 2 == 0,
               F.lit('<h2 class="s">details</h2><p>alpha beta gamma</p>'))
        .otherwise(F.lit("")),
        F.lit("<h2>summary &amp; next</h2>notes follow here"),
        F.when(d % 3 == 0, F.lit("<h3>appendix</h3>fin"))
        .otherwise(F.lit("")),
        F.lit("<h1>epilogue</h1>done"),
        F.when(d % 6 == 5, F.lit("<h3>stray</h3>tail"))
        .otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    docs = _docs(spark, sf_dir).select(d.alias("doc_id"),
                                       page.alias("html"))
    return H.extract_outline(docs)


_HEAD_RE = r"'(?is)<h([1-6])(?:\s[^>]*)?>(.*?)</h[1-6]>'"

ORACLE_DOC_OUTLINE = rf"""
WITH h AS (
  SELECT doc_id,
    '<html><head><title>d</title><script>var h="<h1>ghost</h1>";</script>'
    || '</head><body><h1>' || regexp_extract(text, '^([^ ]+)', 1)
    || ' overview</h1><p>' || text || '</p>'
    || CASE WHEN doc_id % 2 = 0
       THEN '<h2 class="s">details</h2><p>alpha beta gamma</p>' ELSE '' END
    || '<h2>summary &amp; next</h2>notes follow here'
    || CASE WHEN doc_id % 3 = 0 THEN '<h3>appendix</h3>fin' ELSE '' END
    || '<h1>epilogue</h1>done'
    || CASE WHEN doc_id % 6 = 5 THEN '<h3>stray</h3>tail' ELSE '' END
    || '</body></html>' AS html
  FROM documents
),
noise AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(regexp_replace(html,
      '(?is)<!--.*?-->', ' ', 'g'),
      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
      '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS hh
  FROM h
),
e AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
    CAST(lvls[i] AS BIGINT) AS level,
    {_vis_sql('titles[i]')} AS title,
    {_vis_sql('parts[i + 1]')} AS body
  FROM (SELECT doc_id,
          regexp_extract_all(hh, {_HEAD_RE}, 1) AS lvls,
          regexp_extract_all(hh, {_HEAD_RE}, 2) AS titles,
          str_split_regex(hh, {_HEAD_RE}) AS parts
        FROM noise),
       unnest(range(1, len(lvls) + 1)) AS tt(i)
),
running AS (
  SELECT *,
    {', '.join(
      f"SUM(CASE WHEN level = {lv} THEN 1 ELSE 0 END) OVER "
      "(PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING "
      f"AND CURRENT ROW) AS s{lv}" for lv in range(1, 7))}
  FROM e
),
counters AS (
  SELECT *,
    {', '.join(
      f"s{lv} - coalesce(MAX(CASE WHEN level < {lv} THEN s{lv} END) OVER "
      "(PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING "
      f"AND CURRENT ROW), 0) AS c{lv}" for lv in range(1, 7))}
  FROM running
)
SELECT doc_id, pos, level,
  array_to_string(list_transform(
    ([c1, c2, c3, c4, c5, c6])[1:level], x -> CAST(x AS VARCHAR)), '.')
    AS section_path,
  title,
  CAST(CASE WHEN length(body) = 0 THEN 0
       ELSE len(string_split(body, ' ')) END AS BIGINT) AS n_body_words
FROM counters
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation + context-window chunk packing
    (functions/text.split_sentences + chunk_pack): the sequence-packing op
    a training pipeline runs before tokenization. The synthetic corpus has
    no punctuation, so the fixture deterministically inserts '. ' after
    every 8th word (one global regexp_replace, identical rule in the
    oracle), then packs sentences into ~20-word chunks by the prefix-sum
    rule floor(words_before / cap). One shuffle: the (doc_id, chunk_id)
    groupBy lands on the window's doc_id partitioning."""
    from api_ocr_spark.functions import text as T

    docs = _docs(spark, sf_dir)
    marked = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.regexp_replace(F.col("text"),
                         r"((?:[^ ]+ ){7}[^ ]+) ", "$1. ").alias("text"),
    )
    return T.chunk_pack(marked, cap_words=20)


ORACLE_CHUNK_DOCUMENTS = r"""
WITH marked AS (
  SELECT doc_id,
    regexp_replace(text, '((?:[^ ]+ ){7}[^ ]+) ', '\1. ', 'g') AS text
  FROM documents
),
sentmarked AS (
  SELECT doc_id,
    regexp_replace(text, '([.!?]) ', '\1' || chr(1), 'g') AS m
  FROM marked
),
rawsent AS (
  SELECT doc_id, i AS i0, trim(parts[i]) AS sent
  FROM (SELECT doc_id, string_split(m, chr(1)) AS parts FROM sentmarked),
       unnest(range(1, len(parts) + 1)) AS t(i)
),
sents AS (
  SELECT doc_id,
    row_number() OVER (PARTITION BY doc_id ORDER BY i0) - 1 AS pos, sent,
    CASE WHEN length(sent) = 0 THEN 0
         ELSE len(string_split(sent, ' ')) END AS w
  FROM rawsent WHERE length(sent) > 0
),
chunked AS (
  SELECT doc_id, pos, sent, w,
    CAST(floor(coalesce(sum(w) OVER (
      PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 20.0)
      AS BIGINT) AS chunk_id
  FROM sents
)
SELECT doc_id, chunk_id,
  string_agg(sent, ' ' ORDER BY pos) AS chunk_text,
  CAST(count(*) AS BIGINT) AS n_sentences,
  CAST(sum(w) AS BIGINT) AS n_words
FROM chunked
GROUP BY doc_id, chunk_id
"""


def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter (functions/text.repetition_stats):
    duplicate-sentence fractions, top-2-gram char coverage, duplicate
    3-gram char fraction, keep flag. The fixture marks sentence boundaries
    every 8th word (same rule as chunk_documents) and PLANTS a repeated
    sentence for doc_id%5==0 — the plant embeds the doc's first word, so
    the duplicated unit varies per document and both keep branches are
    exercised by one corpus. Two shuffles: (doc,kind,val) gram counts
    (partial agg map-side), then the tiny per-doc rollup."""
    docs = _docs(spark, sf_dir)
    first_word = F.regexp_extract(F.col("text"), r"^([^ ]+)", 1)
    plant = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.lit(" "), first_word, F.lit(" repetido uno. "),
                 first_word, F.lit(" repetido uno.")),
    ).otherwise(F.lit(""))
    marked = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(
            F.regexp_replace(F.col("text"),
                             r"((?:[^ ]+ ){7}[^ ]+) ", "$1. "),
            plant,
        ).alias("text"),
    )
    # same single-file-parquet fan-out rationale as dedup._fan_out: the
    # explode+agg would otherwise run on ONE input partition here
    fanned = marked.repartition(
        2 * spark.sparkContext.defaultParallelism)
    return T.repetition_stats(fanned)


ORACLE_REPETITION = r"""
WITH fx AS (
  SELECT doc_id,
    regexp_replace(text, '((?:[^ ]+ ){7}[^ ]+) ', '\1. ', 'g') ||
    CASE WHEN doc_id % 5 = 0 THEN
      ' ' || regexp_extract(text, '^([^ ]+)', 1) || ' repetido uno. ' ||
      regexp_extract(text, '^([^ ]+)', 1) || ' repetido uno.'
    ELSE '' END AS t
  FROM documents
),
base AS (
  SELECT doc_id, length(t) AS tot_chars, t,
    string_split(trim(regexp_replace(lower(t), '\s+', ' ', 'g')), ' ') AS toks
  FROM fx
),
sent_m AS (
  SELECT doc_id, regexp_replace(t, '([.!?]) ', '\1' || chr(1), 'g') AS m
  FROM base
),
sents AS (
  SELECT doc_id, 's' AS kind, trim(parts[i]) AS val
  FROM (SELECT doc_id, string_split(m, chr(1)) AS parts FROM sent_m),
       unnest(range(1, len(parts) + 1)) AS u(i)
  WHERE length(trim(parts[i])) > 0
),
g2 AS (
  SELECT doc_id, '2' AS kind, toks[i] || ' ' || toks[i+1] AS val
  FROM base, unnest(range(1, len(toks))) AS u(i)
  WHERE len(toks) >= 2 AND i <= len(toks) - 1
),
g3 AS (
  SELECT doc_id, '3' AS kind,
    toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS val
  FROM base, unnest(range(1, len(toks))) AS u(i)
  WHERE len(toks) >= 3 AND i <= len(toks) - 2
),
units AS (
  SELECT * FROM sents UNION ALL SELECT * FROM g2 UNION ALL SELECT * FROM g3
),
counts AS (
  SELECT doc_id, kind, val, count(*) AS cnt
  FROM units GROUP BY doc_id, kind, val
),
agg AS (
  SELECT doc_id,
    sum(CASE WHEN kind = 's' THEN cnt ELSE 0 END) AS n_sents,
    sum(CASE WHEN kind = 's' AND cnt >= 2 THEN cnt ELSE 0 END) AS n_dup_sents,
    sum(CASE WHEN kind = 's' THEN cnt * length(val) ELSE 0 END) AS sent_chars,
    sum(CASE WHEN kind = 's' AND cnt >= 2 THEN cnt * length(val) ELSE 0 END)
      AS dup_sent_chars,
    max(CASE WHEN kind = '2' AND cnt >= 2 THEN cnt * length(val) ELSE 0 END)
      AS top2_chars,
    sum(CASE WHEN kind = '3' AND cnt >= 2 THEN cnt * length(val) ELSE 0 END)
      AS dup3_chars
  FROM counts GROUP BY doc_id
),
fr AS (
  SELECT a.doc_id,
    CASE WHEN n_sents > 0
      THEN CAST(n_dup_sents AS DOUBLE) / n_sents ELSE 0.0 END AS dup_sent_frac,
    CASE WHEN sent_chars > 0
      THEN CAST(dup_sent_chars AS DOUBLE) / sent_chars ELSE 0.0 END
      AS dup_sent_char_frac,
    CASE WHEN tot_chars > 0
      THEN CAST(top2_chars AS DOUBLE) / tot_chars ELSE 0.0 END
      AS top2_char_frac,
    CASE WHEN tot_chars > 0
      THEN CAST(dup3_chars AS DOUBLE) / tot_chars ELSE 0.0 END
      AS dup3_char_frac
  FROM agg a JOIN base b USING (doc_id)
)
SELECT doc_id, dup_sent_frac, dup_sent_char_frac, top2_char_frac,
  dup3_char_frac,
  CAST(CASE WHEN dup_sent_frac <= CAST('0.30' AS DOUBLE)
         AND top2_char_frac <= CAST('0.20' AS DOUBLE)
         AND dup3_char_frac <= CAST('0.60' AS DOUBLE)
       THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM fr
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 salient terms per doc by exact-rational TF-IDF
    (operators/keywords.tfidf_top_terms): score = (tf/doc_len)*(N/df) —
    the ln-free form is bit-identical across engines (IEEE divide and
    multiply are correctly rounded; libm ln is not), same ranking as
    ln-idf for fixed N. rank<=k plans as partial+final WindowGroupLimit;
    df derives from the distinct (doc,term) frame, never a second corpus
    pass."""
    return keywords.tfidf_top_terms(_docs(spark, sf_dir), k=5)


ORACLE_TFIDF = r"""
WITH toks AS (
  SELECT doc_id,
    len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
        ' ')) AS doc_len,
    unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
        ' ')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf, first(doc_len) AS doc_len
  FROM toks GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
    (t.tf / t.doc_len) * ((SELECT n_docs FROM n) / d.df) AS score
  FROM tf t JOIN dfreq d USING (term)
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY score DESC, term) AS rank
  FROM scored
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
  score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-100 vocabulary (operators/keywords.vocab_topk): corpus
    term counts + document frequency, (count desc, term asc) total order.
    sort+limit plans as TakeOrderedAndProject — each partition forwards
    only its local top-K, the global sort never materializes
    (plan-asserted)."""
    return keywords.vocab_topk(_docs(spark, sf_dir), k=100)


ORACLE_VOCAB_TOPK = r"""
WITH toks AS (
  SELECT doc_id,
    unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
        ' ')) AS term
  FROM documents
),
counts AS (
  SELECT term, CAST(count(*) AS BIGINT) AS n_occurrences,
    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM toks GROUP BY term
)
SELECT term, n_occurrences, n_docs
FROM counts ORDER BY n_occurrences DESC, term LIMIT 100
"""


_BPE_N_MERGES = 6


def _bpe_chain_sql(n_merges: int) -> str:
    """Shared CTE chain replaying operators/bpe.bpe_learn end-to-end:
    word census → char+'</w>' symbols → n_merges rounds of (adjacent-pair
    census → (count desc, lhs, rhs) argmax → greedy left-to-right rewrite).
    The rewrite is DuckDB's reduce() over singleton lists — leftmost
    non-overlapping fuse, pinned equal to the Spark fold by
    tests/test_bpe.py (self-pair runs included). Used by BOTH bpe oracles
    so the learned rules and the rewritten vocabulary are the same
    definition."""
    parts = [r"""
toks AS (
  SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ',
      'g')), ' ')) AS word
  FROM documents
),
census AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt
           FROM toks GROUP BY word),
v0 AS (SELECT cnt, list_append(string_split(word, ''), '</w>') AS symbols
       FROM census)"""]
    for r in range(1, n_merges + 1):
        parts.append(f"""
pairs{r} AS (
  SELECT p[1] AS lhs, p[2] AS rhs, CAST(SUM(cnt) AS BIGINT) AS pair_count
  FROM (SELECT cnt, unnest(list_transform(range(1, length(symbols)),
        i -> [symbols[i], symbols[i + 1]])) AS p FROM v{r - 1})
  GROUP BY 1, 2
),
best{r} AS (SELECT lhs, rhs, lhs || rhs AS merged, pair_count
            FROM pairs{r} ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
v{r} AS (
  SELECT cnt, reduce(list_transform(symbols, s -> [s]),
    (acc, x) -> CASE WHEN acc[-1] = b.lhs AND x[1] = b.rhs
                THEN list_append(acc[1:length(acc) - 1], b.merged)
                ELSE list_concat(acc, x) END) AS symbols
  FROM v{r - 1}, best{r} b
)""")
    return "WITH " + ",".join(parts)


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (operators/bpe.bpe_learn — Sennrich et al.
    2016): 6 merge rules learned over the word census. Corpus tokens are
    touched exactly once (the codegen'd census shuffle); every round is
    one census-sized pair shuffle + a 1-row collect, and the greedy
    rewrite folds run on DISTINCT words only — vocabulary cardinality is
    the scale firewall at 10^12 docs."""
    from api_ocr_spark.operators import bpe
    return bpe.merge_table(spark, _docs(spark, sf_dir),
                           n_merges=_BPE_N_MERGES)


ORACLE_BPE_MERGES = _bpe_chain_sql(_BPE_N_MERGES) + "\nSELECT * FROM (" + \
    " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_rank, lhs, rhs, merged, "
        f"pair_count FROM best{r}"
        for r in range(1, _BPE_N_MERGES + 1)) + ") ORDER BY merge_rank"


def q_bpe_subwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus subword census after the 6 learned BPE merges
    (operators/bpe.subword_census): top-40 tokens by occurrences
    (count desc, token asc), token counts derived from the vocab frame
    weighted by word count — no second corpus pass. sort+limit plans as
    TakeOrderedAndProject."""
    from api_ocr_spark.operators import bpe
    return bpe.subword_census(_docs(spark, sf_dir),
                              n_merges=_BPE_N_MERGES, k=40)


ORACLE_BPE_SUBWORDS = _bpe_chain_sql(_BPE_N_MERGES) + f"""
SELECT token, CAST(SUM(cnt) AS BIGINT) AS n_occurrences
FROM (SELECT cnt, unnest(symbols) AS token FROM v{_BPE_N_MERGES})
GROUP BY token ORDER BY n_occurrences DESC, token LIMIT 40
"""


_BM25_QUERIES = [
    (1, "fast table scan"),
    (2, "window agg join"),
    (3, "customer query value"),
    (4, "slow filter vector zzznotincorpus"),
]


_PHRASES = [
    (1, "fast table scan"),
    (2, "table table"),          # repeated term: distinct-offset semantics
    (3, "a a"),
    (4, "slow zzznotincorpus"),  # absent term: zero matches
    (5, "value"),                # single-term phrase: every occurrence
]


def q_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase retrieval (operators/retrieval.phrase_match):
    exact phrase hits via a BROADCAST (term, offset) phrase relation met
    map-side by positional postings; full match = count(DISTINCT offset)
    == phrase length per (doc, phrase, start) — ONE corpus shuffle on the
    match key. Phrase set plants repeated-term, absent-term, and
    single-term branches."""
    from api_ocr_spark.operators import retrieval
    pdf = spark.createDataFrame(_PHRASES, "phrase_id long, phrase string")
    return retrieval.phrase_match(_docs(spark, sf_dir), pdf)


ORACLE_PHRASE_MATCH = r"""
WITH p(phrase_id, phrase) AS (VALUES
  (1, 'fast table scan'), (2, 'table table'), (3, 'a a'),
  (4, 'slow zzznotincorpus'), (5, 'value')),
toks AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, t[i] AS term
  FROM (SELECT doc_id,
          string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                       ' ') AS t
        FROM documents),
       unnest(range(1, len(t) + 1)) AS tt(i)
),
pterms AS (
  SELECT phrase_id, phrase, CAST(len(pt) AS BIGINT) AS n_terms,
    CAST(i - 1 AS BIGINT) AS o, pt[i] AS term
  FROM (SELECT phrase_id, phrase, string_split(phrase, ' ') AS pt FROM p),
       unnest(range(1, len(pt) + 1)) AS tt(i)
),
hits AS (
  SELECT t.doc_id, pt.phrase_id, pt.phrase, pt.n_terms,
    t.pos - pt.o AS start, pt.o
  FROM toks t JOIN pterms pt USING (term)
  WHERE t.pos - pt.o >= 0
)
SELECT doc_id, phrase_id, phrase, CAST(start AS BIGINT) AS start
FROM hits
GROUP BY doc_id, phrase_id, phrase, n_terms, start
HAVING count(DISTINCT o) = n_terms
"""


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index BM25 top-10 per query (operators/retrieval.bm25_topk,
    Robertson et al. TREC-3): all-integer two-stage floor-division scoring
    with k1=6/5, b=3/4 exact — bit-identical across engines, sum of
    integers is order-free. Query 4 carries a term absent from the corpus
    (scores 0 contribution via the inner postings join — the set-semantics
    branch is exercised)."""
    from api_ocr_spark.operators import retrieval
    qdf = spark.createDataFrame(_BM25_QUERIES,
                                "query_id long, query_text string")
    return retrieval.bm25_topk(_docs(spark, sf_dir), qdf, k=10)


ORACLE_BM25 = rf"""
WITH q(query_id, query_text) AS (VALUES
  (1, 'fast table scan'), (2, 'window agg join'),
  (3, 'customer query value'), (4, 'slow filter vector zzznotincorpus')),
d AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws FROM documents),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(len(ws)) AS BIGINT) AS tl FROM d),
tf AS (
  SELECT doc_id, w AS term, CAST(count(*) AS BIGINT) AS tf,
         CAST(any_value(dl) AS BIGINT) AS doc_len
  FROM (SELECT doc_id, len(ws) AS dl, unnest(ws) AS w FROM d)
  GROUP BY doc_id, w
),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
qt AS (SELECT DISTINCT CAST(query_id AS BIGINT) AS query_id,
              unnest(string_split(query_text, ' ')) AS term FROM q),
pt AS (
  SELECT query_id, doc_id,
    (((22 * tf * tl * 1000000)
      // (10 * tf * tl + 3 * tl + 9 * doc_len * n))
     * (2 * n - 2 * df + 1)) // (2 * df + 1) AS term_score
  FROM tf JOIN qt USING (term) JOIN dfreq USING (term), stats
),
sc AS (SELECT query_id, doc_id, CAST(sum(term_score) AS BIGINT) AS score,
              CAST(count(*) AS BIGINT) AS n_terms_hit
       FROM pt GROUP BY 1, 2)
SELECT query_id, doc_id, score, n_terms_hit,
  CAST(row_number() OVER (PARTITION BY query_id
       ORDER BY score DESC, doc_id) AS INT) AS rank
FROM sc QUALIFY rank <= 10
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-snapshot diff (operators/snapshot.snapshot_diff): old
    snapshot drops doc_id%7==0 (those become 'added'), new snapshot drops
    doc_id%11==0 ('gone' where the old still had them) and rewrites the
    text of doc_id%5==0 ('changed'); everything else 'unchanged'. All four
    statuses are planted by construction. Map-side md5 fingerprints, one
    full outer join on the key."""
    from api_ocr_spark.operators import snapshot
    docs = _docs(spark, sf_dir)
    old = docs.filter(F.col("doc_id") % 7 != 0)
    new = docs.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.col("text"), F.lit(" [rev2]")))
        .otherwise(F.col("text")).alias("text"),
    )
    return snapshot.snapshot_diff(old, new)


ORACLE_SNAPSHOT_DIFF = """
WITH old AS (
  SELECT doc_id, md5(text) AS fp_old FROM documents WHERE doc_id % 7 <> 0),
new AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 5 = 0 THEN text || ' [rev2]'
                  ELSE text END) AS fp_new
  FROM documents WHERE doc_id % 11 <> 0)
SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
  CASE WHEN fp_old IS NULL THEN 'added'
       WHEN fp_new IS NULL THEN 'gone'
       WHEN fp_old = fp_new THEN 'unchanged'
       ELSE 'changed' END AS status,
  fp_old, fp_new
FROM old FULL JOIN new ON old.doc_id = new.doc_id
"""


_TOPIC_LEXICON = [
    ("storage", "table"), ("storage", "row"), ("storage", "scan"),
    ("compute", "agg"), ("compute", "join"), ("compute", "window"),
    ("rare", "dup"),
]


def q_topic_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon topic tagging (operators/topics.topic_tag): per-doc winning
    topic by total lexicon-term occurrences, tie-break topic asc; docs
    with doc_id%13==0 have their text replaced by out-of-lexicon tokens so
    the 'none' branch fires in-corpus; the 'rare' single-term topic only
    wins where 'dup' outnumbers both common topics — all three outcomes
    planted."""
    from api_ocr_spark.operators import topics
    lex = spark.createDataFrame(_TOPIC_LEXICON, "topic string, term string")
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 13 == 0, F.lit("zzz yyy zzz"))
        .otherwise(F.col("text")).alias("text"),
    )
    return topics.topic_tag(docs, lex)


ORACLE_TOPIC_TAG = rf"""
WITH lex(topic, term) AS (VALUES
  ('storage', 'table'), ('storage', 'row'), ('storage', 'scan'),
  ('compute', 'agg'), ('compute', 'join'), ('compute', 'window'),
  ('rare', 'dup')),
d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN 'zzz yyy zzz' ELSE {_NORM_SQL}
         END AS t
  FROM documents),
tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS term FROM d),
hits AS (
  SELECT doc_id, topic, count(*) AS n_hits
  FROM tok JOIN lex USING (term) GROUP BY doc_id, topic),
best AS (
  SELECT doc_id, topic, n_hits,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY n_hits DESC, topic) AS rn
  FROM hits)
SELECT d.doc_id,
       coalesce(b.topic, 'none') AS topic,
       CAST(coalesce(b.n_hits, 0) AS BIGINT) AS n_hits
FROM d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
"""


def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 PMI bigram collocations (operators/keywords
    .collocations_topk, Church & Hanks 1990): exact-rational score
    (c_ab * total) / (c1 * c2) — integer products exact, one correctly-
    rounded divide, bit-identical across engines; min_count=3 drops the
    classic low-count PMI instability; (score desc, bigram) total order
    plans as TakeOrderedAndProject. Natural corpus phrase distribution is
    the fixture."""
    return keywords.collocations_topk(_docs(spark, sf_dir), k=100)


ORACLE_COLLOCATIONS = rf"""
WITH d AS (SELECT string_split({_NORM_SQL}, ' ') AS ws FROM documents),
uni AS (
  SELECT w, count(*) AS c
  FROM (SELECT unnest(ws) AS w FROM d) GROUP BY w
),
total AS (SELECT CAST(sum(len(ws)) AS BIGINT) AS t FROM d),
bi AS (
  SELECT ws[i] || ' ' || ws[i+1] AS bigram, count(*) AS c_ab
  FROM d, unnest(range(1, len(ws))) AS u(i)
  GROUP BY 1 HAVING count(*) >= 3
),
parts AS (
  SELECT bigram, c_ab,
    string_split(bigram, ' ')[1] AS w1,
    string_split(bigram, ' ')[2] AS w2
  FROM bi
),
scored AS (
  SELECT bigram, CAST(c_ab AS BIGINT) AS c_ab,
    CAST(u1.c AS BIGINT) AS c1, CAST(u2.c AS BIGINT) AS c2,
    (c_ab * (SELECT t FROM total)) / (u1.c * u2.c) AS score
  FROM parts
  JOIN uni u1 ON parts.w1 = u1.w
  JOIN uni u2 ON parts.w2 = u2.w
)
SELECT * FROM scored ORDER BY score DESC, bigram LIMIT 100
"""


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-WIDE sentence dedup (operators/dedup.line_dedup): every
    sentence seen more than once anywhere in the corpus survives only at
    its first (doc_id, pos) occurrence; docs are re-assembled from kept
    sentences. The fixture marks boundaries every 8th word (chunk_documents
    rule) and plants cross-doc boilerplate: one sentence in EVERY doc and a
    second in even docs — so the keeper logic, the removal path, and the
    reassembly are all exercised corpus-wide. Min-agg + equi-join shape
    (skew-immune; see operator docstring), never a window sort."""
    docs = _docs(spark, sf_dir)
    marked = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(
            F.regexp_replace(F.col("text"),
                             r"((?:[^ ]+ ){7}[^ ]+) ", "$1. "),
            F.lit(". Boletin oficial de la escuela."),
            F.when(F.col("doc_id") % 2 == 0,
                   F.lit(" Aviso de privacidad vigente."))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return dedup.line_dedup(marked)


ORACLE_LINE_DEDUP = r"""
WITH fx AS (
  SELECT doc_id,
    regexp_replace(text, '((?:[^ ]+ ){7}[^ ]+) ', '\1. ', 'g') ||
    '. Boletin oficial de la escuela.' ||
    CASE WHEN doc_id % 2 = 0 THEN ' Aviso de privacidad vigente.'
         ELSE '' END AS t
  FROM documents
),
sent_m AS (
  SELECT doc_id, regexp_replace(t, '([.!?]) ', '\1' || chr(1), 'g') AS m
  FROM fx
),
rawsent AS (
  SELECT doc_id, i AS i0, trim(parts[i]) AS sent
  FROM (SELECT doc_id, string_split(m, chr(1)) AS parts FROM sent_m),
       unnest(range(1, len(parts) + 1)) AS u(i)
),
sents AS (
  SELECT doc_id,
    row_number() OVER (PARTITION BY doc_id ORDER BY i0) - 1 AS pos, sent
  FROM rawsent WHERE length(sent) > 0
),
flagged AS (
  SELECT doc_id, pos, sent,
    row_number() OVER (PARTITION BY sent ORDER BY doc_id, pos) = 1 AS kept
  FROM sents
)
SELECT doc_id,
  coalesce(string_agg(CASE WHEN kept THEN sent END, ' ' ORDER BY pos), '')
    AS clean_text,
  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_removed
FROM flagged
GROUP BY doc_id
"""


def q_template_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-scoped template removal (operators/dedup.template_lines):
    a sentence on >= 2 distinct pages of the same registered domain is
    boilerplate and removed from EVERY page of that domain — strictly
    stronger than line_dedup's keep-first rule (which would keep the
    first nav/footer occurrence). Fixture: sentence-injected text plus a
    per-domain legal-notice line ('aviso legal numero <dom#> ...') that
    appears on every page of its domain."""
    docs = _docs(spark, sf_dir)
    d = F.col("doc_id").cast("long")
    fx = docs.select(
        d.alias("doc_id"),
        F.concat(
            F.regexp_replace(F.col("text"),
                             r"((?:[^ ]+ ){7}[^ ]+) ", "$1. "),
            F.lit(". aviso legal numero "),
            (d % 23).cast("string"),
            F.lit(" derechos reservados."),
        ).alias("text"),
    )
    return dedup.template_lines(fx, _url_fixture(docs))




def q_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 document heuristics (functions/text.c4_doc_stats, Raffel et al.
    2020 §2.2 at document granularity): sentence census, terminal-punct
    majority, brace + bad-snippet detection, keep decision. The fixture
    marks sentence boundaries every 8 words and plants, by doc_id
    residue, a '{' (d%7), mixed-case 'Lorem Ipsum' (d%11), 'JavaScript'
    (d%5), an unterminated trailing fragment (d%3), and a too-short doc
    (d%13) — every rule fires both ways corpus-wide. Zero-shuffle pure
    map."""
    return T.c4_doc_stats(_c4_fixture(_docs(spark, sf_dir)))


def _c4_fixture(docs: DataFrame) -> DataFrame:
    """The c4 planted-enrichment fixture (doc_id, text) — shared by
    q_c4_filter and q_curation_funnel; mirrored in _C4_FX_SQL."""
    d = F.col("doc_id").cast("long")
    enriched = F.concat(
        F.regexp_replace(F.col("text"), r"((?:[^ ]+ ){7}[^ ]+) ", "$1. "),
        F.lit("."),
        F.when(d % 7 == 0, F.lit(" {config}")).otherwise(F.lit("")),
        F.when(d % 11 == 0,
               F.lit(" Lorem Ipsum dolor sit")).otherwise(F.lit("")),
        F.when(d % 5 == 0,
               F.lit(" Please enable JavaScript to continue"))
        .otherwise(F.lit("")),
        F.when(d % 3 == 0,
               F.lit(" trailing fragment without punct"))
        .otherwise(F.lit("")),
    )
    return docs.select(
        d.alias("doc_id"),
        F.when(d % 13 == 0, F.lit("too short"))
        .otherwise(enriched).alias("text"))


_C4_BAD_SQL = ("(contains(lower(t), 'lorem ipsum') OR "
               "contains(lower(t), 'javascript') OR "
               "contains(lower(t), 'cookie policy'))")
_C4_TERM_SQL = "len(list_filter(sents, s -> regexp_matches(s, '[.!?]$')))"

_C4_FX_SQL = rf"""  SELECT doc_id,
    CASE WHEN doc_id % 13 = 0 THEN 'too short'
    ELSE regexp_replace(text, '((?:[^ ]+ ){{7}}[^ ]+) ', '\1. ', 'g')
      || '.' ||
      CASE WHEN doc_id % 7 = 0 THEN ' {{config}}' ELSE '' END ||
      CASE WHEN doc_id % 11 = 0 THEN ' Lorem Ipsum dolor sit'
           ELSE '' END ||
      CASE WHEN doc_id % 5 = 0
           THEN ' Please enable JavaScript to continue' ELSE '' END ||
      CASE WHEN doc_id % 3 = 0
           THEN ' trailing fragment without punct' ELSE '' END
    END AS t
  FROM documents"""


ORACLE_C4_FILTER = rf"""
WITH fx AS (
{_C4_FX_SQL}
),
sent AS (
  SELECT doc_id, t,
    list_filter(
      list_transform(
        string_split(regexp_replace(t, '([.!?]) ', '\1' || chr(1), 'g'),
                     chr(1)),
        s -> trim(s)),
      s -> length(s) > 0) AS sents
  FROM fx
)
SELECT doc_id,
  CAST(len(sents) AS BIGINT) AS n_sentences,
  CAST({_C4_TERM_SQL} AS BIGINT) AS n_terminal,
  contains(t, '{{') AS has_brace,
  {_C4_BAD_SQL} AS has_bad_snippet,
  (len(sents) >= 3 AND NOT contains(t, '{{') AND NOT {_C4_BAD_SQL}
   AND 2 * {_C4_TERM_SQL} >= len(sents)) AS keep
FROM sent
"""


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation funnel with first-failing-stage attribution
    (operators/funnel.curation_funnel) over the c4 fixture corpus plus
    +40M exact replicas of every 50th doc: exact_dup → too_short →
    c4_quality → kept, one fingerprint shuffle + doc-keyed joins, every
    quality signal codegen. The per-stage drop accounting of a C4/
    RefinedWeb-style pipeline in one query."""
    from api_ocr_spark.operators import funnel

    base = _c4_fixture(_docs(spark, sf_dir))
    planted = base.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 40_000_000).alias("doc_id"), "text")
    return funnel.curation_funnel(base.unionByName(planted))


ORACLE_CURATION_FUNNEL = rf"""
WITH fx0 AS (
{_C4_FX_SQL}
),
base AS (
  SELECT doc_id, t FROM fx0
  UNION ALL
  SELECT doc_id + 40000000 AS doc_id, t FROM fx0 WHERE doc_id % 50 = 0
),
fp AS (
  SELECT doc_id, t,
    md5(lower(trim(regexp_replace(t, '\s+', ' ', 'g')))) AS f,
    CAST(len(string_split(trim(regexp_replace(lower(t), '\s+', ' ', 'g')),
                          ' ')) AS BIGINT) AS n_tokens
  FROM base
),
keepers AS (SELECT f, min(doc_id) AS keeper FROM fp GROUP BY f),
sent AS (
  SELECT doc_id, t,
    list_filter(
      list_transform(
        string_split(regexp_replace(t, '([.!?]) ', '\1' || chr(1), 'g'),
                     chr(1)),
        s -> trim(s)),
      s -> length(s) > 0) AS sents
  FROM base
),
stats AS (
  SELECT doc_id, CAST(len(sents) AS BIGINT) AS n_sentences,
    (len(sents) >= 3 AND NOT contains(t, '{{') AND NOT {_C4_BAD_SQL}
     AND 2 * {_C4_TERM_SQL} >= len(sents)) AS keep
  FROM sent
)
SELECT p.doc_id,
  CASE WHEN p.doc_id != k.keeper THEN 'exact_dup'
       WHEN p.n_tokens < 12 THEN 'too_short'
       WHEN NOT s.keep THEN 'c4_quality'
       ELSE 'kept' END AS stage,
  p.n_tokens, s.n_sentences
FROM fp p JOIN keepers k USING (f) JOIN stats s ON s.doc_id = p.doc_id
"""


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer Flesch-Kincaid surrogate (functions/text.readability_stats)
    over the sentence-injected fixture (the c4 trick: a period every 8
    words, so the W/S dimension varies) — floored-ratio milligrade,
    vowel-group syllables, all replayed in SQL."""
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(
            F.regexp_replace(F.col("text"),
                             r"((?:[^ ]+ ){7}[^ ]+) ", "$1. "),
            F.lit("."),
        ).alias("text"),
    )
    return T.readability_stats(docs)


ORACLE_READABILITY = rf"""
WITH fx AS (
  SELECT doc_id,
    regexp_replace(text, '((?:[^ ]+ ){{7}}[^ ]+) ', '\1. ', 'g') || '.'
      AS t
  FROM documents
),
staged AS (
  SELECT doc_id,
    CAST(len(string_split(trim(regexp_replace(t, '\s+', ' ', 'g')), ' '))
         AS BIGINT) AS n_words,
    CAST(greatest(1, len(list_filter(
      list_transform(
        string_split(regexp_replace(t, '([.!?]) ', '\1' || chr(1), 'g'),
                     chr(1)),
        s -> trim(s)),
      s -> length(s) > 0))) AS BIGINT) AS n_sentences,
    CAST(len(regexp_extract_all(
      lower(trim(regexp_replace(t, '\s+', ' ', 'g'))), '([aeiouy]+)', 1))
         AS BIGINT) AS n_syllables
  FROM fx
)
SELECT doc_id, n_words, n_sentences, n_syllables,
  CAST((390 * n_words) // n_sentences
       + (11800 * n_syllables) // n_words - 15590 AS BIGINT) AS fk_milli
FROM staged
"""


def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-driven blocklist gate (operators/funnel.blocklist_filter,
    UT1-list shape): the blocklist RELATION is synthesized from the
    corpus vocabulary by md5 gate (first hex digit 0 -> ~1/16 of terms,
    weight = 1 + second-hex mod 3), sized so the weighted blocked
    fraction straddles the 1/10 keep threshold — both verdicts occur.
    Broadcast map-side meet, cross-multiplied integer gate."""
    from api_ocr_spark.operators import funnel

    docs = _docs(spark, sf_dir)
    vocab = docs.select(
        F.explode(T.tokens(F.col("text"))).alias("term")).distinct()
    h = lambda pos: F.conv(  # noqa: E731
        F.substring(F.md5("term"), pos, 1), 16, 10).cast("long")
    bl = vocab.where(h(1) < 1).select(
        "term", (1 + h(2) % 3).alias("weight"))
    return funnel.blocklist_filter(docs, bl)


ORACLE_BLOCKLIST = rf"""
WITH toks AS (
  SELECT doc_id,
    unnest(string_split({_NORM_SQL}, ' ')) AS term
  FROM documents
),
vocab AS (SELECT DISTINCT term FROM toks),
bl AS (
  SELECT term,
    1 + CAST(('0x' || substr(md5(term), 2, 1)) AS BIGINT) % 3 AS w
  FROM vocab
  WHERE CAST(('0x' || substr(md5(term), 1, 1)) AS BIGINT) < 1
),
hitagg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS hits,
         CAST(sum(w) AS BIGINT) AS wh
  FROM toks JOIN bl USING (term) GROUP BY doc_id
),
n AS (
  SELECT doc_id,
    CAST(len(string_split({_NORM_SQL}, ' ')) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT n.doc_id, n.n_tokens,
  coalesce(h.hits, 0) AS hits,
  coalesce(h.wh, 0) AS weighted_hits,
  (10 * coalesce(h.wh, 0) < 1 * n.n_tokens) AS keep
FROM n LEFT JOIN hitagg h USING (doc_id)
"""


def q_corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset integrity manifest (operators/funnel.corpus_manifest):
    per-md5-shard doc/token counts + commutative BIT_XOR content hash of
    60-bit md5 ints binding doc_id to the text fingerprint — the
    checksums artifact a reproducible corpus release ships with."""
    from api_ocr_spark.operators import funnel

    return funnel.corpus_manifest(_docs(spark, sf_dir))


ORACLE_CORPUS_MANIFEST = rf"""
WITH per_doc AS (
  SELECT
    CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))
         AS BIGINT) % 16 AS shard,
    CAST(len(string_split({_NORM_SQL}, ' ')) AS BIGINT) AS n_toks,
    CAST(('0x' || substr(
        md5(CAST(doc_id AS VARCHAR) || ':' || md5({_NORM_SQL})), 1, 15))
         AS BIGINT) AS h
  FROM documents
)
SELECT shard,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
  CAST(bit_xor(h) AS BIGINT) AS content_hash
FROM per_doc GROUP BY shard
"""


def q_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card corpus statistics (operators/funnel.corpus_datasheet —
    Gebru et al. 2021): one exact-integer row of doc/token/vocab counts,
    exact-dup mass, length extremes, and language mix; one corpus pass,
    two tiny map-side-partial aggregations. Run over the corpus plus +40M
    replicas of every 100th doc so n_exact_dup_docs is nonzero."""
    from api_ocr_spark.operators import funnel

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")
    planted = docs.filter(F.col("doc_id") % 100 == 0).select(
        (F.col("doc_id") + 40_000_000).alias("doc_id"), "text")
    return funnel.corpus_datasheet(docs.unionByName(planted))


ORACLE_CORPUS_DATASHEET = rf"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 40000000 AS doc_id, text FROM documents
  WHERE doc_id % 100 = 0
),
d AS (
  SELECT doc_id, text,
    string_split({_NORM_SQL}, ' ') AS ws,
    md5({_NORM_SQL}) AS fp
  FROM base
),
per_doc AS (
  SELECT CAST(len(ws) AS BIGINT) AS n_tokens, fp,
    CASE WHEN len(list_filter(ws, x -> x IN ('the','a','of')))
              > len(list_filter(ws, x -> x IN ('de','la','el'))) THEN 'en'
         WHEN len(list_filter(ws, x -> x IN ('de','la','el')))
              > len(list_filter(ws, x -> x IN ('the','a','of'))) THEN 'es'
         WHEN len(list_filter(ws, x -> x IN ('the','a','of'))) > 0
              THEN 'en'
         ELSE 'unknown' END AS lang
  FROM d
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
    CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_exact_dup_docs,
    CAST(MIN(n_tokens) AS BIGINT) AS min_doc_tokens,
    CAST(MAX(n_tokens) AS BIGINT) AS max_doc_tokens,
    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
    CAST(SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS n_es,
    CAST(SUM(CASE WHEN lang NOT IN ('en', 'es') THEN 1 ELSE 0 END)
         AS BIGINT) AS n_other
  FROM per_doc
),
vocab AS (
  SELECT CAST(count(DISTINCT w) AS BIGINT) AS vocab_size
  FROM (SELECT unnest(ws) AS w FROM d)
)
SELECT * FROM agg, vocab
"""


def q_doclen_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two doc-length histogram (operators/funnel
    .doclen_histogram): bucket index = binary-string length of the token
    count — exact integer in both engines where float log2 could round
    differently at bucket edges. Pure map + one tiny bucket shuffle."""
    from api_ocr_spark.operators import funnel

    return funnel.doclen_histogram(_docs(spark, sf_dir))


ORACLE_DOCLEN_HISTOGRAM = rf"""
WITH d AS (
  SELECT CAST(len(string_split({_NORM_SQL}, ' ')) AS BIGINT) AS n
  FROM documents
),
b AS (
  SELECT n,
    CASE WHEN n = 0 THEN 0
         ELSE 1 << (length(bin(n)) - 1) END AS bucket_lo,
    CASE WHEN n = 0 THEN 0
         ELSE 2 * (1 << (length(bin(n)) - 1)) - 1 END AS bucket_hi
  FROM d
)
SELECT CAST(bucket_lo AS BIGINT) AS bucket_lo,
  CAST(bucket_hi AS BIGINT) AS bucket_hi,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(SUM(n) AS BIGINT) AS n_tokens
FROM b GROUP BY 1, 2
"""


def q_rarity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail corpus split
    (operators/keywords.rarity_buckets): integer unigram-surprisal
    surrogate for LM fit (total DIV count per token occurrence — exact
    arithmetic in both engines; KenLM is the documented production
    swap-in), corpus thirds by mean rarity over the distinct-mean
    histogram frame. Runs on the raw corpus — the natural term
    distribution is the fixture."""
    return keywords.rarity_buckets(_docs(spark, sf_dir))


ORACLE_RARITY_BUCKETS = rf"""
WITH toks AS (
  SELECT doc_id,
    unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
        ' ')) AS term
  FROM documents
),
vocab AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
total AS (SELECT count(*) AS t FROM toks),
perdoc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
    CAST(sum((SELECT t FROM total) // cnt) AS BIGINT) AS rarity_sum
  FROM toks JOIN vocab USING (term) GROUP BY doc_id
),
pd AS (
  SELECT doc_id, n_tokens, rarity_sum,
    CAST(rarity_sum // n_tokens AS BIGINT) AS mean_rarity
  FROM perdoc
),
n AS (SELECT count(*) AS n_docs FROM documents),
counts AS (SELECT mean_rarity, count(*) AS n FROM pd GROUP BY mean_rarity),
cum AS (
  SELECT mean_rarity, coalesce(sum(n) OVER (
      ORDER BY mean_rarity
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c_before
  FROM counts
),
buckets AS (
  SELECT mean_rarity,
    CASE WHEN 3 * c_before < (SELECT n_docs FROM n) THEN 'head'
         WHEN 3 * c_before < 2 * (SELECT n_docs FROM n) THEN 'middle'
         ELSE 'tail' END AS bucket
  FROM cum
)
SELECT pd.doc_id, pd.n_tokens, pd.rarity_sum, pd.mean_rarity, b.bucket
FROM pd JOIN buckets b USING (mean_rarity)
"""


def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-one-smoothed bigram-LM likelihood ledger
    (operators/keywords.bigram_lm_score) — the sequence-model upgrade of
    rarity_buckets' unigram surrogate, exact integer arithmetic end to
    end (milli = scale*(c_big+1) DIV (c_pre+V)), so the DuckDB twin is an
    equality check."""
    return keywords.bigram_lm_score(_docs(spark, sf_dir))


ORACLE_BIGRAM_LM = rf"""
WITH t AS (
  SELECT doc_id,
    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
  FROM documents
), bg AS (
  SELECT doc_id,
    unnest(list_transform(range(2, len(ws) + 1),
                          i -> ws[i-1] || ' ' || ws[i])) AS bigram
  FROM t
),
bc AS (SELECT bigram, count(*) AS c_big FROM bg GROUP BY bigram),
pc AS (
  SELECT split_part(bigram, ' ', 1) AS w1, sum(c_big) AS c_pre
  FROM bc GROUP BY w1
),
v AS (
  SELECT count(DISTINCT tok) AS vv
  FROM (SELECT unnest(ws) AS tok FROM t)
),
milli AS (
  SELECT bigram,
    (1000000 * (c_big + 1)) // (c_pre + (SELECT vv FROM v)) AS m
  FROM bc JOIN pc ON split_part(bc.bigram, ' ', 1) = pc.w1
),
perdoc AS (
  SELECT doc_id, count(*) AS n_bigrams, sum(m) AS lm_sum
  FROM bg JOIN milli USING (bigram) GROUP BY doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
  CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
  CAST(coalesce(p.lm_sum, 0) AS BIGINT) AS lm_sum,
  CAST(CASE WHEN coalesce(p.n_bigrams, 0) > 0
            THEN p.lm_sum // p.n_bigrams ELSE 0 END AS BIGINT)
    AS lm_mean_milli
FROM documents d LEFT JOIN perdoc p USING (doc_id)
"""


_SPANDUP_A = "the quick brown fox jumps over lazy dog"
_SPANDUP_B = "pack my box with five dozen liquor jugs"


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup (operators/dedup.substring_dedup, Lee et al.
    2021): every 8-token span occurring more than once corpus-wide
    survives only at its first (doc_id, start); covered tokens of later
    occurrences are removed and docs re-assembled. The fixture plants an
    8-token phrase A in EVERY doc, phrase B after A in even docs (the 7
    straddling A|B grams are duplicated too — exercises overlapping-span
    union coverage), and A a second time in doc_id%5==0 docs (intra-doc
    duplication). Keeper agg is map-side partial min+count; reassembly is
    array-native (tokens never explode through a shuffle — see operator
    docstring)."""
    docs = _docs(spark, sf_dir)
    marked = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(
            F.col("text"),
            F.lit(" " + _SPANDUP_A),
            F.when(F.col("doc_id") % 2 == 0, F.lit(" " + _SPANDUP_B))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" " + _SPANDUP_A))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return dedup.substring_dedup(marked, k=8)


ORACLE_SUBSTRING_DEDUP = rf"""
WITH fx AS (
  SELECT doc_id,
    text || ' {_SPANDUP_A}' ||
    CASE WHEN doc_id % 2 = 0 THEN ' {_SPANDUP_B}' ELSE '' END ||
    CASE WHEN doc_id % 5 = 0 THEN ' {_SPANDUP_A}' ELSE '' END AS t
  FROM documents
),
parts AS (
  SELECT doc_id,
    string_split(trim(regexp_replace(lower(t), '\s+', ' ', 'g')), ' ') AS ts
  FROM fx
),
grams AS (
  SELECT doc_id, i - 1 AS start, array_to_string(ts[i:i+7], ' ') AS gram
  FROM parts, unnest(range(1, len(ts) - 6)) AS u(i)
),
occ AS (
  SELECT doc_id, start,
    count(*) OVER (PARTITION BY gram) AS cnt,
    row_number() OVER (PARTITION BY gram ORDER BY doc_id, start) AS rn
  FROM grams
),
rmstart AS (SELECT doc_id, start FROM occ WHERE cnt > 1 AND rn > 1),
spans AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans
  FROM rmstart GROUP BY doc_id
),
rmpos AS (
  SELECT DISTINCT doc_id, start + j AS pos
  FROM rmstart, unnest(range(0, 8)) AS v(j)
),
toks AS (
  SELECT doc_id, i - 1 AS pos, ts[i] AS tok
  FROM parts, unnest(range(1, len(ts) + 1)) AS u(i)
)
SELECT tk.doc_id,
  coalesce(string_agg(CASE WHEN r.pos IS NULL THEN tk.tok END,
                      ' ' ORDER BY tk.pos), '') AS clean_text,
  CAST(count(*) AS BIGINT) AS n_tokens,
  CAST(sum(CASE WHEN r.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_removed,
  CAST(max(coalesce(s.n_dup_spans, 0)) AS BIGINT) AS n_dup_spans
FROM toks tk
LEFT JOIN rmpos r ON tk.doc_id = r.doc_id AND tk.pos = r.pos
LEFT JOIN spans s ON tk.doc_id = s.doc_id
GROUP BY tk.doc_id
"""


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style PII scrub (functions/text.redact_pii): emails, IPv4, and
    phone-shaped number groups to placeholder tokens + per-doc counts. The
    fixture plants a DIFFERENT PII kind per doc_id%3 with id-varying
    values; the corpus's own digit runs exercise the aggressive-phone
    policy on unplanted text. Pure zero-shuffle codegen map; counts taken
    stepwise on the progressively redacted text, nesting mirrored in the
    oracle."""
    docs = _docs(spark, sf_dir)
    d = F.col("doc_id").cast("long")
    plant = (
        F.when(d % 3 == 0,
               F.concat(F.lit(" contacto: user"), d.cast("string"),
                        F.lit("@mail"), (d % 7).cast("string"),
                        F.lit(".com")))
        .when(d % 3 == 1,
              F.concat(F.lit(" servidor 10."), (d % 250).cast("string"),
                       F.lit(".0."), (d % 200).cast("string")))
        .otherwise(
            F.concat(F.lit(" tel +52 55-23"),
                     (d % 80 + 10).cast("string"), F.lit("-1234"))))
    fx = docs.select(d.alias("doc_id"),
                     F.concat(F.col("text"), plant).alias("text"))
    return T.redact_pii(fx)


ORACLE_REDACT_PII = f"""
WITH fx AS (
  SELECT doc_id, text ||
    CASE WHEN doc_id % 3 = 0 THEN ' contacto: user' ||
           CAST(doc_id AS VARCHAR) || '@mail' ||
           CAST(doc_id % 7 AS VARCHAR) || '.com'
         WHEN doc_id % 3 = 1 THEN ' servidor 10.' ||
           CAST(doc_id % 250 AS VARCHAR) || '.0.' ||
           CAST(doc_id % 200 AS VARCHAR)
         ELSE ' tel +52 55-23' || CAST(doc_id % 80 + 10 AS VARCHAR) ||
           '-1234' END AS t
  FROM documents
),
s1 AS (
  SELECT doc_id, t,
    regexp_replace(t, '{T.PII_EMAIL_PATTERN}', '<EMAIL>', 'g') AS t1
  FROM fx
),
s2 AS (
  SELECT doc_id, t, t1,
    regexp_replace(t1, '{T.PII_IP_PATTERN}', '<IP>', 'g') AS t2
  FROM s1
)
SELECT doc_id,
  regexp_replace(t2, '{T.PII_PHONE_PATTERN}', '<PHONE>', 'g') AS clean_text,
  CAST(len(regexp_extract_all(t, '{T.PII_EMAIL_PATTERN}')) AS BIGINT)
    AS n_emails,
  CAST(len(regexp_extract_all(t1, '{T.PII_IP_PATTERN}')) AS BIGINT) AS n_ips,
  CAST(len(regexp_extract_all(t2, '{T.PII_PHONE_PATTERN}')) AS BIGINT)
    AS n_phones
FROM s2
"""


# deterministic per-doc URL fixture shared by the two url_* queries: the
# registered domain cycles over 23x3=69 (dom, tld) pairs, the subdomain over
# 4 values, path shape and query presence alternate by parity — every parsed
# field varies with doc_id so constants can't be special-cased. The SQL twin
# below is the verbatim mirror.
def _url_expr() -> Column:
    """The deterministic URL-per-doc rule (over doc_id + text columns) —
    shared by the url_* fixtures and the WARC fixture's WARC-Target-URI."""
    d = F.col("doc_id").cast("long")
    sub = (F.when(d % 4 == 0, "www.").when(d % 4 == 1, "blog.")
           .when(d % 4 == 2, "").otherwise("shop."))
    tld = F.when(d % 3 == 0, "com").when(d % 3 == 1, "org").otherwise("net")
    first_word = F.regexp_extract(F.col("text"), r"^([^ ]+)", 1)
    return F.concat(
        F.lit("https://"), sub, F.lit("dom"), (d % 23).cast("string"),
        F.lit("."), tld, F.lit("/"), first_word,
        F.when(d % 2 == 0,
               F.concat(F.lit("/p/"), d.cast("string"))).otherwise(F.lit("")),
        F.when(d % 2 == 1,
               F.concat(F.lit("?utm="),
                        (d % 9).cast("string"))).otherwise(F.lit("")),
    )


def _url_fixture(docs: DataFrame) -> DataFrame:
    return docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                       _url_expr().alias("url"))


_URL_FIXTURE_SQL = """
  SELECT doc_id,
    'https://' ||
    CASE doc_id % 4 WHEN 0 THEN 'www.' WHEN 1 THEN 'blog.'
                    WHEN 2 THEN '' ELSE 'shop.' END ||
    'dom' || CAST(doc_id % 23 AS VARCHAR) || '.' ||
    CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END ||
    '/' || regexp_extract(text, '^([^ ]+)', 1) ||
    CASE WHEN doc_id % 2 = 0 THEN '/p/' || CAST(doc_id AS VARCHAR)
         ELSE '' END ||
    CASE WHEN doc_id % 2 = 1 THEN '?utm=' || CAST(doc_id % 9 AS VARCHAR)
         ELSE '' END AS url
  FROM documents
"""

_URL_PARSED_SQL = r"""
  SELECT doc_id, url,
    regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS host,
    regexp_extract(regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1),
                   '([^.]+\.[^.]+)$', 1) AS registered_domain,
    CAST(len(list_filter(
      string_split(regexp_extract(
        url, '^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/'),
      s -> length(s) > 0)) AS BIGINT) AS path_depth
  FROM u
"""


ORACLE_TEMPLATE_LINES = rf"""
WITH fx AS (
  SELECT doc_id,
    regexp_replace(text, '((?:[^ ]+ ){{7}}[^ ]+) ', '\1. ', 'g')
    || '. aviso legal numero ' || CAST(doc_id % 23 AS VARCHAR)
    || ' derechos reservados.' AS t
  FROM documents
),
u AS ({_URL_FIXTURE_SQL}),
p AS (
  SELECT doc_id,
    regexp_extract(regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1),
                   '([^.]+\.[^.]+)$', 1) AS registered_domain
  FROM u
),
sent_m AS (
  SELECT doc_id, regexp_replace(t, '([.!?]) ', '\1' || chr(1), 'g') AS m
  FROM fx
),
rawsent AS (
  SELECT doc_id, i AS i0, trim(parts[i]) AS sent
  FROM (SELECT doc_id, string_split(m, chr(1)) AS parts FROM sent_m),
       unnest(range(1, len(parts) + 1)) AS u2(i)
),
sents AS (
  SELECT doc_id,
    row_number() OVER (PARTITION BY doc_id ORDER BY i0) - 1 AS pos, sent
  FROM rawsent WHERE length(sent) > 0
),
sd AS (
  SELECT s.doc_id, p.registered_domain, s.pos, s.sent
  FROM sents s JOIN p USING (doc_id)
),
census AS (
  SELECT registered_domain, sent, count(DISTINCT doc_id) AS n_pages
  FROM sd GROUP BY registered_domain, sent
),
boiler AS (
  SELECT registered_domain, sent FROM census WHERE n_pages >= 2
),
fl AS (
  SELECT sd.doc_id, sd.registered_domain, sd.pos, sd.sent,
    (b.sent IS NOT NULL) AS tpl
  FROM sd LEFT JOIN boiler b
    ON b.registered_domain = sd.registered_domain AND b.sent = sd.sent
)
SELECT doc_id, registered_domain,
  coalesce(string_agg(CASE WHEN NOT tpl THEN sent END, ' ' ORDER BY pos),
           '') AS clean_text,
  CAST(sum(CASE WHEN NOT tpl THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST(sum(CASE WHEN tpl THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
FROM fl
GROUP BY doc_id, registered_domain
"""


def q_url_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain blocklist + per-domain cap sampling (functions/url
    .domain_cap_sample): parse registered domains, anti-join a broadcast
    blocklist (domains whose md5 first hex digit is 0-3, ~25% — derived
    in-query so the oracle can replay it; a production blocklist arrives as
    a table and the plan is identical), keep the 3 lowest md5-ranked docs
    per domain. rank<=cap plans as partial+final WindowGroupLimit: a
    template domain's million pages contribute 3 rows per map task to the
    shuffle — skew absorbed before the wire (plan-asserted)."""
    from api_ocr_spark.functions import url as U

    urls = _url_fixture(_docs(spark, sf_dir))
    domains = urls.select(
        U.registered_domain(F.col("url")).alias("registered_domain")
    ).distinct()
    blocklist = domains.where(
        F.substring(F.md5(F.concat(F.lit("block:"),
                                   F.col("registered_domain"))), 1, 1)
        .isin("0", "1", "2", "3"))
    return U.domain_cap_sample(urls, cap=3, blocklist=blocklist)


ORACLE_URL_DOMAIN_CAP = f"""
WITH u AS ({_URL_FIXTURE_SQL}),
parsed AS ({_URL_PARSED_SQL}),
keepable AS (
  SELECT * FROM parsed
  WHERE substring(md5('block:' || registered_domain), 1, 1)
        NOT IN ('0', '1', '2', '3')
),
ranked AS (
  SELECT doc_id, host, registered_domain, path_depth,
    CAST(row_number() OVER (
      PARTITION BY registered_domain
      ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id)
      AS BIGINT) AS domain_rank
  FROM keepable
)
SELECT * FROM ranked WHERE domain_rank <= 3
"""


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup (functions/url.url_dedup): RFC-3986
    syntax normalization + tracking-param scrub, then min-doc_id keeper
    per canonical form. The messy fixture exercises every rule — uppercase
    scheme (doc_id%4==0) and host (doc_id%8<4), default ports :443/:80
    (stripped) vs :8080 (kept, doc_id%10==7), duplicate-slash + trailing-
    slash paths (even docs), utm_*/fbclid scrub + param sorting, fragments
    everywhere — and plants collisions via the m = doc_id%300 identity:
    docs d and d+300 canonicalize identically while differing in raw case,
    tracking values, and fragments (200 pairs + 100 singletons at
    sf0.01)."""
    from api_ocr_spark.functions import url as U

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id").cast("long")
    m = d % 300
    scheme = (F.when(d % 20 == 3, "http")
              .when(d % 4 == 0, "HTTPS").otherwise("https"))
    port = (F.when(d % 20 == 3, ":80")
            .when(d % 10 == 7, ":8080")
            .when(d % 2 == 0, ":443").otherwise(""))
    tld = (F.when(m % 3 == 0, "com")
           .when(m % 3 == 1, "org").otherwise("net"))
    host = F.concat(
        F.when(d % 8 < 4, F.lit("Dom")).otherwise(F.lit("dom")),
        (m % 23).cast("string"), F.lit("."), tld)
    path = (F.when(d % 2 == 0,
                   F.concat(F.lit("/w//a"), m.cast("string"), F.lit("//")))
            .otherwise(F.concat(F.lit("/w/a"), m.cast("string"))))
    query = (F.when(d % 2 == 1,
                    F.concat(F.lit("?utm_campaign="), d.cast("string")))
             .otherwise(F.concat(F.lit("?b=2&a=1&fbclid="),
                                 d.cast("string"))))
    url = F.concat(scheme, F.lit("://"), host, port, path, query,
                   F.lit("#s"), d.cast("string"))
    return U.url_dedup(docs.select(d.alias("doc_id"), url.alias("url")))


ORACLE_URL_DEDUP = r"""
WITH u AS (
  SELECT doc_id,
    CASE WHEN doc_id % 20 = 3 THEN 'http'
         WHEN doc_id % 4 = 0 THEN 'HTTPS' ELSE 'https' END || '://' ||
    CASE WHEN doc_id % 8 < 4 THEN 'Dom' ELSE 'dom' END ||
    CAST((doc_id % 300) % 23 AS VARCHAR) || '.' ||
    CASE (doc_id % 300) % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
         ELSE 'net' END ||
    CASE WHEN doc_id % 20 = 3 THEN ':80'
         WHEN doc_id % 10 = 7 THEN ':8080'
         WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END ||
    CASE WHEN doc_id % 2 = 0
         THEN '/w//a' || CAST(doc_id % 300 AS VARCHAR) || '//'
         ELSE '/w/a' || CAST(doc_id % 300 AS VARCHAR) END ||
    CASE WHEN doc_id % 2 = 1
         THEN '?utm_campaign=' || CAST(doc_id AS VARCHAR)
         ELSE '?b=2&a=1&fbclid=' || CAST(doc_id AS VARCHAR) END ||
    '#s' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
),
parts AS (
  SELECT doc_id,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
      AS scheme,
    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1))
      AS hostport,
    regexp_replace(
      regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
      '/+', '/', 'g') AS collapsed,
    regexp_extract(url, '\?([^#]*)', 1) AS query
  FROM u
),
canon AS (
  SELECT doc_id,
    scheme || '://' || regexp_replace(hostport, ':[0-9]+$', '') ||
    CASE WHEN regexp_extract(hostport, ':([0-9]+)$', 1) <> ''
              AND NOT ((scheme = 'http'
                        AND regexp_extract(hostport, ':([0-9]+)$', 1) = '80')
                   OR (scheme = 'https'
                       AND regexp_extract(hostport, ':([0-9]+)$', 1) = '443'))
         THEN ':' || regexp_extract(hostport, ':([0-9]+)$', 1) ELSE '' END ||
    CASE WHEN collapsed IN ('', '/') THEN '/'
         ELSE regexp_replace(collapsed, '/$', '') END ||
    CASE WHEN array_to_string(list_sort(list_filter(string_split(query, '&'),
           p -> length(p) > 0 AND NOT regexp_matches(
             p, '^(utm_[^=]*|fbclid|gclid|ref)='))), '&') <> ''
         THEN '?' || array_to_string(list_sort(list_filter(
           string_split(query, '&'),
           p -> length(p) > 0 AND NOT regexp_matches(
             p, '^(utm_[^=]*|fbclid|gclid|ref)='))), '&')
         ELSE '' END AS canonical_url
  FROM parts
),
groups AS (
  SELECT canonical_url, min(doc_id) AS keeper_doc_id,
    CAST(count(*) AS BIGINT) AS n_urls
  FROM canon GROUP BY canonical_url
)
SELECT c.doc_id, c.canonical_url,
  CAST(g.keeper_doc_id AS BIGINT) AS keeper_doc_id, g.n_urls,
  c.doc_id = g.keeper_doc_id AS is_keeper
FROM canon c JOIN groups g USING (canonical_url)
"""


def q_url_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registered-domain census (functions/url.host_stats): doc count,
    distinct hosts, query-string docs, max path depth. One shuffle with
    map-side partial agg; countDistinct is Spark's standard two-phase
    expand."""
    from api_ocr_spark.functions import url as U

    return U.host_stats(_url_fixture(_docs(spark, sf_dir)))


ORACLE_URL_HOST_STATS = f"""
WITH u AS ({_URL_FIXTURE_SQL}),
parsed AS ({_URL_PARSED_SQL})
SELECT registered_domain,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
  CAST(sum(CASE WHEN length(regexp_extract(url, '\\?([^#]*)', 1)) > 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_query,
  CAST(max(path_depth) AS BIGINT) AS max_path_depth
FROM parsed
GROUP BY registered_domain
"""


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt policy gate (functions/url.robots_filter): per-host
    Disallow prefixes parsed from synthesized robots.txt bodies (75% of
    hosts have one — md5-gated; ~12.5% carry a full 'Disallow: /' block;
    one letter rule and one conditional '/p' rule vary per host; an
    'Allow:' line, an empty 'Disallow:' and a Crawl-delay line exercise
    the parser's ignore paths). Broadcast rule table, map-side exists()
    prefix test — the corpus never shuffles."""
    from api_ocr_spark.functions import url as U

    urls = _url_fixture(_docs(spark, sf_dir))
    hosts = urls.select(U.url_host(F.col("url")).alias("host")).distinct()
    h = F.col("host")
    nl = F.lit("\n")
    content = F.concat(
        F.lit("User-agent: *"), nl,
        F.lit("Allow: /open"), nl,
        F.lit("Disallow: /"),
        F.substring(F.md5(F.concat(F.lit("dis:"), h)), 1, 1), nl,
        F.when(F.substring(F.md5(F.concat(F.lit("dis2:"), h)), 1, 1) < "8",
               F.concat(F.lit("Disallow: /p"), nl)).otherwise(F.lit("")),
        F.when(F.substring(F.md5(F.concat(F.lit("dis3:"), h)), 1, 1)
               .isin("0", "1"),
               F.concat(F.lit("Disallow: /"), nl)).otherwise(F.lit("")),
        F.lit("Disallow:"), nl, F.lit("Crawl-delay: 5"))
    robots = hosts.filter(
        ~F.substring(F.md5(F.concat(F.lit("hasrobots:"), h)), 1, 1)
        .isin("0", "1", "2", "3")
    ).select("host", content.alias("robots_txt"))
    return U.robots_filter(urls, robots)


ORACLE_ROBOTS_FILTER = f"""
WITH u AS ({_URL_FIXTURE_SQL}),
hosts AS (
  SELECT DISTINCT
    regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS host
  FROM u
),
rob AS (
  SELECT host,
    'User-agent: *' || chr(10) ||
    'Allow: /open' || chr(10) ||
    'Disallow: /' || substring(md5('dis:' || host), 1, 1) || chr(10) ||
    CASE WHEN substring(md5('dis2:' || host), 1, 1) < '8'
         THEN 'Disallow: /p' || chr(10) ELSE '' END ||
    CASE WHEN substring(md5('dis3:' || host), 1, 1) IN ('0', '1')
         THEN 'Disallow: /' || chr(10) ELSE '' END ||
    'Disallow:' || chr(10) || 'Crawl-delay: 5' AS robots_txt
  FROM hosts
  WHERE substring(md5('hasrobots:' || host), 1, 1)
        NOT IN ('0', '1', '2', '3')
),
rules AS (
  SELECT host,
    list_filter(
      list_transform(
        list_filter(string_split(robots_txt, chr(10)),
                    ln -> regexp_matches(ln, '^Disallow: ')),
        ln -> regexp_replace(ln, '^Disallow: ', '')),
      p -> length(p) > 0) AS prefixes
  FROM rob
),
pages AS (
  SELECT doc_id,
    regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS host,
    regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path
  FROM u
)
SELECT p.doc_id, p.host, p.path,
  CAST(coalesce(len(r.prefixes), 0) AS BIGINT) AS n_rules,
  coalesce(len(list_filter(r.prefixes, x -> starts_with(p.path, x))) > 0,
           FALSE) AS blocked
FROM pages p LEFT JOIN rules r USING (host)
"""


def q_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-scheduled crawl frontier (functions/url.crawl_schedule):
    per-host md5-ordered fetch ranks spaced by the host's robots
    Crawl-delay (synthesized 1-4 s, md5-gated ~75% host coverage; the rest
    default to 10 s — both branches planted). offset_s = (rank-1)*delay.
    Broadcast delay table; ONE host-keyed exchange (the per-host total
    order is the politeness semantic)."""
    from api_ocr_spark.functions import url as U

    urls = _url_fixture(_docs(spark, sf_dir))
    hosts = urls.select(U.url_host(F.col("url")).alias("host")).distinct()
    h = F.col("host")
    delay = (F.conv(F.substring(F.md5(F.concat(F.lit("cd:"), h)), 1, 1),
                    16, 10).cast("long") % 4 + 1)
    robots = hosts.filter(
        ~F.substring(F.md5(F.concat(F.lit("hascd:"), h)), 1, 1)
        .isin("0", "1", "2", "3")
    ).select("host", F.concat(
        F.lit("User-agent: *\n"),
        F.lit("Crawl-delay: "), delay.cast("string"),
        F.lit("\nDisallow: /private")).alias("robots_txt"))
    return U.crawl_schedule(urls, robots, default_delay_s=10)


ORACLE_CRAWL_SCHEDULE = """
WITH u AS ({_URL_FIXTURE_SQL}),
pages AS (
  SELECT doc_id, url,
    regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS host
  FROM u
),
hosts AS (SELECT DISTINCT host FROM pages),
delays AS (
  SELECT host,
    CAST(('0x' || substring(md5('cd:' || host), 1, 1)) AS BIGINT) % 4 + 1
      AS delay_s
  FROM hosts
  WHERE substring(md5('hascd:' || host), 1, 1) NOT IN ('0', '1', '2', '3')
),
ranked AS (
  SELECT doc_id, host,
    CAST(row_number() OVER (PARTITION BY host
         ORDER BY md5('sched:' || url), url, doc_id) AS BIGINT) AS fetch_rank
  FROM pages
)
SELECT r.doc_id, r.host, r.fetch_rank,
  CAST(coalesce(d.delay_s, 10) AS BIGINT) AS delay_s,
  CAST((r.fetch_rank - 1) * coalesce(d.delay_s, 10) AS BIGINT) AS offset_s
FROM ranked r LEFT JOIN delays d USING (host)
""".format(_URL_FIXTURE_SQL=_URL_FIXTURE_SQL)


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document sequence packing (operators/packing.pack_sequences):
    the GPT-style concatenate-and-slice manifest at cap=256 tokens, global
    order = doc_id asc via a two-level distributed exclusive prefix sum
    (block DIV 64 — small enough that sf0.01's 500 docs exercise the
    block-offset path with ~8 blocks). Docs with doc_id%17==0 have their
    text repeated x5 (~500 tokens > cap) so the multi-sequence spanning
    branch is planted in-corpus; the ragged tail sequence is emitted."""
    from api_ocr_spark.operators import packing
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 17 == 0,
               F.repeat(F.concat(F.col("text"), F.lit(" ")), 5))
        .otherwise(F.col("text")).alias("text"),
    )
    return packing.pack_sequences(docs, cap=256, block_size=64)


ORACLE_SEQUENCE_PACK = rf"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 17 = 0 THEN repeat(text || ' ', 5)
              ELSE text END AS text
  FROM documents),
lens AS (
  SELECT doc_id,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split({_NORM_SQL}, ' ')) END AS BIGINT) AS n
  FROM d),
pref AS (
  SELECT doc_id, n,
    CAST(coalesce(sum(n) OVER (ORDER BY doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS s
  FROM lens WHERE n > 0),
k AS (
  SELECT doc_id, n, s,
         unnest(range(s // 256, (s + n - 1) // 256 + 1)) AS seq_id
  FROM pref)
SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
  CAST(greatest(s, seq_id * 256) - s AS BIGINT) AS doc_tok_start,
  CAST(least(s + n, (seq_id + 1) * 256) - s AS BIGINT) AS doc_tok_end,
  CAST(greatest(s, seq_id * 256) - seq_id * 256 AS BIGINT)
    AS seq_tok_start,
  CAST(least(s + n, (seq_id + 1) * 256)
       - greatest(s, seq_id * 256) AS BIGINT) AS n_toks
FROM k
"""


def q_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified corpus sampling — the reproducible
    down-sampling op a training-data pipeline runs per source/language:
    hash-bucket each doc (md5_bucket, identical in both engines) and keep
    language-dependent rates (en 50%, es 20%, unknown 10%). rand(seed) would
    NOT be oracle-checkable (engine-private stream); the hash bucket is."""
    docs = _docs(spark, sf_dir)
    lang = T.lang_guess(F.col("text"))
    bucket = T.md5_bucket(F.col("doc_id").cast("string"), 100)
    rate = (
        F.when(lang == "en", F.lit(50))
        .when(lang == "es", F.lit(20))
        .otherwise(F.lit(10))
    )
    return (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            lang.alias("lang"),
            bucket.alias("bucket"),
            T.rolling_fingerprint(F.col("text")).alias("rolling_fp"),
        )
        .filter(F.col("bucket") < rate)
    )


ORACLE_CORPUS_SAMPLE = f"""
WITH d AS (
  SELECT doc_id, text, string_split({_NORM_SQL}, ' ') AS ws,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket,
         CASE WHEN len(list_filter(string_split({_NORM_SQL}, ' '), x -> x IN ('the','a','of')))
                   > len(list_filter(string_split({_NORM_SQL}, ' '), x -> x IN ('de','la','el'))) THEN 'en'
              WHEN len(list_filter(string_split({_NORM_SQL}, ' '), x -> x IN ('de','la','el')))
                   > len(list_filter(string_split({_NORM_SQL}, ' '), x -> x IN ('the','a','of'))) THEN 'es'
              WHEN len(list_filter(string_split({_NORM_SQL}, ' '), x -> x IN ('the','a','of'))) > 0 THEN 'en'
              ELSE 'unknown' END AS lang
  FROM documents
)
SELECT doc_id, lang, bucket,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(ws, x -> CAST(('0x' || substr(md5(x), 1, 7)) AS BIGINT))),
         (acc, hx) -> (acc * 31 + hx) % 2147483647) AS rolling_fp
FROM d
WHERE bucket < (CASE lang WHEN 'en' THEN 50 WHEN 'es' THEN 20 ELSE 10 END)
"""


_SOURCE_CASE_SQL = """
    CASE WHEN doc_id % 1000 = 7 THEN 'rare'
         WHEN doc_id % 10 < 6 THEN 'web'
         WHEN doc_id % 10 < 8 THEN 'news'
         WHEN doc_id % 10 = 8 THEN 'books'
         ELSE 'wiki' END"""


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature alpha=1/2 source mixture sampling
    (operators/mixture.mixture_sample): a 5-source census with planted
    skew — web 60% / news ~20% / books 10% / wiki 10% / rare ~0.1% by
    doc_id residue — resampled to a 2/5-of-corpus training mix with
    isqrt weights + integer largest-remainder quotas; 'rare' is small
    enough that its quota truncates at the source size, planting the
    least(quota, n) branch in-corpus. Census collect is sources-sized;
    quota table broadcast; rank<=quota plans as partial+final
    WindowGroupLimit."""
    from api_ocr_spark.operators import mixture

    d = F.col("doc_id").cast("long")
    src = _docs(spark, sf_dir).select(
        d.alias("doc_id"),
        F.when(d % 1000 == 7, "rare")
        .when(d % 10 < 6, "web")
        .when(d % 10 < 8, "news")
        .when(d % 10 == 8, "books")
        .otherwise("wiki").alias("source"),
    )
    return mixture.mixture_sample(src, frac_num=2, frac_den=5)


ORACLE_MIXTURE_SAMPLE = f"""
WITH src AS (
  SELECT doc_id, {_SOURCE_CASE_SQL} AS source
  FROM documents
),
census AS (SELECT source, CAST(count(*) AS BIGINT) AS n
           FROM src GROUP BY source),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM census),
tgt AS (SELECT CAST(total * 2 // 5 AS BIGINT) AS target FROM tot),
wts AS (SELECT source, n, CAST(floor(sqrt(n)) AS BIGINT) AS weight
        FROM census),
ws AS (SELECT CAST(SUM(weight) AS BIGINT) AS wsum FROM wts),
parts AS (
  SELECT source, n, weight,
    CAST(target * weight // wsum AS BIGINT) AS base,
    CAST(target * weight % wsum AS BIGINT) AS rem
  FROM wts, tgt, ws
),
quot AS (
  SELECT source, n, weight,
    least(base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
                      <= (SELECT target FROM tgt) - (SELECT SUM(base)
                                                     FROM parts)
                 THEN 1 ELSE 0 END, n) AS quota
  FROM parts
),
ranked AS (
  SELECT doc_id, source,
    CAST(row_number() OVER (PARTITION BY source
         ORDER BY md5('mix:' || CAST(doc_id AS VARCHAR)), doc_id)
         AS BIGINT) AS sel_rank
  FROM src
)
SELECT r.doc_id, r.source, q.n AS n_source, q.weight,
  CAST(q.quota AS BIGINT) AS quota, r.sel_rank
FROM ranked r JOIN quot q USING (source)
WHERE r.sel_rank <= q.quota
"""


def q_setsim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs set-similarity join with prefix filtering
    (operators/dedup.setsim_join — Bayardo et al. WWW 2007): Jaccard >=
    3/5 over distinct 3-gram shingle sets, candidates pruned to prefix
    postings under the (df asc, shingle asc) rarity order, verified by
    cross-multiplied integer Jaccard. Planted pairs: every 50th doc
    copied at +40M with one appended token (the simhash64 plant at a
    non-colliding offset)."""
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")
    planted = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 40_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zyxq")).alias("text"))
    return dedup.setsim_join(docs.unionByName(planted))


ORACLE_SETSIM = rf"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 40000000 AS doc_id, text || ' zyxq' AS text
  FROM documents WHERE doc_id % 50 = 0
),
w AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws FROM base),
g AS (
  SELECT doc_id,
    unnest(list_distinct(list_transform(
      range(1, greatest(len(ws) - 2, 1) + 1),
      i -> CAST(('0x' || substr(md5(array_to_string(ws[i:i+2], ' ')), 1, 8))
           AS BIGINT)))) AS term
  FROM w
),
dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY term),
pos AS (
  SELECT doc_id, term,
    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY df, term)
         AS BIGINT) AS pos,
    CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n
  FROM g JOIN dfc USING (term)
),
pre AS (SELECT * FROM pos WHERE pos <= n - ((3 * n + 4) // 5) + 1),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM pre x JOIN pre y USING (term) WHERE x.doc_id < y.doc_id
),
sets AS (SELECT doc_id, list_sort(list(term)) AS ts,
                CAST(count(*) AS BIGINT) AS n
         FROM g GROUP BY doc_id),
v AS (
  SELECT c.doc_a, c.doc_b,
    CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS n_inter,
    a.n + b.n AS s
  FROM cand c JOIN sets a ON a.doc_id = c.doc_a
              JOIN sets b ON b.doc_id = c.doc_b
)
SELECT doc_a, doc_b, n_inter, CAST(s - n_inter AS BIGINT) AS n_union
FROM v WHERE 5 * n_inter >= 3 * (s - n_inter)
"""


def q_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment join (operators/dedup.containment_join,
    Broder's containment coefficient): ordered pairs with
    |A∩B| >= 4/5 * |A| over the shared 3-gram shingle base — the
    quotation/subsumption detector complementing setsim_join's Jaccard.
    Planted: every 50th doc's first 12 words copied at +80M (a quote —
    containment 1.0 toward its source, Jaccard ~0.03: exactly the pair
    family Jaccard misses)."""
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")
    quote = F.concat_ws(
        " ", F.slice(F.split(T.normalize_ws(F.lower(F.col("text"))), " "),
                     1, 12))
    planted = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 80_000_000).alias("doc_id"),
        quote.alias("text"))
    return dedup.containment_join(docs.unionByName(planted))


ORACLE_CONTAINMENT = rf"""
WITH w0 AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws FROM documents
),
base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 80000000 AS doc_id,
         array_to_string(ws[1:12], ' ') AS text
  FROM w0 WHERE doc_id % 50 = 0
),
w AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws FROM base),
g AS (
  SELECT doc_id,
    unnest(list_distinct(list_transform(
      range(1, greatest(len(ws) - 2, 1) + 1),
      i -> CAST(('0x' || substr(md5(array_to_string(ws[i:i+2], ' ')), 1, 8))
           AS BIGINT)))) AS term
  FROM w
),
dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY term),
pos AS (
  SELECT doc_id, term,
    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY df, term)
         AS BIGINT) AS pos,
    CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n
  FROM g JOIN dfc USING (term)
),
pre AS (SELECT * FROM pos WHERE pos <= n - ((4 * n + 4) // 5) + 1),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM pre x JOIN g y USING (term) WHERE x.doc_id != y.doc_id
),
sets AS (SELECT doc_id, list_sort(list(term)) AS ts,
                CAST(count(*) AS BIGINT) AS n
         FROM g GROUP BY doc_id),
v AS (
  SELECT c.doc_a, c.doc_b,
    CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS n_inter,
    a.n AS n_a
  FROM cand c JOIN sets a ON a.doc_id = c.doc_a
              JOIN sets b ON b.doc_id = c.doc_b
)
SELECT doc_a, doc_b, n_inter, n_a
FROM v WHERE 5 * n_inter >= 4 * n_a
"""


def q_stitch_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pagination stitching (operators/dedup.stitch_pages): ordered pairs
    whose k=6-token seam matches (A's tail == B's head) — the split-
    article reconstruction evidence. Planted: every 40th doc (with >= 6
    tokens) gets a 'page 2' at +160M starting with its source's last six
    words."""
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")
    ws = F.split(T.normalize_ws(F.lower(F.col("text"))), " ")
    planted = (
        docs.where((F.col("doc_id") % 40 == 0) & (F.size(ws) >= 6))
        .select(
            (F.col("doc_id") + 160_000_000).alias("doc_id"),
            F.concat(
                F.concat_ws(" ", F.slice(ws, -6, 6)),
                F.lit(" continuacion de la nota numero "),
                F.col("doc_id").cast("string"),
            ).alias("text"),
        )
    )
    return dedup.stitch_pages(docs.unionByName(planted))


ORACLE_STITCH_PAGES = rf"""
WITH w0 AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws FROM documents
),
base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 160000000 AS doc_id,
         array_to_string(ws[-6:], ' ')
         || ' continuacion de la nota numero ' || CAST(doc_id AS VARCHAR)
           AS text
  FROM w0 WHERE doc_id % 40 = 0 AND len(ws) >= 6
),
t AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws FROM base),
valid AS (SELECT * FROM t WHERE len(ws) >= 6),
tl AS (
  SELECT doc_id AS doc_a, array_to_string(ws[-6:], ' ') AS seam FROM valid
),
hd AS (
  SELECT doc_id AS doc_b, array_to_string(ws[1:6], ' ') AS seam FROM valid
)
SELECT tl.doc_a, hd.doc_b, tl.seam
FROM tl JOIN hd USING (seam)
WHERE tl.doc_a != hd.doc_b
"""


def q_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gram-level novelty vs a history Bloom (operators/dedup
    .novelty_score): history = doc_id%3==0 slice, new batch = the rest;
    per-doc novel-gram fraction in exact integers. The oracle derives
    the identical md5 bit positions, so equality holds at any FPR."""
    docs = _docs(spark, sf_dir)
    hist = docs.where(F.col("doc_id") % 3 == 0)
    new = docs.where(F.col("doc_id") % 3 != 0)
    return dedup.novelty_score(new, hist)


ORACLE_NOVELTY = rf"""
WITH d AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws FROM documents
),
g AS (
  SELECT doc_id,
    unnest(list_distinct(list_transform(
      range(1, greatest(len(ws) - 2, 1) + 1),
      i -> CAST(('0x' || substr(md5(array_to_string(ws[i:i+2], ' ')), 1, 8))
           AS BIGINT)))) AS shingle
  FROM d
),
histg AS (SELECT DISTINCT shingle FROM g WHERE doc_id % 3 = 0),
ks AS (SELECT unnest(range(3)) AS i),
bits AS (
  SELECT DISTINCT
    CAST(('0x' || substr(md5(CAST(shingle AS VARCHAR) || '_'
                             || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT)
      % 262144 AS pos
  FROM histg CROSS JOIN ks
),
probe AS (
  SELECT doc_id, shingle,
    CAST(('0x' || substr(md5(CAST(shingle AS VARCHAR) || '_'
                             || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT)
      % 262144 AS pos
  FROM g CROSS JOIN ks WHERE doc_id % 3 != 0
),
per_gram AS (
  SELECT p.doc_id, p.shingle,
    min(CASE WHEN b.pos IS NULL THEN 0 ELSE 1 END) AS known
  FROM probe p LEFT JOIN bits b ON b.pos = p.pos
  GROUP BY p.doc_id, p.shingle
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(count(*) AS BIGINT) AS n_grams,
  CAST(sum(known) AS BIGINT) AS n_known,
  CAST(((count(*) - sum(known)) * 1000) // count(*) AS BIGINT)
    AS novelty_milli
FROM per_gram GROUP BY doc_id
"""


def q_stitch_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chain assembly over pagination seams (operators/dedup
    .stitch_chains): three-page planted articles (source -> +160M page 2
    -> +320M page 3) reconstruct to (doc_id, chain_id = head page,
    chain_pos 0..2); two-sided min-matching disambiguation, heads-only
    walk (cycles emit nothing), hop cap 64 — all mirrored in the
    recursive-CTE oracle."""
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")
    ws = F.split(T.normalize_ws(F.lower(F.col("text"))), " ")
    src = docs.where((F.col("doc_id") % 40 == 0) & (F.size(ws) >= 6))
    p2 = src.select(
        (F.col("doc_id") + 160_000_000).alias("doc_id"),
        F.concat(
            F.concat_ws(" ", F.slice(ws, -6, 6)),
            F.lit(" continuacion de la nota numero "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    p3 = src.select(
        (F.col("doc_id") + 320_000_000).alias("doc_id"),
        F.concat(
            F.lit("continuacion de la nota numero "),
            F.col("doc_id").cast("string"),
            F.lit(" segunda parte adicional del texto"),
        ).alias("text"),
    )
    return dedup.stitch_chains(
        docs.unionByName(p2).unionByName(p3))


ORACLE_STITCH_CHAINS = rf"""
WITH RECURSIVE w0 AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws FROM documents
),
base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 160000000 AS doc_id,
         array_to_string(ws[-6:], ' ')
         || ' continuacion de la nota numero ' || CAST(doc_id AS VARCHAR)
           AS text
  FROM w0 WHERE doc_id % 40 = 0 AND len(ws) >= 6
  UNION ALL
  SELECT doc_id + 320000000 AS doc_id,
         'continuacion de la nota numero ' || CAST(doc_id AS VARCHAR)
         || ' segunda parte adicional del texto' AS text
  FROM w0 WHERE doc_id % 40 = 0 AND len(ws) >= 6
),
t AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws FROM base),
valid AS (SELECT * FROM t WHERE len(ws) >= 6),
tl AS (
  SELECT doc_id AS doc_a, array_to_string(ws[-6:], ' ') AS seam FROM valid
),
hd AS (
  SELECT doc_id AS doc_b, array_to_string(ws[1:6], ' ') AS seam FROM valid
),
prs AS (
  SELECT tl.doc_a, hd.doc_b FROM tl JOIN hd USING (seam)
  WHERE tl.doc_a != hd.doc_b
),
succ0 AS (SELECT doc_a AS a, min(doc_b) AS b FROM prs GROUP BY doc_a),
predm AS (SELECT b, min(a) AS ma FROM succ0 GROUP BY b),
succ AS (
  SELECT s.a, s.b FROM succ0 s JOIN predm p ON p.b = s.b
  WHERE s.a = p.ma
),
heads AS (SELECT a FROM succ WHERE a NOT IN (SELECT b FROM succ)),
walk(doc_id, chain_id, chain_pos) AS (
  SELECT a, a, CAST(0 AS BIGINT) FROM heads
  UNION ALL
  SELECT s.b, w.chain_id, w.chain_pos + 1
  FROM walk w JOIN succ s ON s.a = w.doc_id
  WHERE w.chain_pos < 64
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(chain_id AS BIGINT) AS chain_id,
       CAST(chain_pos AS BIGINT) AS chain_pos
FROM walk
"""


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (operators/dedup.winnow_fingerprints —
    Schleimer et al. 2003, MOSS): 4-gram 40-bit hashes, window w=4,
    min-hash-rightmost-tie selection encoded as ONE integer windowed MIN
    (key = h*2^20 + (2^20-1-pos)); selection + distinct share a single
    doc-keyed exchange."""
    from api_ocr_spark.operators import dedup

    return dedup.winnow_fingerprints(_docs(spark, sf_dir), k=4, w=4)


ORACLE_WINNOW = r"""
WITH toks AS (
  SELECT doc_id,
    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')
      AS t
  FROM documents
),
g AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
    CAST(('0x' || substring(md5(array_to_string(t[i:i + 3], ' ')), 1, 10))
         AS BIGINT) AS h
  FROM toks, unnest(range(1, CASE WHEN len(t) >= 4
                                  THEN len(t) - 4 + 2 ELSE 1 END)) AS tt(i)
),
keyed AS (
  SELECT doc_id, pos, h * 1048576 + (1048575 - pos) AS key,
    COUNT(*) OVER (PARTITION BY doc_id) AS n_grams
  FROM g
),
wmin AS (
  SELECT doc_id, pos, n_grams,
    MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wkey
  FROM keyed
),
sel AS (
  SELECT DISTINCT doc_id, wkey FROM wmin
  WHERE pos >= least(3, n_grams - 1)
)
SELECT doc_id,
  CAST(1048575 - (wkey % 1048576) AS BIGINT) AS pos,
  CAST(wkey // 1048576 AS BIGINT) AS gram_hash
FROM sel
"""


def q_grouped_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe grouped train/val/test holdout
    (operators/mixture.grouped_split): split is a pure function of the
    registered domain (md5 first hex digit, 12/2/2 of 16), so a domain
    can never straddle splits; ZERO shuffles (plan-asserted) — split
    assignment at 10^12 docs needs no coordination at all."""
    from api_ocr_spark.functions import url as U
    from api_ocr_spark.operators import mixture

    urls = _url_fixture(_docs(spark, sf_dir)).select(
        "doc_id",
        U.registered_domain(F.col("url")).alias("registered_domain"))
    return mixture.grouped_split(urls)


ORACLE_GROUPED_SPLIT = rf"""
WITH u AS ({_URL_FIXTURE_SQL}),
g AS (
  SELECT doc_id,
    regexp_extract(regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1),
                   '([^.]+\.[^.]+)$', 1) AS grp
  FROM u
),
hx AS (
  SELECT doc_id, grp,
    CAST(('0x' || substring(md5('split:' || grp), 1, 1)) AS BIGINT) AS v
  FROM g
)
SELECT doc_id, grp AS "group",
  CASE WHEN v < 12 THEN 'train' WHEN v < 14 THEN 'val'
       ELSE 'test' END AS split
FROM hx
"""


def q_unimax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax language-balanced sampling (operators/mixture.unimax_sample,
    Chung et al. 2023): per-language epoch-capped uniform budget spread —
    greedy over languages ascending by size, quota = min(cap*n, R DIV m),
    exact integer arithmetic. The oracle replays the langid rule, the
    greedy as a recursive CTE, and the md5-ranked remainder epoch."""
    from api_ocr_spark.operators import mixture

    return mixture.unimax_sample(_docs(spark, sf_dir))


ORACLE_UNIMAX = rf"""
WITH RECURSIVE d AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws FROM documents
), l AS (
  SELECT doc_id,
    CASE WHEN len(list_filter(ws, x -> x IN ('the','a','of')))
              > len(list_filter(ws, x -> x IN ('de','la','el'))) THEN 'en'
         WHEN len(list_filter(ws, x -> x IN ('de','la','el')))
              > len(list_filter(ws, x -> x IN ('the','a','of'))) THEN 'es'
         WHEN len(list_filter(ws, x -> x IN ('the','a','of'))) > 0 THEN 'en'
         ELSE 'unknown' END AS lang
  FROM d
), census AS (
  SELECT lang, count(*) AS n FROM l GROUP BY lang
), ordered AS (
  SELECT lang, n,
         row_number() OVER (ORDER BY n ASC, lang ASC) AS i
  FROM census
), tot AS (SELECT sum(n) AS t, count(*) AS k FROM census),
greedy(i, q, r, m) AS (
  SELECT 0, CAST(0 AS BIGINT),
         (SELECT (t * 1) // 2 FROM tot), (SELECT k FROM tot)
  UNION ALL
  SELECT o.i,
         least(2 * o.n, g.r // g.m),
         g.r - least(2 * o.n, g.r // g.m),
         g.m - 1
  FROM greedy g JOIN ordered o ON o.i = g.i + 1
), quotas AS (
  SELECT o.lang, o.n, g.q FROM greedy g JOIN ordered o USING (i)
  WHERE g.i >= 1
), ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5('unimax:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM l
)
SELECT r.doc_id, r.lang,
       CAST(qt.q // qt.n
            + CASE WHEN r.rk <= qt.q % qt.n THEN 1 ELSE 0 END
            AS BIGINT) AS n_copies
FROM ranked r JOIN quotas qt USING (lang)
"""


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (operators/mixture.dsir_select, Xie et
    al. 2023): top-100 most target-like raw docs by hashed-unigram
    importance weight — integer sum-of-ratios surrogate with add-one
    smoothing and clipped enrichment, md5-derived feature hashing so the
    oracle replays the buckets exactly. Target slice = doc_id%17==0."""
    from api_ocr_spark.operators import mixture

    return mixture.dsir_select(_docs(spark, sf_dir))


ORACLE_DSIR_SELECT = rf"""
WITH raw AS (
  SELECT doc_id,
    unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
           ' ')) AS term
  FROM documents
),
toks AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) % 10000 AS bucket,
    (doc_id % 17 = 0) AS is_tgt
  FROM raw
),
census AS (
  SELECT bucket,
    sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS c_tgt,
    sum(CASE WHEN is_tgt THEN 0 ELSE 1 END) AS c_raw
  FROM toks GROUP BY bucket
),
ratio AS (
  SELECT bucket,
    least((1000000 * (c_tgt + 1)) // (c_raw + 1),
          CAST(1000000000 AS BIGINT)) AS ratio
  FROM census
),
scored AS (
  SELECT doc_id, count(*) AS n_tokens, sum(ratio) AS dsir_sum
  FROM toks JOIN ratio USING (bucket)
  WHERE NOT is_tgt
  GROUP BY doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(dsir_sum AS BIGINT) AS dsir_sum,
  CAST(dsir_sum // n_tokens AS BIGINT) AS dsir_milli
FROM scored
ORDER BY dsir_milli DESC, doc_id ASC
LIMIT 100
"""


def q_tier_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-tier extraction + per-tier quota sampling
    (operators/tiering.tier_extract): histogram-quantile tiers over the
    quality score (all-integer rule: high iff 5*c_before < N, mid iff
    2*c_before < N — ties share a tier, no global sort), then the 100/50/25
    lowest md5-ranked docs per tier. Tier table lives on the distinct-score
    frame (broadcast); quota filter is WindowGroupLimit-shaped."""
    from api_ocr_spark.operators import tiering

    return tiering.tier_extract(_docs(spark, sf_dir))


ORACLE_TIER_EXTRACT = f"""
WITH d AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws
           FROM documents),
scored AS (
  SELECT doc_id,
    round(0.4 * least(len(ws) / 100.0, 1.0)
        + 0.4 * (len(list_distinct(ws)) / len(ws))
        + 0.2 * (1.0 - abs(len(list_filter(ws,
              x -> x IN ('the','a','de','la','el'))) / len(ws) - 0.1)), 6)
      AS score
  FROM d
),
counts AS (SELECT score, count(*) AS n FROM scored GROUP BY score),
cum AS (
  SELECT score, coalesce(sum(n) OVER (
      ORDER BY score DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c_before
  FROM counts
),
total AS (SELECT count(*) AS n_total FROM scored),
tiers AS (
  SELECT score,
    CASE WHEN 5 * c_before < (SELECT n_total FROM total) THEN 'high'
         WHEN 2 * c_before < (SELECT n_total FROM total) THEN 'mid'
         ELSE 'low' END AS tier
  FROM cum
),
ranked AS (
  SELECT s.doc_id, s.score, t.tier,
    row_number() OVER (
      PARTITION BY t.tier
      ORDER BY md5('tier:' || CAST(s.doc_id AS VARCHAR)), s.doc_id)
      AS tier_rank
  FROM scored s JOIN tiers t USING (score)
)
SELECT doc_id, score, tier, CAST(tier_rank AS BIGINT) AS tier_rank
FROM ranked
WHERE tier_rank <= CASE tier WHEN 'high' THEN 100 WHEN 'mid' THEN 50
                   ELSE 25 END
"""


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.brute_force_topk(
        load_table(spark, sf_dir, "embeddings"), k=5, n_queries=8)


ORACLE_ANN_TOPK = """
WITH q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM embeddings
), n AS (
  SELECT vec_id, qv, list_dot_product(qv, qv) AS norm2 FROM q
)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         round(list_dot_product(a.qv, b.qv) / sqrt(a.norm2 * b.norm2), 6) AS cos,
         CAST(row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY round(list_dot_product(a.qv, b.qv) / sqrt(a.norm2 * b.norm2), 6) DESC,
                      b.vec_id) AS INTEGER) AS rank
  FROM n a JOIN n b ON a.vec_id < 8 AND a.vec_id <> b.vec_id
) WHERE rank <= 5
"""


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine near-dup over the PLANTED-augmented corpus: the synthetic
    embeddings fixture has NO pair with cosine >= 0.8 (measured max 0.51 at
    sf0.01 / 0.60 at sf0.1), so the bare query was vacuously green (0 == 0).
    augment_with_planted unions in deterministic negated-coordinate copies
    (cos ≈ 0.95-0.99) — expressed identically in the oracle SQL — so the
    equality check now discriminates."""
    base = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    aug = similarity.augment_with_planted(base)
    return similarity.neardup_pairs(aug, threshold=0.8)


# the augmentation CTE — the SQL twin of similarity.augment_with_planted
# (every=20, id_offset=500000; negation is float-exact, so both engines
# quantize identical values)
_AUG_SQL = """
aug AS (
  SELECT vec_id, embedding FROM base
  UNION ALL
  SELECT vec_id + 500000 AS vec_id,
         list_concat([-embedding[1]], embedding[2:]) AS embedding
  FROM base WHERE vec_id % 20 = 0
)"""

ORACLE_EMBEDDING_NEARDUP = f"""
WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300),
{_AUG_SQL},
q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM aug
), n AS (
  SELECT vec_id, qv, list_dot_product(qv, qv) AS norm2 FROM q
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.qv, b.qv) / sqrt(a.norm2 * b.norm2), 6) AS cos
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.qv, b.qv) / sqrt(a.norm2 * b.norm2), 6) >= 0.8
"""


def q_lsh_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed near-dup over the planted-augmented corpus — now
    FULLY oracle-checked: the hyperplanes are md5-derived
    (similarity.lsh_hyperplanes), so the DuckDB oracle re-derives the same
    planes in SQL and replicates the entire pipeline (bucket → meet →
    exact-cosine verify). Equality holds whatever the LSH recall is, because
    the oracle computes the same buckets — recall itself is measured in
    tests/test_dedup_similarity.py on planted pairs."""
    aug = similarity.augment_with_planted(load_table(spark, sf_dir, "embeddings"))
    return similarity.lsh_neardup_pairs(aug, threshold=0.8)


# full algorithmic twin of similarity.lsh_neardup_pairs: md5-derived planes,
# sign-bucket, within-bucket meet, exact integer-dot cosine verify
ORACLE_LSH_EMBEDDING_NEARDUP = f"""
WITH base AS (SELECT vec_id, embedding FROM embeddings),
{_AUG_SQL},
q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM aug
), n AS (
  SELECT vec_id, qv, list_dot_product(qv, qv) AS norm2 FROM q
), planes AS (
  SELECT j, list_transform(range(0, 64), i ->
           CASE WHEN substr(md5('p{similarity.LSH_SEED}_' || CAST(j AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 1)
                     IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS plane
  FROM (SELECT unnest(range({similarity.LSH_BITS})) AS j)
), bucketed AS (
  SELECT n.vec_id,
         CAST(SUM(CASE WHEN list_dot_product(n.qv, p.plane) > 0
                       THEN CAST(power(2, p.j) AS BIGINT) ELSE 0 END) AS INTEGER) AS bucket
  FROM n CROSS JOIN planes p
  GROUP BY n.vec_id
), nb AS (
  SELECT n.vec_id, n.qv, n.norm2, b.bucket FROM n JOIN bucketed b ON n.vec_id = b.vec_id
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.qv, b.qv) / sqrt(a.norm2 * b.norm2), 6) AS cos
FROM nb a JOIN nb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round(list_dot_product(a.qv, b.qv) / sqrt(a.norm2 * b.norm2), 6) >= 0.8
"""


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (coarse-quantizer probe — the 100 TB ANN path).
    Wired to the TABLE-codebook variant (broadcast codebook join): the
    literal-expression form grows the plan O(k·d) and is kept only as the
    small-k reference twin (equality asserted in tests). FULLY oracle-checked
    since the Lloyd seeding became md5-derived (similarity._init_rows): the
    DuckDB oracle unrolls all three Lloyd rounds + the final assignment in
    SQL (ORACLE_IVF_ANN_TOPK) — every arithmetic step is integer-exact or a
    correctly-rounded IEEE op, so both engines converge to the same codebook
    and the same probed top-k. Recall vs exact brute force is asserted in
    tests and logged by bench.py."""
    return similarity.ivf_topk_table(
        load_table(spark, sf_dir, "embeddings"), k=5, n_queries=8,
        n_centroids=16, n_probe=4)


def _ivf_lloyd_round_sql(r: int) -> str:
    """One unrolled Lloyd round (assign to argmax-cosine centroid → per-dim
    HALF_EVEN-rounded mean → carry forward empty centroids), CTE-chained.
    Exactness argument: qv/cvec are int64, so dot products and norms are
    exact; sums of integers stay exact in double below 2^53, so avg() is
    identical in both engines; the only rounding is the explicit HALF_EVEN
    (mirroring Spark's bround) with the tie handled by the floor-parity
    CASE."""
    p = f"cents{r - 1}"
    he = ("CASE WHEN m - floor(m) = 0.5 "
          "THEN CAST(floor(m) AS BIGINT) + (CASE WHEN CAST(floor(m) AS BIGINT) % 2 = 0 THEN 0 ELSE 1 END) "
          "ELSE CAST(round(m) AS BIGINT) END")
    return f"""
, scored{r} AS (
  SELECT n.vec_id, c.centroid_id,
         list_dot_product(n.qv, c.cvec) / sqrt(n.norm2 * c.cnorm2) AS ccos
  FROM n CROSS JOIN {p} c
), assign{r} AS (
  SELECT vec_id, centroid_id FROM (
    SELECT vec_id, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id ASC) AS rn
    FROM scored{r}) WHERE rn = 1
), means{r} AS (
  SELECT a.centroid_id, d.i, avg(n.qv[d.i]) AS m
  FROM assign{r} a JOIN n USING (vec_id)
  CROSS JOIN (SELECT unnest(range(1, 65)) AS i) d
  GROUP BY a.centroid_id, d.i
), newc{r} AS (
  SELECT centroid_id, list({he} ORDER BY i) AS cvec
  FROM means{r} GROUP BY centroid_id
), cents{r} AS (
  SELECT p.centroid_id, coalesce(nw.cvec, p.cvec) AS cvec,
         CASE WHEN list_dot_product(coalesce(nw.cvec, p.cvec), coalesce(nw.cvec, p.cvec)) = 0
              THEN 1 ELSE list_dot_product(coalesce(nw.cvec, p.cvec), coalesce(nw.cvec, p.cvec)) END AS cnorm2
  FROM {p} p LEFT JOIN newc{r} nw USING (centroid_id)
)"""


# full algorithmic twin of similarity.ivf_topk_table (k=5, n_queries=8,
# n_centroids=16, n_probe=4, iters=3): md5-derived seeding, three unrolled
# Lloyd rounds, final assignment, probe-4 candidate generation, exact-cosine
# verify, windowed top-5
ORACLE_IVF_ANN_TOPK = ("""
WITH q0 AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM embeddings
), n AS (
  SELECT vec_id, qv, list_dot_product(qv, qv) AS norm2 FROM q0
), init AS (
  SELECT qv, row_number() OVER (ORDER BY md5('ivf11_' || CAST(vec_id AS VARCHAR))) - 1 AS centroid_id
  FROM n ORDER BY md5('ivf11_' || CAST(vec_id AS VARCHAR)) LIMIT 16
), cents0 AS (
  SELECT centroid_id, qv AS cvec,
         CASE WHEN list_dot_product(qv, qv) = 0 THEN 1 ELSE list_dot_product(qv, qv) END AS cnorm2
  FROM init
)"""
    + "".join(_ivf_lloyd_round_sql(r) for r in (1, 2, 3))
    + """
, scored4 AS (
  SELECT n.vec_id, c.centroid_id,
         list_dot_product(n.qv, c.cvec) / sqrt(n.norm2 * c.cnorm2) AS ccos
  FROM n CROSS JOIN cents3 c
), assign4 AS (
  SELECT vec_id, centroid_id FROM (
    SELECT vec_id, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id ASC) AS rn
    FROM scored4) WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, centroid_id FROM (
    SELECT vec_id, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id ASC) AS rn
    FROM scored4 WHERE vec_id < 8) WHERE rn <= 4
), cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assign4 a
    ON a.centroid_id = p.centroid_id AND a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT c.query_id, c.neighbor_id,
         round(list_dot_product(nq.qv, nn.qv) / sqrt(nq.norm2 * nn.norm2), 6) AS cos,
         CAST(row_number() OVER (
             PARTITION BY c.query_id
             ORDER BY round(list_dot_product(nq.qv, nn.qv) / sqrt(nq.norm2 * nn.norm2), 6) DESC,
                      c.neighbor_id) AS INTEGER) AS rank
  FROM cand c
  JOIN n nq ON nq.vec_id = c.query_id
  JOIN n nn ON nn.vec_id = c.neighbor_id
) WHERE rank <= 5
""")


def q_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter incremental dedup (dedup.bloom_history_dedup): history =
    even doc_ids, probe batch = the whole corpus, m=4096 bits / k=3
    md5-derived positions. Every even doc is a guaranteed filter hit (no
    false negatives); odd docs hit only via position collisions or genuine
    text equality — the exact `in_history` column ships alongside so the
    FPR is auditable. The oracle re-derives the identical positions in SQL,
    so equality holds at any collision rate."""
    docs = _docs(spark, sf_dir)
    history = docs.filter(F.col("doc_id") % 2 == 0)
    return dedup.bloom_history_dedup(docs, history, m_bits=4096, k=3)


# position-exact twin of dedup.bloom_history_dedup (m=4096, k=3, history =
# even doc_ids): fingerprint, set-bit relation, all-k-present membership
# test, and the exact semi-join audit column
ORACLE_BLOOM_DEDUP = f"""
WITH fp AS (
  SELECT doc_id, md5({_NORM_SQL}) AS fingerprint FROM documents
), hist AS (
  SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 2 = 0
), ks AS (SELECT unnest(range(3)) AS i),
bits AS (
  SELECT DISTINCT CAST(('0x' || substr(md5(fingerprint || '_' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT) % 4096 AS pos
  FROM hist CROSS JOIN ks
), probe AS (
  SELECT f.doc_id, f.fingerprint,
         CAST(('0x' || substr(md5(f.fingerprint || '_' || CAST(k.i AS VARCHAR)), 1, 15)) AS BIGINT) % 4096 AS pos
  FROM fp f CROSS JOIN ks k
), tested AS (
  SELECT p.doc_id, p.fingerprint,
         CAST(min(CASE WHEN b.pos IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS maybe_in_history
  FROM probe p LEFT JOIN bits b ON b.pos = p.pos
  GROUP BY p.doc_id, p.fingerprint
)
SELECT t.doc_id, t.fingerprint, t.maybe_in_history,
       CAST(CASE WHEN h.fingerprint IS NULL THEN 0 ELSE 1 END AS BIGINT) AS in_history
FROM tested t LEFT JOIN hist h ON h.fingerprint = t.fingerprint
"""


def _warc_parsed(docs: DataFrame) -> DataFrame:
    """Shared WARC fixture: deterministic records from documents (record_id/
    URI/date rules, text-plain branch for doc_id%10==7, html fixture page
    otherwise) packed into 16 archives and parsed back — the frame both
    warc_ingest and warc_extract start from."""
    from api_ocr_spark.functions import html as H
    from api_ocr_spark.sources import warc_source as W

    d = F.col("doc_id").cast("long")
    recs = docs.select(
        d.alias("doc_id"),
        F.concat(F.lit("urn:md5:"),
                 F.md5(F.encode(F.concat(F.lit("warc_"), d.cast("string")),
                                "UTF-8"))).alias("record_id"),
        _url_expr().alias("target_uri"),
        F.concat(F.lit("2026-01-"),
                 F.lpad((d % 28 + 1).cast("string"), 2, "0"),
                 F.lit("T"), F.lpad((d % 24).cast("string"), 2, "0"),
                 F.lit(":00:00Z")).alias("warc_date"),
        F.when(d % 10 == 7, F.lit("text/plain; charset=utf-8"))
         .otherwise(F.lit("text/html; charset=utf-8")).alias("content_type"),
        F.when(d % 10 == 7, F.col("text"))
         .otherwise(H.synthesize_html(F.col("text"), d)).alias("payload"),
    )
    return W.warc_records(W.build_warc_archives(recs, n_files=16))


def q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC crawl-archive ingest (sources/warc_source.py): synthesize
    deterministic WARC/1.0 archives from the documents table (16 files,
    records in doc_id order; WARC-Target-URI from the shared URL rule,
    WARC-Date from doc_id arithmetic, payload = the shared HTML fixture page
    — except doc_id%10==7 records, which carry text/plain payloads so the
    content-type branch discriminates), then parse them back with the
    offset-driven record parser and report per-record framing + payload
    digests. The oracle recomputes every field straight from `documents` —
    so a framing bug anywhere in writer OR parser (lengths, separators,
    header echo, utf-8 round-trip) breaks the md5/length match. The parse
    side is a pure per-file map (no shuffle); the build groupBy is fixture
    tooling only."""
    parsed = _warc_parsed(_docs(spark, sf_dir))
    return parsed.select(
        "file_id", "rec_index", "record_id", "target_uri", "warc_date",
        "content_type", "http_status",
        F.length("payload").cast("long").alias("payload_len"),
        F.md5(F.encode(F.col("payload"), "UTF-8")).alias("payload_md5"),
    )


# field-by-field twin computed straight from documents: file bucketing +
# in-file order, the shared URL rule, date arithmetic, the content-type
# branch, and the payload length/md5 (html fixture page or raw text) — the
# WARC writer+parser round trip must reproduce all of it byte-exactly
ORACLE_WARC_INGEST = ("""
WITH f AS (
  SELECT doc_id, text,
    """ + _HTML_PAGE_SQL + """ AS page
  FROM documents
), recs AS (
  SELECT doc_id,
    CASE WHEN doc_id % 10 = 7 THEN text ELSE page END AS payload,
    CASE WHEN doc_id % 10 = 7 THEN 'text/plain; charset=utf-8'
         ELSE 'text/html; charset=utf-8' END AS content_type,
    'https://' ||
    CASE doc_id % 4 WHEN 0 THEN 'www.' WHEN 1 THEN 'blog.'
                    WHEN 2 THEN '' ELSE 'shop.' END ||
    'dom' || CAST(doc_id % 23 AS VARCHAR) || '.' ||
    CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END ||
    '/' || regexp_extract(text, '^([^ ]+)', 1) ||
    CASE WHEN doc_id % 2 = 0 THEN '/p/' || CAST(doc_id AS VARCHAR)
         ELSE '' END ||
    CASE WHEN doc_id % 2 = 1 THEN '?utm=' || CAST(doc_id % 9 AS VARCHAR)
         ELSE '' END AS target_uri,
    '2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') ||
    'T' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') || ':00:00Z' AS warc_date
  FROM f
)
SELECT CAST(doc_id % 16 AS BIGINT) AS file_id,
       CAST(row_number() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) - 1
            AS BIGINT) AS rec_index,
       'urn:md5:' || md5('warc_' || CAST(doc_id AS VARCHAR)) AS record_id,
       target_uri, warc_date, content_type,
       CAST(200 AS INTEGER) AS http_status,
       CAST(length(payload) AS BIGINT) AS payload_len,
       md5(payload) AS payload_md5
FROM recs
""")


def q_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed web-extraction tier, end to end in ONE plan: WARC
    archives → offset-framed record parse → content-type gate (the
    text/plain records drop out) → boilerplate-stripped main-content argmax
    → token count + dedup fingerprint of the extracted text. This is the
    pipeline a crawl-to-corpus user actually runs; every stage is the same
    operator the standalone queries check, keyed here by WARC record_id
    (production's key — the doc_id never leaves the archive). The oracle
    recomputes the whole chain from documents: fixture page → the SHARED
    density-argmax SQL (one definition, _html_argmax_sql) → the text-stats
    normalization twins."""
    from api_ocr_spark.functions import html as H

    parsed = _warc_parsed(_docs(spark, sf_dir))
    pages = parsed.filter(
        F.col("content_type") == "text/html; charset=utf-8"
    ).select("record_id", F.col("payload").alias("html"))
    main = H.html_main_content(pages, id_col="record_id")
    return main.select(
        "record_id", "main_text", "main_score", "n_blocks",
        T.token_count(F.col("main_text")).cast("long").alias("n_tokens"),
        T.fingerprint_md5(F.col("main_text")).alias("fingerprint"),
    )


ORACLE_WARC_EXTRACT = ("""
WITH h AS (
  SELECT 'urn:md5:' || md5('warc_' || CAST(doc_id AS VARCHAR)) AS record_id,
    """ + _HTML_PAGE_SQL + """ AS html
  FROM documents WHERE doc_id % 10 <> 7
),""" + _html_argmax_sql("record_id") + r"""
SELECT record_id, txt AS main_text, CAST(score AS BIGINT) AS main_score,
       CAST(nb AS BIGINT) AS n_blocks,
       CAST(len(string_split(lower(trim(regexp_replace(txt, '\s+', ' ', 'g'))), ' ')) AS BIGINT) AS n_tokens,
       md5(lower(trim(regexp_replace(txt, '\s+', ' ', 'g')))) AS fingerprint
FROM sel WHERE r = 1
""")


def q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-graph centrality for crawl prioritization (operators/graph):
    page-level host→host pairs from pure doc_id arithmetic (src host = the
    URL rule's host; dst host = the (id*7+3)%23 / (id+1)%3 partner — both
    valid hosts at every SF with no id-contiguity assumption), aggregated
    into a weighted edge frame, then THREE integer PageRank rounds. The
    floored-integer recurrence makes the oracle an exact-equality unroll
    (float PageRank sums in engine-dependent order and could only be
    tolerance-checked)."""
    docs = _docs(spark, sf_dir)
    d = F.col("doc_id").cast("long")

    def tld(x: Column) -> Column:
        return (F.when(x % 3 == 0, "com").when(x % 3 == 1, "org")
                .otherwise("net"))

    pairs = docs.select(
        F.concat(F.lit("dom"), (d % 23).cast("string"), F.lit("."),
                 tld(d)).alias("src"),
        F.concat(F.lit("dom"), ((d * 7 + 3) % 23).cast("string"), F.lit("."),
                 tld(d + 1)).alias("dst"),
    )
    return graph.pagerank_int(graph.aggregate_edges(pairs))


def _pr_round_sql(k: int) -> str:
    """One unrolled integer-PageRank round: floored-integer shares along
    weighted edges, then base + Σ per node (nodes with no in-edges keep
    only the base mass)."""
    return f"""
, c{k} AS (
  SELECT e.dst AS node, sum((r.r * 85 * e.w) // (100 * o.out_w)) AS s
  FROM edges e JOIN r{k - 1} r ON r.node = e.src JOIN outw o ON o.src = e.src
  GROUP BY e.dst
), r{k} AS (
  SELECT n.node, CAST(150000 + coalesce(c.s, 0) AS BIGINT) AS r
  FROM nodes n LEFT JOIN c{k} c ON c.node = n.node
)"""


ORACLE_HOST_PAGERANK = ("""
WITH pairs AS (
  SELECT
    'dom' || CAST(doc_id % 23 AS VARCHAR) || '.' ||
      CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END AS src,
    'dom' || CAST((doc_id * 7 + 3) % 23 AS VARCHAR) || '.' ||
      CASE (doc_id + 1) % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END AS dst
  FROM documents
), edges AS (SELECT src, dst, count(*) AS w FROM pairs GROUP BY src, dst),
nodes AS (SELECT DISTINCT node FROM
          (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
outw AS (SELECT src, sum(w) AS out_w FROM edges GROUP BY src),
inw AS (SELECT dst, sum(w) AS in_w FROM edges GROUP BY dst),
r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes)"""
    + "".join(_pr_round_sql(k) for k in (1, 2, 3))
    + """
SELECT n.node AS host, r3.r AS pagerank,
       CAST(coalesce(o.out_w, 0) AS BIGINT) AS out_w,
       CAST(coalesce(i.in_w, 0) AS BIGINT) AS in_w
FROM nodes n JOIN r3 ON r3.node = n.node
LEFT JOIN outw o ON o.src = n.node
LEFT JOIN inw i ON i.dst = n.node
""")


def q_host_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank spam-demotion signal (operators/graph.trustrank_int,
    Gyongyi et al. VLDB 2004) over the SAME host-pair fixture as
    host_pagerank: teleport mass lands only on the trusted seed set
    (the '.org' hosts — a deterministic curated-list stand-in), so trust
    attenuates with link distance from the seeds. Exact-integer floored
    recurrence -> the oracle is an equality unroll of all three rounds."""
    docs = _docs(spark, sf_dir)
    d = F.col("doc_id").cast("long")

    def tld(x: Column) -> Column:
        return (F.when(x % 3 == 0, "com").when(x % 3 == 1, "org")
                .otherwise("net"))

    pairs = docs.select(
        F.concat(F.lit("dom"), (d % 23).cast("string"), F.lit("."),
                 tld(d)).alias("src"),
        F.concat(F.lit("dom"), ((d * 7 + 3) % 23).cast("string"), F.lit("."),
                 tld(d + 1)).alias("dst"),
    )
    edges = graph.aggregate_edges(pairs)
    seeds = (edges.select(F.col("src").alias("node"))
             .unionByName(edges.select(F.col("dst").alias("node")))
             .where(F.col("node").endswith(".org")).distinct())
    return graph.trustrank_int(edges, seeds)


def _tr_round_sql(k: int) -> str:
    """One unrolled integer-TrustRank round: floored shares as in
    PageRank, but per-round base mass only on seed nodes."""
    return f"""
, tc{k} AS (
  SELECT e.dst AS node, sum((r.r * 85 * e.w) // (100 * o.out_w)) AS s
  FROM edges e JOIN t{k - 1} r ON r.node = e.src JOIN outw o ON o.src = e.src
  GROUP BY e.dst
), t{k} AS (
  SELECT n.node,
    CAST((CASE WHEN n.node LIKE '%.org' THEN 150000 ELSE 0 END)
         + coalesce(c.s, 0) AS BIGINT) AS r
  FROM nodes n LEFT JOIN tc{k} c ON c.node = n.node
)"""


ORACLE_HOST_TRUSTRANK = ("""
WITH pairs AS (
  SELECT
    'dom' || CAST(doc_id % 23 AS VARCHAR) || '.' ||
      CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END AS src,
    'dom' || CAST((doc_id * 7 + 3) % 23 AS VARCHAR) || '.' ||
      CASE (doc_id + 1) % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END AS dst
  FROM documents
), edges AS (SELECT src, dst, count(*) AS w FROM pairs GROUP BY src, dst),
nodes AS (SELECT DISTINCT node FROM
          (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
outw AS (SELECT src, sum(w) AS out_w FROM edges GROUP BY src),
t0 AS (SELECT node,
       CAST(CASE WHEN node LIKE '%.org' THEN 1000000 ELSE 0 END AS BIGINT) AS r
       FROM nodes)"""
    + "".join(_tr_round_sql(k) for k in (1, 2, 3))
    + """
SELECT n.node AS host, t3.r AS trustrank,
       (n.node LIKE '%.org') AS is_seed
FROM nodes n JOIN t3 ON t3.node = n.node
""")


def q_link_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host link reciprocity (operators/graph.link_reciprocity) over
    the SAME host-pair fixture as host_pagerank — reciprocated out-mass
    as an exact integer pair (recip_w, out_w), the link-farm signal
    complementing TrustRank's propagation view."""
    docs = _docs(spark, sf_dir)
    d = F.col("doc_id").cast("long")

    def tld(x: Column) -> Column:
        return (F.when(x % 3 == 0, "com").when(x % 3 == 1, "org")
                .otherwise("net"))

    pairs = docs.select(
        F.concat(F.lit("dom"), (d % 23).cast("string"), F.lit("."),
                 tld(d)).alias("src"),
        F.concat(F.lit("dom"), ((d * 7 + 3) % 23).cast("string"), F.lit("."),
                 tld(d + 1)).alias("dst"),
    )
    return graph.link_reciprocity(graph.aggregate_edges(pairs))


ORACLE_LINK_RECIPROCITY = """
WITH pairs AS (
  SELECT
    'dom' || CAST(doc_id % 23 AS VARCHAR) || '.' ||
      CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END AS src,
    'dom' || CAST((doc_id * 7 + 3) % 23 AS VARCHAR) || '.' ||
      CASE (doc_id + 1) % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END AS dst
  FROM documents
), edges AS (SELECT src, dst, count(*) AS w FROM pairs GROUP BY src, dst)
SELECT e.src AS host,
  CAST(sum(least(e.w, coalesce(b.w, 0))) AS BIGINT) AS recip_w,
  CAST(sum(e.w) AS BIGINT) AS out_w
FROM edges e LEFT JOIN edges b ON b.src = e.dst AND b.dst = e.src
GROUP BY e.src
"""


def q_host_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities (operators/graph.hits_int — Kleinberg 1999)
    over the SAME host-pair fixture as host_pagerank: two I-then-O rounds
    with exact-integer floor-rescale normalization (ranking-equivalent to
    the paper's L2 — pinned vs a float reference in tests), so the oracle
    is an exact-equality unroll like pagerank's."""
    docs = _docs(spark, sf_dir)
    d = F.col("doc_id").cast("long")

    def tld(x: Column) -> Column:
        return (F.when(x % 3 == 0, "com").when(x % 3 == 1, "org")
                .otherwise("net"))

    pairs = docs.select(
        F.concat(F.lit("dom"), (d % 23).cast("string"), F.lit("."),
                 tld(d)).alias("src"),
        F.concat(F.lit("dom"), ((d * 7 + 3) % 23).cast("string"), F.lit("."),
                 tld(d + 1)).alias("dst"),
    )
    return graph.hits_int(graph.aggregate_edges(pairs))


def _hits_round_sql(k: int, scale: int = 1_000_000) -> str:
    """One unrolled integer-HITS round: authority from hubs (I), rescale,
    hub from the NEW authorities (O), rescale."""
    return f"""
, a{k}raw AS (
  SELECT n.node, CAST(coalesce(c.s, 0) AS BIGINT) AS a
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, SUM(e.w * h.h) AS s
    FROM edges e JOIN h{k - 1} h ON h.node = e.src GROUP BY e.dst) c
  ON c.node = n.node
), a{k} AS (
  SELECT node, a * {scale} // greatest((SELECT max(a) FROM a{k}raw), 1) AS a
  FROM a{k}raw
), h{k}raw AS (
  SELECT n.node, CAST(coalesce(c.s, 0) AS BIGINT) AS h
  FROM nodes n LEFT JOIN (
    SELECT e.src AS node, SUM(e.w * a.a) AS s
    FROM edges e JOIN a{k} a ON a.node = e.dst GROUP BY e.src) c
  ON c.node = n.node
), h{k} AS (
  SELECT node, h * {scale} // greatest((SELECT max(h) FROM h{k}raw), 1) AS h
  FROM h{k}raw
)"""


ORACLE_HOST_HITS = ("""
WITH pairs AS (
  SELECT
    'dom' || CAST(doc_id % 23 AS VARCHAR) || '.' ||
      CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END AS src,
    'dom' || CAST((doc_id * 7 + 3) % 23 AS VARCHAR) || '.' ||
      CASE (doc_id + 1) % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END AS dst
  FROM documents
), edges AS (SELECT src, dst, count(*) AS w FROM pairs GROUP BY src, dst),
nodes AS (SELECT DISTINCT node FROM
          (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM nodes)"""
    + "".join(_hits_round_sql(k) for k in (1, 2))
    + """
SELECT n.node AS host, CAST(a2.a AS BIGINT) AS authority,
       CAST(h2.h AS BIGINT) AS hub
FROM nodes n JOIN a2 ON a2.node = n.node JOIN h2 ON h2.node = n.node
""")


def q_anchor_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text index (operators/graph.anchor_text_index): inbound-link
    census per target host with the most frequent anchor term. Fixture
    pages carry the _url_expr source URL and three absolute cross-host
    links (host (3d+j+1)%23, tld (d+j)%3, anchor 'term{(d+j)%7} guide')
    plus a path-relative '/self' link that resolves to the source host and
    is dropped by the intra-host rule; for d%4==2, d≡11 (mod 23) the j=0
    link collides with the source host and is dropped too — both
    resolution branches and the drop rule are exercised. 'guide' rides
    every link, so hosts whose inbound anchors all share one term tie at
    the top and exercise the max-struct tie-break."""
    docs = _docs(spark, sf_dir)
    d = F.col("doc_id").cast("long")

    def link(j: int) -> Column:
        tld = (F.when((d + j) % 3 == 0, "com")
               .when((d + j) % 3 == 1, "org").otherwise("net"))
        return F.concat(
            F.lit('<a href="https://dom'),
            ((3 * d + j + 1) % 23).cast("string"), F.lit("."), tld,
            F.lit("/p/"), (d % 50).cast("string"), F.lit('">term'),
            ((d + j) % 7).cast("string"), F.lit(" guide</a>"))

    html = F.concat(
        F.lit('<body><nav><a href="/self">home nav</a></nav>'),
        link(0), F.lit(" "), link(1), F.lit(" "), link(2), F.lit("</body>"))
    pages = docs.select(d.alias("doc_id"), _url_expr().alias("url"),
                        html.alias("html"))
    return graph.anchor_text_index(pages)


_ANCHOR_LINK_SQL = """
    '<a href="https://dom' || CAST((3*doc_id+{j}+1)%23 AS VARCHAR) || '.' ||
    CASE (doc_id+{j})%3 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
         ELSE 'net' END ||
    '/p/' || CAST(doc_id%50 AS VARCHAR) || '">term' ||
    CAST((doc_id+{j})%7 AS VARCHAR) || ' guide</a>'
"""

ORACLE_ANCHOR_INDEX = f"""
WITH u AS ({_URL_FIXTURE_SQL}),
h AS (
  SELECT doc_id, url,
    '<body><nav><a href="/self">home nav</a></nav>' ||
    {_ANCHOR_LINK_SQL.format(j=0)} || ' ' ||
    {_ANCHOR_LINK_SQL.format(j=1)} || ' ' ||
    {_ANCHOR_LINK_SQL.format(j=2)} || '</body>' AS html
  FROM u
),
l AS (
  SELECT doc_id, url,
    regexp_extract_all(html, {_LINK_RE}, 1) AS hrefs,
    regexp_extract_all(html, {_LINK_RE}, 2) AS texts
  FROM h
),
links AS (
  SELECT doc_id, url, hrefs[i] AS href,
    {_vis_sql('texts[i]')} AS anchor
  FROM l, unnest(range(1, len(hrefs) + 1)) AS t(i)
),
res AS (
  SELECT
    regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS src_host,
    CASE WHEN regexp_matches(href, '^[A-Za-z][A-Za-z0-9+.-]*://') THEN href
         ELSE 'https://' ||
              regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) ||
              href END AS dst,
    anchor
  FROM links
),
edges AS (
  SELECT src_host,
    regexp_extract(dst, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS dst_host,
    anchor
  FROM res
  WHERE regexp_extract(dst, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) <> src_host
),
stats AS (
  SELECT dst_host, CAST(count(*) AS BIGINT) AS n_links,
    CAST(count(DISTINCT src_host) AS BIGINT) AS n_src_hosts
  FROM edges GROUP BY dst_host
),
terms AS (
  SELECT dst_host, term, count(*) AS n
  FROM (SELECT dst_host,
          unnest(string_split(trim(regexp_replace(lower(anchor),
            '\\s+', ' ', 'g')), ' ')) AS term
        FROM edges)
  WHERE length(term) > 0
  GROUP BY dst_host, term
),
top AS (
  SELECT dst_host, term, n
  FROM (SELECT *, row_number() OVER (
          PARTITION BY dst_host ORDER BY n DESC, term DESC) AS rn
        FROM terms)
  WHERE rn = 1
)
SELECT s.dst_host, s.n_links, s.n_src_hosts,
  coalesce(top.term, '') AS top_anchor_term,
  CAST(coalesce(top.n, 0) AS BIGINT) AS top_term_count
FROM stats s LEFT JOIN top USING (dst_host)
"""


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature linear quality filter (functions/text
    .hashed_linear_score): fastText-shaped classifier plumbing — token →
    md5 hash bucket → pinned md5-derived integer weight, per-doc codegen'd
    SUM (one exchange), threshold gate. Weights are deterministic stand-ins
    (the swap-in point for trained weights is a broadcast table join); the
    oracle re-derives bucket and weight per token occurrence in SQL, so the
    integer score, the single-division norm_score, and the keep gate all
    hash-match."""
    # same single-file-parquet fan-out rationale as q_repetition_filter:
    # the per-token md5 work runs map-side BEFORE the groupBy exchange, so
    # it must not be confined to the scan's one input partition
    fanned = _docs(spark, sf_dir).repartition(
        2 * spark.sparkContext.defaultParallelism)
    return T.hashed_linear_score(fanned)


ORACLE_QUALITY_FILTER = f"""
WITH d AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws FROM documents),
tok AS (SELECT doc_id, unnest(ws) AS t FROM d),
wt AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5('w7_' || CAST(
      CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 1024
    AS VARCHAR)), 1, 8)) AS BIGINT) % 2001 - 1000 AS w
  FROM tok
)
SELECT doc_id, CAST(sum(w) AS BIGINT) AS score,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(sum(w) / count(*), 6) AS norm_score,
       CAST(CASE WHEN sum(w) > 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM wt GROUP BY doc_id
"""


def q_domain_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level quality prior (operators/tiering.domain_quality_prior):
    the per-doc hashed-linear classifier signal rolled up to registered
    domains as exact integer pairs (means deferred to cross-multiplied
    policy points — signed scores make floored division engine-divergent).
    URL side = the shared URL fixture."""
    from api_ocr_spark.operators import tiering

    docs = _docs(spark, sf_dir)
    fanned = docs.repartition(2 * spark.sparkContext.defaultParallelism)
    return tiering.domain_quality_prior(fanned, _url_fixture(docs))


ORACLE_DOMAIN_PRIOR = rf"""
WITH d AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws FROM documents),
tok AS (SELECT doc_id, unnest(ws) AS t FROM d),
wt AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5('w7_' || CAST(
      CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 1024
    AS VARCHAR)), 1, 8)) AS BIGINT) % 2001 - 1000 AS w
  FROM tok
),
sc AS (
  SELECT doc_id, CAST(sum(w) AS BIGINT) AS score,
         CAST(CASE WHEN sum(w) > 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
  FROM wt GROUP BY doc_id
),
u AS ({_URL_FIXTURE_SQL}),
p AS (
  SELECT doc_id,
    regexp_extract(regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1),
                   '([^.]+\.[^.]+)$', 1) AS registered_domain
  FROM u
)
SELECT p.registered_domain,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(sc.score) AS BIGINT) AS score_sum,
  CAST(sum(sc.keep) AS BIGINT) AS n_keep
FROM sc JOIN p USING (doc_id)
GROUP BY p.registered_domain
"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup (similarity.semdedup) over the
    planted-augmented corpus: md5-seeded Lloyd clusters (same codebook as
    ivf_ann_topk — the oracle unrolls the three rounds identically), then a
    within-cluster min-id prune at cosine >= 0.8. The planted
    negated-coordinate replicas (cos ≈ 0.95-0.99 vs their sources) are the
    discriminating dups — each lands keep=0 whenever Lloyd co-clusters it
    with its source, and the oracle replays the same clustering, so equality
    holds whatever the co-clustering rate is (the rate itself is asserted
    nonzero in tests). Plan shape: the pair meet is an equi-join on
    centroid_id — never a cartesian."""
    aug = similarity.augment_with_planted(load_table(spark, sf_dir, "embeddings"))
    return similarity.semdedup(aug, threshold=0.8, n_centroids=16)


# full algorithmic twin of similarity.semdedup over the augmented corpus:
# md5-derived Lloyd seeding, three unrolled rounds, final assignment,
# within-cluster min-id drop set at exact-integer cosine >= 0.8
ORACLE_SEMANTIC_DEDUP = (f"""
WITH base AS (SELECT vec_id, embedding FROM embeddings),
{_AUG_SQL},
q0 AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM aug
), n AS (
  SELECT vec_id, qv, list_dot_product(qv, qv) AS norm2 FROM q0
), init AS (
  SELECT qv, row_number() OVER (ORDER BY md5('ivf11_' || CAST(vec_id AS VARCHAR))) - 1 AS centroid_id
  FROM n ORDER BY md5('ivf11_' || CAST(vec_id AS VARCHAR)) LIMIT 16
), cents0 AS (
  SELECT centroid_id, qv AS cvec,
         CASE WHEN list_dot_product(qv, qv) = 0 THEN 1 ELSE list_dot_product(qv, qv) END AS cnorm2
  FROM init
)"""
    + "".join(_ivf_lloyd_round_sql(r) for r in (1, 2, 3))
    + """
, scored4 AS (
  SELECT n.vec_id, c.centroid_id,
         list_dot_product(n.qv, c.cvec) / sqrt(n.norm2 * c.cnorm2) AS ccos
  FROM n CROSS JOIN cents3 c
), assign4 AS (
  SELECT vec_id, centroid_id FROM (
    SELECT vec_id, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id ASC) AS rn
    FROM scored4) WHERE rn = 1
), drops AS (
  SELECT DISTINCT b.vec_id
  FROM assign4 a JOIN assign4 b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  JOIN n na ON na.vec_id = a.vec_id
  JOIN n nb ON nb.vec_id = b.vec_id
  WHERE round(list_dot_product(na.qv, nb.qv) / sqrt(na.norm2 * nb.norm2), 6) >= 0.8
)
SELECT a.vec_id, CAST(a.centroid_id AS INTEGER) AS centroid_id,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM assign4 a LEFT JOIN drops d ON d.vec_id = a.vec_id
""")


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding drift monitor (similarity.embedding_drift):
    history slice = vec_id%3==0, new batch = the rest; exact
    cross-multiplied |mean_new - mean_hist| pairs over integer-quantized
    coordinates — no IEEE mean ever materializes."""
    emb = load_table(spark, sf_dir, "embeddings")
    hist = emb.where(F.col("vec_id") % 3 == 0)
    new = emb.where(F.col("vec_id") % 3 != 0)
    return similarity.embedding_drift(new, hist)


ORACLE_EMBEDDING_DRIFT = """
WITH q0 AS (
  SELECT vec_id,
    list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))
      AS qv
  FROM embeddings
),
dims AS (SELECT unnest(range(1, 65)) AS i),
h AS (
  SELECT d.i - 1 AS dim, CAST(sum(q.qv[d.i]) AS BIGINT) AS hist_sum,
         CAST(count(*) AS BIGINT) AS n_hist
  FROM q0 q CROSS JOIN dims d WHERE q.vec_id % 3 = 0
  GROUP BY d.i
),
n AS (
  SELECT d.i - 1 AS dim, CAST(sum(q.qv[d.i]) AS BIGINT) AS new_sum,
         CAST(count(*) AS BIGINT) AS n_new
  FROM q0 q CROSS JOIN dims d WHERE q.vec_id % 3 != 0
  GROUP BY d.i
)
SELECT CAST(h.dim AS BIGINT) AS dim, h.hist_sum, n.new_sum,
       h.n_hist, n.n_new,
       CAST(abs(h.hist_sum * n.n_new - n.new_sum * h.n_hist) AS BIGINT)
         AS drift_num,
       CAST(h.n_hist * n.n_new AS BIGINT) AS drift_den
FROM h JOIN n USING (dim)
"""


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive retrieval training
    (similarity.hard_negatives, DPR recipe): per deterministic query
    vector, the 5 highest-cosine corpus vectors OUTSIDE the query's own
    Lloyd cluster (same-cluster = likely positives, the published
    exclusion). Clustering is the md5-seeded Lloyd shared with
    ivf_ann_topk/semantic_dedup — the oracle unrolls the identical three
    rounds over the RAW embeddings table; ranking by 6-dp-rounded cosine
    with neighbor_id tiebreak; emitted dot is the exact int64 product."""
    return similarity.hard_negatives(load_table(spark, sf_dir, "embeddings"))


ORACLE_HARD_NEGATIVES = ("""
WITH q0 AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM embeddings
), n AS (
  SELECT vec_id, qv, list_dot_product(qv, qv) AS norm2 FROM q0
), init AS (
  SELECT qv, row_number() OVER (ORDER BY md5('ivf11_' || CAST(vec_id AS VARCHAR))) - 1 AS centroid_id
  FROM n ORDER BY md5('ivf11_' || CAST(vec_id AS VARCHAR)) LIMIT 16
), cents0 AS (
  SELECT centroid_id, qv AS cvec,
         CASE WHEN list_dot_product(qv, qv) = 0 THEN 1 ELSE list_dot_product(qv, qv) END AS cnorm2
  FROM init
)"""
    + "".join(_ivf_lloyd_round_sql(r) for r in (1, 2, 3))
    + """
, scored4 AS (
  SELECT n.vec_id, c.centroid_id,
         list_dot_product(n.qv, c.cvec) / sqrt(n.norm2 * c.cnorm2) AS ccos
  FROM n CROSS JOIN cents3 c
), assign4 AS (
  SELECT vec_id, centroid_id FROM (
    SELECT vec_id, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id ASC) AS rn
    FROM scored4) WHERE rn = 1
), q AS (
  SELECT a.vec_id AS query_id, nn.qv AS q_qv, nn.norm2 AS q_norm2,
         a.centroid_id AS q_centroid
  FROM assign4 a JOIN n nn ON nn.vec_id = a.vec_id
  WHERE a.vec_id % 101 = 0
), cand AS (
  SELECT q.query_id, b.vec_id AS neighbor_id,
         list_dot_product(q.q_qv, nb.qv) AS dp,
         round(list_dot_product(q.q_qv, nb.qv)
               / sqrt(q.q_norm2 * nb.norm2), 6) AS c
  FROM q JOIN assign4 b
    ON b.centroid_id != q.q_centroid AND b.vec_id != q.query_id
  JOIN n nb ON nb.vec_id = b.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, dp,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY c DESC, neighbor_id ASC) AS rn
  FROM cand
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(rn AS INTEGER) AS rank,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       CAST(dp AS BIGINT) AS dot
FROM ranked WHERE rn <= 5
""")


def q_image_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata extraction over the binary media column. The
    decode is real (engine PNG/JPEG codecs); the checked projection is the
    geometry-deterministic part — width/height as DECODED from the bytes
    vs the oracle's pure render-geometry arithmetic (wrap → cell grid →
    scenario transform), plus the sniffed format. Content features
    (ink_ratio, mean_intensity, n_bytes) stay in the operator
    (multimodal.image_metadata) under pytest — they are functions of pixel/
    codec internals no SQL engine can replay."""
    from api_ocr_spark.operators.multimodal import image_metadata

    meta = image_metadata(build_media(_docs(spark, sf_dir)))
    return meta.select("media_ref", "width", "height", "format")


# Render-geometry twin of imaging/render.py (MARGIN=8, LINE_H=30, CELL_W=14,
# MAX_LINE_CHARS=32, RULE_THICKNESS=3, MIN_RULES=12, LARGE_W=1960, boxed pad
# 3+16): greedy word wrap packed into one BIGINT reduce
# (nlines*10000 + maxlen*100 + curlen — fixture words are <= 8 chars, so no
# hard-split branch is reachable and every lane stays < 100), then the
# per-scenario dimension transform. Skew pad = round(|tan(deg)|*h/2) with the
# md5-derived degree (render.skew_degree) and the tan values inlined as
# shortest-roundtrip literals; floor(v+0.5) == np.round here (no .5 ties for
# any h <= 4000 — asserted in tests/test_imaging.py).
ORACLE_IMAGE_METADATA = _SPANS_CTE + """
, m AS (
  SELECT doc_id, off,
         'm-' || CAST(doc_id AS VARCHAR) || '-' || CAST(off AS VARCHAR) AS media_ref,
         CASE WHEN (doc_id * 7 + off) % 4 = 0 THEN 'jpeg' ELSE 'png' END AS format,
         (['plain','skewed','noisy','shadow','ruled','boxed','skewed_noisy','large'])[CAST((doc_id*31 + off) % 8 AS BIGINT) + 1] AS scenario,
         doc_id * 100003 + off AS seed,
         list_transform(ws[CAST(off*8+1 AS BIGINT):CAST(off*8+8 AS BIGINT)],
                        x -> CAST(length(x) AS BIGINT)) AS lens
  FROM c WHERE (doc_id + off) % 3 = 0
), g AS (
  SELECT *,
    list_reduce(list_prepend(CAST(0 AS BIGINT), lens), (acc, L) -> CASE
       WHEN acc % 100 = 0 THEN acc + L
       WHEN (acc % 100) + 1 + L <= 32 THEN acc + 1 + L
       ELSE ((acc // 10000) + 1) * 10000 + greatest((acc // 100) % 100, acc % 100) * 100 + L
    END) AS packed
  FROM m
), base AS (
  SELECT *,
    16 + ((packed // 10000) + 1) * 30 AS h0,
    16 + greatest(1, greatest((packed // 100) % 100, packed % 100)) * 14 AS w0
  FROM g
), geo AS (
  SELECT *,
    CASE abs(([-7,-5,-3,-2,2,3,5,7])[CAST(('0x' || substr(md5('skew' || CAST(seed AS VARCHAR)), 1, 1)) AS BIGINT) % 8 + 1])
      WHEN 2 THEN 0.03492076949174773
      WHEN 3 THEN 0.0524077792830412
      WHEN 5 THEN 0.08748866352592401
      ELSE 0.1227845609029046 END AS tan_abs,
    greatest(0, 12 - greatest(0, CAST(ceil((h0 - 3 - 34) / 30.0) AS BIGINT))) AS rules_extra
  FROM base
)
SELECT media_ref,
  CAST(CASE scenario
    WHEN 'boxed' THEN w0 + 38
    WHEN 'large' THEN 1960
    WHEN 'skewed' THEN w0 + 2 * CAST(floor(tan_abs * h0 / 2 + 0.5) AS BIGINT)
    WHEN 'skewed_noisy' THEN w0 + 2 * CAST(floor(tan_abs * h0 / 2 + 0.5) AS BIGINT)
    ELSE w0 END AS INTEGER) AS width,
  CAST(CASE scenario
    WHEN 'boxed' THEN h0 + 38
    WHEN 'large' THEN 2 * h0
    WHEN 'ruled' THEN h0 + CASE WHEN rules_extra > 0 THEN rules_extra * 8 + 8 ELSE 0 END
    ELSE h0 END AS INTEGER) AS height,
  format
FROM geo
"""


# --------------------------------------------------------------------------
# Image-caption pair mining (operators/captions.py)
# --------------------------------------------------------------------------


def q_caption_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAION-style image-text pair extraction: every media span is OCR'd by
    the real pipeline and aligned to its best adjacent text span by EXACT
    integer token-Jaccard (operators/captions.caption_pairs). The oracle
    replays the span-synthesis rule, the OCR invariant (ocr_text ==
    lower(norm(chunk)), already pinned by the roundtrip oracles), the token
    algebra, and the scaled-integer ranking key in DuckDB."""
    from api_ocr_spark.operators.captions import caption_pairs

    return caption_pairs(_docs(spark, sf_dir))


ORACLE_CAPTION_PAIRS = f"""
WITH w AS (
  SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents
), c AS (
  SELECT doc_id, ws, unnest(range(CAST(ceil(len(ws) / 8.0) AS BIGINT))) AS off
  FROM w
), s AS (
  SELECT doc_id, off,
         CASE WHEN (doc_id + off) % 3 = 0 THEN 'media' ELSE 'text' END AS kind,
         lower(trim(regexp_replace(
           array_to_string(ws[CAST(off*8+1 AS BIGINT):CAST(off*8+8 AS BIGINT)], ' '),
           '\\s+', ' ', 'g'))) AS norm_chunk
  FROM c
), m AS (
  SELECT doc_id, off, norm_chunk AS ocr_text FROM s WHERE kind = 'media'
), cand AS (
  SELECT m.doc_id, m.off, s.off AS caption_offset, s.norm_chunk AS caption,
         list_distinct(list_filter(string_split(m.ocr_text, ' '), t -> t <> '')) AS t_ocr,
         list_distinct(list_filter(string_split(s.norm_chunk, ' '), t -> t <> '')) AS t_cap
  FROM m JOIN s ON s.doc_id = m.doc_id AND s.kind = 'text'
                AND (s.off = m.off - 1 OR s.off = m.off + 1)
), scored AS (
  SELECT doc_id, off, caption_offset, caption,
         len(list_intersect(t_ocr, t_cap)) AS score_num,
         len(list_distinct(list_concat(t_ocr, t_cap))) AS score_den
  FROM cand
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY doc_id, off
           ORDER BY CASE WHEN score_den > 0
                         THEN (score_num * 10000) // score_den
                         ELSE 0 END DESC,
                    caption_offset ASC) AS rn
  FROM scored
)
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       'm-' || CAST(doc_id AS VARCHAR) || '-' || CAST(off AS VARCHAR) AS media_ref,
       CAST(caption_offset AS INTEGER) AS caption_offset,
       caption,
       CAST(score_num AS BIGINT) AS score_num,
       CAST(score_den AS BIGINT) AS score_den
FROM ranked WHERE rn = 1
"""


# --------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # OCR pipeline family
        "ocr_documento_completo": _ocr_roundtrip("documento_completo"),
        "ocr_basico": _ocr_roundtrip("basico"),
        "ocr_segmentado": _ocr_roundtrip("segmentado"),
        "ocr_tabla": _ocr_roundtrip("tabla"),
        "ocr_from_spans_table": q_ocr_from_spans_table,
        "ocr_from_spans_completo": q_ocr_from_spans_completo,
        "span_synthesis": q_span_synthesis,
        "interleave_stats": q_interleave_stats,
        "media_manifest": q_media_manifest,
        "estructurar_texto": q_estructurar_texto,
        "limpiar_texto": q_limpiar_texto,
        "checkbox_qa": q_checkbox_qa,
        "checkbox_nearest_text": q_checkbox_nearest_text,
        # relational operator family
        "agg_pricing_summary": q_agg_pricing_summary,
        "rollup_pricing": q_rollup_pricing,
        "revenue_by_nation": q_revenue_by_nation,
        "topk_orders_per_customer": q_topk_orders_per_customer,
        "sessionize_events": q_sessionize_events,
        "event_funnel": q_event_funnel,
        "retention_cohorts": q_retention_cohorts,
        "revenue_attribution": q_revenue_attribution,
        "user_paths": q_user_paths,
        "nearest_prior_login": q_nearest_prior_login,
        "customers_without_orders": q_customers_without_orders,
        "set_ops_event_types": q_set_ops_event_types,
        # training-data pipeline family
        "dedup_exact": q_dedup_exact,
        "ngram_jaccard_pairs": q_ngram_jaccard,
        "neardup_clusters": q_neardup_clusters,
        "dedup_weights": q_dedup_weights,
        "minhash_lsh_neardup": q_minhash_lsh_neardup,
        "simhash": q_simhash,
        "simhash_neardup": q_simhash_neardup,
        "simhash64_neardup": q_simhash64_neardup,
        "decontaminate": q_decontaminate,
        "text_stats": q_text_stats,
        "html_main_content": q_html_main_content,
        "html_main_dom": q_html_main_dom,
        "boilerpipe_extract": q_boilerpipe_extract,
        "html_links": q_html_links,
        "html_metadata": q_html_metadata,
        "html_tables": q_html_tables,
        "tables_markdown": q_tables_markdown,
        "doc_outline": q_doc_outline,
        "chunk_documents": q_chunk_documents,
        "repetition_filter": q_repetition_filter,
        "line_dedup": q_line_dedup,
        "template_lines": q_template_lines,
        "substring_dedup": q_substring_dedup,
        "stitch_pages": q_stitch_pages,
        "stitch_chains": q_stitch_chains,
        "c4_filter": q_c4_filter,
        "readability": q_readability,
        "curation_funnel": q_curation_funnel,
        "blocklist_filter": q_blocklist_filter,
        "corpus_datasheet": q_corpus_datasheet,
        "corpus_manifest": q_corpus_manifest,
        "doclen_histogram": q_doclen_histogram,
        "rarity_buckets": q_rarity_buckets,
        "bigram_lm": q_bigram_lm,
        "tfidf_top_terms": q_tfidf_top_terms,
        "vocab_topk": q_vocab_topk,
        "bpe_merges": q_bpe_merges,
        "bpe_subwords": q_bpe_subwords,
        "collocations": q_collocations,
        "bm25_topk": q_bm25,
        "phrase_match": q_phrase_match,
        "snapshot_diff": q_snapshot_diff,
        "topic_tag": q_topic_tag,
        "crawl_schedule": q_crawl_schedule,
        "sequence_pack": q_sequence_pack,
        "redact_pii": q_redact_pii,
        "url_domain_cap": q_url_domain_cap,
        "url_host_stats": q_url_host_stats,
        "url_dedup": q_url_dedup,
        "robots_filter": q_robots_filter,
        "corpus_sample": q_corpus_sample,
        "tier_extract": q_tier_extract,
        "mixture_sample": q_mixture_sample,
        "grouped_split": q_grouped_split,
        "dsir_select": q_dsir_select,
        "unimax_sample": q_unimax,
        "winnow_fingerprints": q_winnow_fingerprints,
        "setsim_join": q_setsim_join,
        "containment_join": q_containment_join,
        "ann_cosine_topk": q_ann_cosine_topk,
        "embedding_neardup": q_embedding_neardup,
        "lsh_embedding_neardup": q_lsh_embedding_neardup,
        "ivf_ann_topk": q_ivf_ann_topk,
        "semantic_dedup": q_semantic_dedup,
        "hard_negatives": q_hard_negatives,
        "embedding_drift": q_embedding_drift,
        "warc_ingest": q_warc_ingest,
        "bloom_dedup": q_bloom_dedup,
        "novelty_score": q_novelty,
        "warc_extract": q_warc_extract,
        "quality_filter": q_quality_filter,
        "domain_prior": q_domain_prior,
        "host_pagerank": q_host_pagerank,
        "host_trustrank": q_host_trustrank,
        "link_reciprocity": q_link_reciprocity,
        "host_hits": q_host_hits,
        "anchor_index": q_anchor_index,
        "image_metadata": q_image_metadata,
        "caption_pairs": q_caption_pairs,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "ocr_documento_completo": _ROUNDTRIP_ORACLE,
        "ocr_basico": _ROUNDTRIP_ORACLE,
        "ocr_segmentado": _ROUNDTRIP_ORACLE,
        "ocr_tabla": _ROUNDTRIP_ORACLE,
        "ocr_from_spans_table": _ROUNDTRIP_ORACLE,
        "ocr_from_spans_completo": _ROUNDTRIP_ORACLE,
        "span_synthesis": ORACLE_SPAN_SYNTHESIS,
        "interleave_stats": ORACLE_INTERLEAVE_STATS,
        "media_manifest": ORACLE_MEDIA_MANIFEST,
        "estructurar_texto": ORACLE_ESTRUCTURAR,
        "limpiar_texto": ORACLE_LIMPIAR,
        "checkbox_qa": ORACLE_CHECKBOX_QA,
        "checkbox_nearest_text": ORACLE_CHECKBOX_NEAREST,
        "agg_pricing_summary": ORACLE_AGG_PRICING,
        "rollup_pricing": ORACLE_ROLLUP_PRICING,
        "revenue_by_nation": ORACLE_REVENUE_BY_NATION,
        "topk_orders_per_customer": ORACLE_TOPK_ORDERS,
        "sessionize_events": ORACLE_SESSIONIZE,
        "event_funnel": ORACLE_EVENT_FUNNEL,
        "retention_cohorts": ORACLE_RETENTION,
        "revenue_attribution": ORACLE_REVENUE_ATTRIBUTION,
        "user_paths": ORACLE_USER_PATHS,
        "nearest_prior_login": ORACLE_NEAREST_PRIOR,
        "customers_without_orders": ORACLE_CUSTOMERS_WO_ORDERS,
        "set_ops_event_types": ORACLE_SET_OPS,
        "dedup_exact": ORACLE_DEDUP_EXACT,
        "ngram_jaccard_pairs": ORACLE_NGRAM_JACCARD,
        "neardup_clusters": ORACLE_NEARDUP_CLUSTERS,
        "dedup_weights": ORACLE_DEDUP_WEIGHTS,
        "simhash": ORACLE_SIMHASH,
        "text_stats": ORACLE_TEXT_STATS,
        "html_main_content": ORACLE_HTML_MAIN_CONTENT,
        "html_main_dom": ORACLE_HTML_MAIN_DOM,
        "boilerpipe_extract": ORACLE_BOILERPIPE,
        "html_links": ORACLE_HTML_LINKS,
        "html_metadata": ORACLE_HTML_METADATA,
        "html_tables": ORACLE_HTML_TABLES,
        "tables_markdown": ORACLE_TABLES_MARKDOWN,
        "doc_outline": ORACLE_DOC_OUTLINE,
        "chunk_documents": ORACLE_CHUNK_DOCUMENTS,
        "repetition_filter": ORACLE_REPETITION,
        "line_dedup": ORACLE_LINE_DEDUP,
        "template_lines": ORACLE_TEMPLATE_LINES,
        "substring_dedup": ORACLE_SUBSTRING_DEDUP,
        "stitch_pages": ORACLE_STITCH_PAGES,
        "stitch_chains": ORACLE_STITCH_CHAINS,
        "c4_filter": ORACLE_C4_FILTER,
        "readability": ORACLE_READABILITY,
        "curation_funnel": ORACLE_CURATION_FUNNEL,
        "blocklist_filter": ORACLE_BLOCKLIST,
        "corpus_datasheet": ORACLE_CORPUS_DATASHEET,
        "corpus_manifest": ORACLE_CORPUS_MANIFEST,
        "doclen_histogram": ORACLE_DOCLEN_HISTOGRAM,
        "rarity_buckets": ORACLE_RARITY_BUCKETS,
        "bigram_lm": ORACLE_BIGRAM_LM,
        "tfidf_top_terms": ORACLE_TFIDF,
        "vocab_topk": ORACLE_VOCAB_TOPK,
        "bpe_merges": ORACLE_BPE_MERGES,
        "bpe_subwords": ORACLE_BPE_SUBWORDS,
        "collocations": ORACLE_COLLOCATIONS,
        "bm25_topk": ORACLE_BM25,
        "phrase_match": ORACLE_PHRASE_MATCH,
        "snapshot_diff": ORACLE_SNAPSHOT_DIFF,
        "topic_tag": ORACLE_TOPIC_TAG,
        "crawl_schedule": ORACLE_CRAWL_SCHEDULE,
        "sequence_pack": ORACLE_SEQUENCE_PACK,
        "redact_pii": ORACLE_REDACT_PII,
        "url_domain_cap": ORACLE_URL_DOMAIN_CAP,
        "url_host_stats": ORACLE_URL_HOST_STATS,
        "url_dedup": ORACLE_URL_DEDUP,
        "robots_filter": ORACLE_ROBOTS_FILTER,
        "corpus_sample": ORACLE_CORPUS_SAMPLE,
        "tier_extract": ORACLE_TIER_EXTRACT,
        "mixture_sample": ORACLE_MIXTURE_SAMPLE,
        "grouped_split": ORACLE_GROUPED_SPLIT,
        "dsir_select": ORACLE_DSIR_SELECT,
        "unimax_sample": ORACLE_UNIMAX,
        "winnow_fingerprints": ORACLE_WINNOW,
        "setsim_join": ORACLE_SETSIM,
        "containment_join": ORACLE_CONTAINMENT,
        "minhash_lsh_neardup": ORACLE_MINHASH_LSH,
        "simhash_neardup": ORACLE_SIMHASH_NEARDUP,
        "simhash64_neardup": ORACLE_SIMHASH64_NEARDUP,
        "decontaminate": ORACLE_DECONTAMINATE,
        "ann_cosine_topk": ORACLE_ANN_TOPK,
        "embedding_neardup": ORACLE_EMBEDDING_NEARDUP,
        "lsh_embedding_neardup": ORACLE_LSH_EMBEDDING_NEARDUP,
        "ivf_ann_topk": ORACLE_IVF_ANN_TOPK,
        "semantic_dedup": ORACLE_SEMANTIC_DEDUP,
        "hard_negatives": ORACLE_HARD_NEGATIVES,
        "embedding_drift": ORACLE_EMBEDDING_DRIFT,
        "warc_ingest": ORACLE_WARC_INGEST,
        "bloom_dedup": ORACLE_BLOOM_DEDUP,
        "novelty_score": ORACLE_NOVELTY,
        "warc_extract": ORACLE_WARC_EXTRACT,
        "quality_filter": ORACLE_QUALITY_FILTER,
        "domain_prior": ORACLE_DOMAIN_PRIOR,
        "host_pagerank": ORACLE_HOST_PAGERANK,
        "host_trustrank": ORACLE_HOST_TRUSTRANK,
        "link_reciprocity": ORACLE_LINK_RECIPROCITY,
        "host_hits": ORACLE_HOST_HITS,
        "anchor_index": ORACLE_ANCHOR_INDEX,
        "image_metadata": ORACLE_IMAGE_METADATA,
        "caption_pairs": ORACLE_CAPTION_PAIRS,
        # no rows-only entries remain: the Lloyd iteration unrolls into SQL
        # once its seeding is md5-derived, and image_metadata's checked
        # projection is pure render-geometry arithmetic
    }
