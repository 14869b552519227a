"""Quality-tier extraction + per-tier quota sampling — the corpus-mixing
step of a training-data pipeline: rank documents into quality tiers
(high/mid/low) and draw a deterministic quota from each tier, so the
training mix over-samples high-quality text without discarding the tail
(the RefinedWeb / FineWeb "quality bucket" pattern).

The reference service has no corpus layer (per-request OCR API); this
extends the web-extraction tier the engine targets, alongside
functions/url (domain caps) and operators/dedup.

Tier rule — histogram quantiles, not a global sort: a document's tier
depends only on its SCORE and the exact count of strictly-better-scoring
documents, so tier assignment is
    high  iff  5 * c_before(score) < N        (top ~20%)
    mid   iff  2 * c_before(score) < N        (next ~30%)
    low   otherwise
with c_before = #docs with score > this score. Ties share a tier by
construction (boundaries are score-valued — the standard histogram
tradeoff), and the arithmetic is all-integer, so the DuckDB oracle
replays it exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import quality_score

DEFAULT_QUOTAS = {"high": 100, "mid": 50, "low": 25}


def tier_extract(documents: DataFrame,
                 quotas: dict[str, int] | None = None) -> DataFrame:
    """Assign quality tiers and keep a deterministic md5-ranked quota per
    tier. Returns (doc_id, score, tier, tier_rank) for kept docs only.

    Shape at 100 TB:
      - scoring is a pure codegen'd map over the scan;
      - the tier table lives on the DISTINCT-SCORE frame (bounded by score
        granularity, round(...,6) — thousands of rows, not corpus rows);
        its cumulative count runs in one partition of that SMALL frame
        (same class as the k-row centroid collects), never a corpus sort;
      - the corpus meets the tier table through a BROADCAST join, map-side;
      - the quota filter `row_number() <= max_quota` plans as
        partial+final WindowGroupLimit: each map task forwards at most
        max_quota rows per tier to the single tier exchange, so the
        3-partition window never sees the corpus (the domain_cap_sample
        shape with a per-tier cap refinement after the partial limit).
    """
    quotas = DEFAULT_QUOTAS if quotas is None else quotas
    scored = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        quality_score(F.col("text")).alias("score"),
    )
    n_total = scored.count()
    counts = scored.groupBy("score").agg(F.count("*").alias("n"))
    w_cum = (Window.orderBy(F.desc("score"))
             .rowsBetween(Window.unboundedPreceding, -1))
    tiers = counts.select(
        "score",
        F.coalesce(F.sum("n").over(w_cum), F.lit(0)).alias("c_before"),
    ).select(
        "score",
        F.when(5 * F.col("c_before") < n_total, "high")
        .when(2 * F.col("c_before") < n_total, "mid")
        .otherwise("low").alias("tier"),
    )
    assigned = scored.join(F.broadcast(tiers), "score")
    w_rank = Window.partitionBy("tier").orderBy(
        F.md5(F.concat(F.lit("tier:"), F.col("doc_id").cast("string"))),
        "doc_id")
    max_quota = max(quotas.values())
    quota_col = (F.when(F.col("tier") == "high", quotas["high"])
                 .when(F.col("tier") == "mid", quotas["mid"])
                 .otherwise(quotas["low"]))
    return (
        assigned.withColumn("tier_rank",
                            F.row_number().over(w_rank).cast("long"))
        .where(F.col("tier_rank") <= max_quota)   # WindowGroupLimit form
        .where(F.col("tier_rank") <= quota_col)   # exact per-tier cap
        .select("doc_id", "score", "tier", "tier_rank")
    )


def domain_quality_prior(documents: DataFrame, urls: DataFrame) -> DataFrame:
    """Domain-level quality prior — aggregate the per-document classifier
    signal to its registered domain (the FineWeb/RefinedWeb practice:
    a domain whose pages consistently score low is demoted wholesale,
    catching pages the per-doc classifier is unsure about). Emits one
    row per registered domain:

        (registered_domain, n_docs, score_sum, n_keep)

    score_sum stays an EXACT integer pair with n_docs — never a mean:
    scores are signed, and floored division diverges between engines on
    negatives (Spark DIV truncates toward zero, DuckDB // floors), so
    the ratio is materialized only at the policy point by
    cross-multiplication. Shape at 100 TB: per-doc scoring is
    hashed_linear_score's one doc-keyed exchange; the URL join is a
    doc_id equi-join; the rollup is a domain-keyed map-side-partial
    groupBy (hot mega-domains collapse per map task)."""
    from ..functions.text import hashed_linear_score
    from ..functions.url import parse_urls

    scored = hashed_linear_score(documents).select("doc_id", "score", "keep")
    dom = parse_urls(urls).select("doc_id", "registered_domain")
    return (
        scored.join(dom, "doc_id")
        .groupBy("registered_domain")
        .agg(F.count("*").cast("long").alias("n_docs"),
             F.sum("score").cast("long").alias("score_sum"),
             F.sum("keep").cast("long").alias("n_keep"))
    )
