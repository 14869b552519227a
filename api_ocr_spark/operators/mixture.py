"""Temperature-based source mixture sampling — the data-mixing step of a
multi-source LLM training corpus (Lample & Conneau 2019 §3.1 / XLM-R's
alpha-smoothed multinomial; LLaMA-style source re-weighting): big sources
are down-sampled and small sources up-weighted by sampling sources
proportionally to n_i^alpha with alpha = 1/2.

The reference service (/root/reference — per-request OCR) has no corpus
layer; this operator extends the training-data tier this engine targets.

Exactness contract: alpha = 1/2 is computed as isqrt(n_i) =
floor(sqrt(n_i)) — IEEE sqrt is correctly rounded in both engines, so its
floor is integer-exact — and quotas use the largest-remainder method in
pure int64 arithmetic (base_i = T*w_i DIV W, bonus by remainder rank), so
the DuckDB oracle is an equality check, not a tolerance. Quotas are
truncated at the source size (least(quota, n) — sampling is without
replacement; the iterative water-filling redistribution of truncated mass
is a driver-side refinement, documented not implemented).

Shape at 100 TB: the source census is one map-side-partial shuffle to a
SOURCES-sized frame (sources are a handful by definition — collected like
ivf_assign's centroids); quotas come back as a BROADCAST table; selection
is `row_number() <= quota` over the source window, which plans as
partial+final WindowGroupLimit — each map task forwards at most
max-quota rows per source, so a trillion-doc web source contributes
quota-bounded rows to the selection exchange, not its full size.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import lang_guess, tokens


def mixture_quotas(census: list[tuple[str, int]], frac_num: int,
                   frac_den: int) -> dict[str, dict]:
    """Largest-remainder quotas over a collected source census.

    T = total DIV (frac_den/frac_num) docs are distributed proportionally
    to isqrt(n_i); ties in the remainder rank break by source name asc.
    Pure-int arithmetic throughout (int64 bounds hold while
    T * max(weight) < 2^63 — at 10^12 docs T*w ~ 10^18, the edge of
    int64; the oracle-checked arithmetic would swap to DECIMAL(38,0)
    there, a type change not a shape change)."""
    total = sum(n for _, n in census)
    target = total * frac_num // frac_den
    weights = {s: math.isqrt(n) for s, n in census}
    w_sum = sum(weights.values()) or 1
    base = {s: target * w // w_sum for s, w in weights.items()}
    rem = {s: target * w % w_sum for s, w in weights.items()}
    extra = target - sum(base.values())
    by_rem = sorted(census, key=lambda kv: (-rem[kv[0]], kv[0]))
    bonus = {s: (1 if i < extra else 0) for i, (s, _) in enumerate(by_rem)}
    out = {}
    for s, n in census:
        quota = min(base[s] + bonus[s], n)
        out[s] = {"n_source": n, "weight": weights[s], "quota": quota}
    return out


def mixture_sample(df: DataFrame, frac_num: int = 2,
                   frac_den: int = 5) -> DataFrame:
    """Sample a frac_num/frac_den-of-corpus training mix across sources at
    temperature alpha = 1/2. Returns the selected docs only:
    (doc_id, source, n_source, weight, quota, sel_rank), ranked by
    md5('mix:'||doc_id) within each source (deterministic uniform draw,
    reproducible across engines and runs)."""
    spark = df.sparkSession
    census_rows = (
        df.groupBy("source")
        .agg(F.count("*").cast("long").alias("n"))
        .collect()
    )
    census = sorted((r.source, r.n) for r in census_rows)
    quotas = mixture_quotas(census, frac_num, frac_den)
    quota_df = spark.createDataFrame(
        [(s, q["n_source"], q["weight"], q["quota"])
         for s, q in quotas.items()],
        "source string, n_source long, weight long, quota long",
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))),
        "doc_id")
    # rank <= LITERAL max quota plans as partial+final WindowGroupLimit
    # (a per-source column bound would not); the exact per-source quota is
    # the broadcast refinement after the group limit — the tier_extract
    # two-step.
    max_quota = max((q["quota"] for q in quotas.values()), default=0)
    return (
        df.select(F.col("doc_id").cast("long").alias("doc_id"), "source")
        .join(F.broadcast(quota_df), "source")
        .withColumn("sel_rank", F.row_number().over(w).cast("long"))
        .where(F.col("sel_rank") <= F.lit(max_quota))
        .where(F.col("sel_rank") <= F.col("quota"))
        .select("doc_id", "source", "n_source", "weight", "quota",
                "sel_rank")
    )


def grouped_split(df: DataFrame) -> DataFrame:
    """Leakage-safe train/val/test holdout: the split is a pure function
    of the GROUP key (md5('split:'||group) first hex digit: < 12 of 16 →
    train, next 2 → val, rest → test), so no group — a
    registered domain, an author, a dedup cluster — can ever straddle
    splits (the eval-contamination guarantee grouped holdouts exist for;
    cf. the decontaminate operator for the n-gram complement).

    Returns (doc_id, group, split) per doc. Shape at 100 TB: a pure
    codegen'd map over the scan — assignment needs no census, no shuffle,
    and no coordination; expected fractions are 12/16, 2/16, 2/16 of
    GROUPS (docs follow their group's mass). Exact doc-level ratios are a
    sampling refinement (mixture_sample), not a split property."""
    g = F.col("registered_domain")
    hexv = F.conv(F.substring(
        F.md5(F.concat(F.lit("split:"), g)), 1, 1), 16, 10).cast("long")
    return df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        g.alias("group"),
        F.when(hexv < 12, "train")
        .when(hexv < 14, "val")
        .otherwise("test").alias("split"),
    )


DSIR_SCALE = 1_000_000


def dsir_select(documents: DataFrame, k: int = 100) -> DataFrame:
    """Data Selection with Importance Resampling (DSIR, Xie et al. 2023,
    arXiv:2302.03169): pick the k raw-corpus documents whose hashed
    n-gram feature distribution is most target-like. Features are hashed
    unigrams — bucket = md5(term) first-8-hex mod 10,000, the paper's
    hashing trick with the repo's md5-derived-randomness convention so
    the DuckDB oracle replays it exactly. The target sample is the
    deterministic doc_id % 17 == 0 slice (a stand-in for "quality
    domain sample" — swapping in a real target table changes one filter).

    Exactness contract: the paper scores log w(x) = sum_f c_f (log p_f -
    log q_f) — libm logs are not engine-portable, so the weight here is
    the integer sum-of-ratios surrogate

        ratio(b) = least((DSIR_SCALE * (c_tgt_b + 1)) DIV (c_raw_b + 1),
                         DSIR_SCALE * 1000)

    per feature occurrence (add-one smoothed, clipped at 1000x
    enrichment — the paper clips importance weights too). The global
    N_raw/N_tgt normalizer is a corpus constant, dropped because it is
    ranking-invariant. Monotone per-feature in the true ratio,
    integer-exact in both engines; the float log-sum is the documented
    swap-in (downgrades the oracle to rows-only).

    Shape at 100 TB: ONE corpus token shuffle for the census (conditional
    partial aggs split target/raw in the same pass, 10,000 rows out);
    the ratio table is 10,000 rows -> BROADCAST to the scoring join
    (corpus never shuffles to meet it); per-doc sum is one doc_id
    groupBy; top-k plans as TakeOrderedAndProject (per-partition local
    top-k). Selection ties break by doc_id ascending."""
    from .dedup import _fan_out

    toks = _fan_out(documents).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(tokens(F.col("text"))).alias("term"),
    ).select(
        "doc_id",
        (F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("long")
         % 10_000).alias("bucket"),
        (F.col("doc_id") % 17 == 0).alias("is_tgt"),
    )
    census = toks.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_tgt"), 1).otherwise(0)).alias("c_tgt"),
        F.sum(F.when(F.col("is_tgt"), 0).otherwise(1)).alias("c_raw"),
    )
    ratio = census.select(
        "bucket",
        F.least(
            F.expr(f"(CAST({DSIR_SCALE} AS BIGINT) * (c_tgt + 1))"
                   " DIV (c_raw + 1)"),
            F.lit(DSIR_SCALE * 1_000).cast("long"),
        ).alias("ratio"),
    )
    scored = (
        toks.where(~F.col("is_tgt"))
        .join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_tokens"),
             F.sum("ratio").cast("long").alias("dsir_sum"))
        .select("doc_id", "n_tokens", "dsir_sum",
                F.expr("dsir_sum DIV n_tokens").alias("dsir_milli"))
    )
    return scored.orderBy(
        F.col("dsir_milli").desc(), F.col("doc_id").asc()).limit(k)


def unimax_sample(documents: DataFrame) -> DataFrame:
    """UniMax language-balanced sampling (Chung et al. 2023, ICLR —
    'UniMax: Fairer and More Effective Language Sampling'): spread the
    doc budget as uniformly as possible across languages, but never take
    more than 2 epochs of any language — the published
    alternative to temperature sampling (mixture_sample) that avoids
    both starving tail languages and over-repeating them.

    Greedy allocation, ascending language size (the paper's algorithm,
    exact integer arithmetic): with R the remaining budget and m the
    remaining languages, quota_l = min(2 * n_l, R DIV m). Budget
    = total_docs DIV 2. A language's quota maps to
    doc copies: every doc gets quota DIV n_l full epochs, and the
    quota % n_l remainder goes to the lowest md5('unimax:'||doc_id)
    ranks — the mixture_sample draw convention. Returns one row per doc:
    (doc_id, lang, n_copies), n_copies in [0, 2].

    Shape at 100 TB: language census is one map-side-partial shuffle to
    a languages-sized frame (collected like mixture_sample's — the
    greedy is a driver loop over a handful of rows, mirrored in the
    oracle as a recursive CTE); quota and remainder tables BROADCAST
    back; the remainder pick is rank <= rem over the language window
    (partial+final WindowGroupLimit — map tasks forward at most rem rows
    per language); full epochs are rank-free map-side arithmetic."""
    lang = lang_guess(F.col("text"))
    base = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"), lang.alias("lang"))
    census = sorted(
        ((r["lang"], r["count"]) for r in
         base.groupBy("lang").count().collect()),
        key=lambda t: (t[1], t[0]))
    total = sum(n for _, n in census)
    remaining = total // 2
    m = len(census)
    quotas = []
    for lng, n in census:
        q = min(2 * n, remaining // m)
        quotas.append((lng, n, q))
        remaining -= q
        m -= 1
    spark = documents.sparkSession
    qdf = F.broadcast(spark.createDataFrame(
        [(lng, q // n, q % n) for lng, n, q in quotas],
        "lang string, full_epochs long, rem long"))
    rem_rows = [(lng, q % n) for lng, n, q in quotas if q % n > 0]
    rem_tbl = F.broadcast(
        spark.createDataFrame(rem_rows, "lang string, rem long"))
    draw = F.md5(F.concat(F.lit("unimax:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(draw, F.col("doc_id"))
    # rank <= LITERAL max rem plans as partial+final WindowGroupLimit (a
    # per-language column bound would not — the mixture_sample two-step);
    # the exact per-language remainder is the broadcast refinement after
    max_rem = max((q % n for _, n, q in quotas), default=0)
    extra = (
        base.join(rem_tbl, "lang")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= F.lit(max_rem))
        .where(F.col("rk") <= F.col("rem"))
        .select("doc_id", F.lit(1).cast("long").alias("extra"))
    )
    return (
        base.join(qdf, "lang")
        .join(extra, "doc_id", "left")
        .select(
            "doc_id", "lang",
            (F.col("full_epochs") + F.coalesce(F.col("extra"), F.lit(0)))
            .cast("long").alias("n_copies"),
        )
    )
