"""Corpus-curation funnel with first-failing-stage attribution — the
debugging view every large-scale filtering pipeline needs: not just which
documents survive, but WHICH stage removed each casualty, so a corpus
regression ("we lost 40% of source X") is attributable in one query
(cf. the per-stage accounting tables of C4 / RefinedWeb / Dolma reports).

The reference service (/root/reference — per-request OCR) has no corpus
layer; this composes this engine's own curation operators.

Stage order (first failure wins, mirroring a real pipeline's cheapest-
first layout):
  1. exact_dup   — not the min-doc_id keeper of the md5 fingerprint group
  2. too_short   — token count below the floor
  3. c4_quality  — functions/text.c4_doc_stats keep == false
  4. kept

Shape at 100 TB: every quality signal rides ONE projection over the
corpus (fingerprint, token count, c4 stats are all per-row codegen), and
the keeper resolution is a min-over-fingerprint window on that single
relation — one fingerprint-keyed exchange total. (The earlier
groupBy-keepers + two joins shape re-evaluated the source subtree per
branch — with a synthesized fixture corpus that meant re-running the
whole fixture expression chain — and paid three exchanges for the same
answer.) The funnel costs the dedup shuffle you were already paying, not
a pass per stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import c4_doc_stats, fingerprint_md5, token_count, tokens
from .dedup import _fan_out as _fan_out_docs


def curation_funnel(documents: DataFrame) -> DataFrame:
    """Per-document funnel verdict:
    (doc_id, stage, n_tokens, n_sentences), stage in
    {exact_dup, too_short (under 12 tokens), c4_quality, kept}."""
    from pyspark.sql.window import Window

    from ..functions.text import c4_stat_cols

    base = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")
    # ONE projection computes every per-row signal (fingerprint, token
    # count, c4 stats — all pure maps of the same row), then one
    # min-over-fingerprint window resolves keepers: single evaluation of
    # the source subtree, single exchange. (The previous groupBy-keepers +
    # two joins evaluated the source per branch and shuffled three times.)
    # c4_stat_cols order: n_sentences, n_terminal, has_brace,
    # has_bad_snippet, keep
    stats = c4_stat_cols(F.col("text"))
    per = base.select(
        "doc_id",
        fingerprint_md5(F.col("text")).alias("fp"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        stats[0],
        stats[4],
    )
    keeper = F.min("doc_id").over(Window.partitionBy("fp"))
    return per.select(
        "doc_id",
        F.when(F.col("doc_id") != keeper, "exact_dup")
        .when(F.col("n_tokens") < 12, "too_short")
        .when(~F.col("keep"), "c4_quality")
        .otherwise("kept").alias("stage"),
        "n_tokens", "n_sentences",
    )


def corpus_datasheet(documents: DataFrame) -> DataFrame:
    """Dataset-card corpus statistics ("Datasheets for Datasets", Gebru et
    al., CACM 2021 — the composition section's quantitative rows) in one
    frame: document/token/vocabulary counts, exact-duplicate mass, doc
    length extremes, and the language mix. All exact integers, so the
    DuckDB oracle is equality.

    Shape at 100 TB: ONE pass over the corpus feeding two
    map-side-partial aggregations (the per-doc global aggregate and the
    vocabulary census), crossed as 1-row frames — the whole datasheet
    costs a scan plus two tiny shuffles."""
    from ..functions.text import lang_guess, tokens

    per_doc = documents.select(
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        fingerprint_md5(F.col("text")).alias("fp"),
        lang_guess(F.col("text")).alias("lang"),
    )
    agg = per_doc.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        (F.count("*") - F.countDistinct("fp")).cast("long")
        .alias("n_exact_dup_docs"),
        F.min("n_tokens").cast("long").alias("min_doc_tokens"),
        F.max("n_tokens").cast("long").alias("max_doc_tokens"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("long")
        .alias("n_en"),
        F.sum(F.when(F.col("lang") == "es", 1).otherwise(0)).cast("long")
        .alias("n_es"),
        F.sum(F.when(~F.col("lang").isin("en", "es"), 1).otherwise(0))
        .cast("long").alias("n_other"),
    )
    vocab = (documents
             .select(F.explode(tokens(F.col("text"))).alias("w"))
             .agg(F.countDistinct("w").cast("long").alias("vocab_size")))
    return agg.crossJoin(vocab)


def doclen_histogram(documents: DataFrame) -> DataFrame:
    """Power-of-two document-length histogram — the length-distribution
    row of the datasheet: bucket [2^(k-1), 2^k - 1] per doc by token
    count, with doc and token mass per bucket. The bucket index is the
    BINARY-STRING LENGTH of the count (floor(log2)+1) — exact integer in
    both engines, where a float log2 could round differently at bucket
    edges. Zero-token docs get the [0, 0] bucket. Pure map + one tiny
    bucket shuffle."""
    n = token_count(F.col("text")).cast("long")
    k = F.length(F.conv(n.cast("string"), 10, 2)).cast("int")
    per_doc = documents.select(
        n.alias("_n"), k.alias("_k")).select(
        "_n",
        F.when(F.col("_n") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr("CAST(shiftleft(1L, _k - 1) AS BIGINT)"))
        .alias("bucket_lo"),
    ).select(
        "_n", "bucket_lo",
        F.when(F.col("_n") == 0, F.lit(0).cast("long"))
        .otherwise(2 * F.col("bucket_lo") - 1).alias("bucket_hi"),
    )
    return (per_doc.groupBy("bucket_lo", "bucket_hi")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("_n").cast("long").alias("n_tokens")))


def blocklist_filter(documents: DataFrame, blocklist: DataFrame) -> DataFrame:
    """Table-driven blocklist gate — the UT1-style filter of C4 §2.2 /
    RefinedWeb (thousands of terms across weighted categories), distinct
    in shape from c4_doc_stats' three literal snippets: the list is a
    RELATION (term, category, weight), not expression constants, so
    policy updates are a data change, not a redeploy.

    Per doc: token occurrences meet the BROADCAST blocklist map-side
    (the decontaminate eval-gram pattern — the corpus never shuffles for
    the policy decision; the only exchange is the doc_id partial-agg
    sum), then
        hits          = matched occurrences
        weighted_hits = Σ weight per occurrence
        keep iff 10 * weighted_hits < 1 * n_tokens
    — an exact cross-multiplied 'blocked fraction < 1/10' gate,
    integer end to end. Docs with zero hits keep their row via the
    left join (keep = true). Returns (doc_id, n_tokens, hits,
    weighted_hits, keep)."""
    toks = _fan_out_docs(documents).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(tokens(F.col("text"))).alias("term"),
    )
    bl = F.broadcast(
        blocklist.select("term", F.col("weight").cast("long").alias("w")))
    per_doc = (
        toks.join(bl, "term")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("hits"),
             F.sum("w").cast("long").alias("weighted_hits"))
    )
    counts = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        token_count(F.col("text")).cast("long").alias("n_tokens"))
    return counts.join(per_doc, "doc_id", "left").select(
        "doc_id", "n_tokens",
        F.coalesce("hits", F.lit(0)).cast("long").alias("hits"),
        F.coalesce("weighted_hits", F.lit(0)).cast("long")
        .alias("weighted_hits"),
        (F.lit(10) * F.coalesce("weighted_hits", F.lit(0))
         < F.lit(1) * F.col("n_tokens")).alias("keep"),
    )


def corpus_manifest(documents: DataFrame) -> DataFrame:
    """Dataset integrity manifest — the reproducibility artifact a corpus
    ships with (HF datasets' checksums / TFDS splits file, expressed at
    shard granularity): one row per shard with (n_docs, n_tokens,
    content_hash) where shard = md5('shard:'||doc_id) bucket of 16 and

        content_hash = BIT_XOR over docs of the 60-bit md5 integer of
                       doc_id || ':' || fingerprint_md5(text)

    XOR is COMMUTATIVE — the hash needs no ordering at any scale (an
    ordered concat-then-hash would need a per-shard global sort; the
    neardup-convergence bit_xor lesson), yet any single-doc change,
    addition, or removal flips its shard's hash. Binding doc_id into the
    hashed string makes swapped ids detectable even when text is
    unchanged; 60 bits keeps the integer positive int64 in both engines.
    One map-side-partial shuffle to 16 rows; pure Catalyst."""
    from ..functions.text import fingerprint_md5, md5_bucket

    d = F.col("doc_id").cast("long")
    h = F.conv(
        F.substring(
            F.md5(F.concat(d.cast("string"), F.lit(":"),
                           fingerprint_md5(F.col("text")))),
            1, 15),
        16, 10).cast("long")
    return (
        documents.select(
            md5_bucket(F.concat(F.lit("shard:"), d.cast("string")),
                       16).cast("long").alias("shard"),
            token_count(F.col("text")).cast("long").alias("n_toks"),
            h.alias("h"),
        )
        .groupBy("shard")
        .agg(F.count("*").cast("long").alias("n_docs"),
             F.sum("n_toks").cast("long").alias("n_tokens"),
             F.bit_xor("h").alias("content_hash"))
    )
