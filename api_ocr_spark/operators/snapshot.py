"""Crawl-snapshot diff — classify every document key across two corpus
snapshots as added / gone / changed / unchanged.

The reference is a stateless per-request service; this extends the
training-data tier: incremental crawl curation diffs the new snapshot
against the previous one so only added/changed documents re-enter the
expensive pipeline (dedup, quality, extraction), and 'gone' keys drive
tombstones in the serving index. Complements bloom_history_dedup (which
answers "seen before?" probabilistically); the diff is the exact,
key-level account.

Shape at 100 TB: fingerprints are computed MAP-SIDE before the join (the
join carries (key, 32-byte digest), never the payload), then one full
outer join keyed on doc_id — both sides shuffle once on the same key
(AQE skew-splittable), and the status CASE is a pure projection."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """(doc_id, status, fp_old, fp_new) for the union of both snapshots'
    keys. status: 'added' (new only), 'gone' (old only), 'changed' (both,
    md5 fingerprints differ), 'unchanged'. Fingerprint is md5 of the raw
    text — the same digest family every dedup operator here uses, so the
    diff is consistent with exact_dedup's identity."""

    def fps(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.md5(F.col("text")).alias(f"fp_{tag}"),
        )

    j = fps(old, "old").join(fps(new, "new"), "doc_id", "full_outer")
    status = (
        F.when(F.col("fp_old").isNull(), F.lit("added"))
        .when(F.col("fp_new").isNull(), F.lit("gone"))
        .when(F.col("fp_old") == F.col("fp_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select("doc_id", status.alias("status"), "fp_old", "fp_new")
