"""Bucketed (co-located) joins: pre-shuffle heavy tables ONCE at write time.

At 100 TB the media store is joined by `media_ref` by every extraction run
(pipeline.ocr_spans, backfills, re-OCR passes, PDF generation). Hash-bucketing
both sides on the join key at WRITE time makes every subsequent join
exchange-free: Spark's bucketed scan exposes the bucket hash-partitioning,
so SortMergeJoin runs with NO Exchange on either side — the shuffle is paid
once when the table lands, not per query. (This is the spark.sql.sources
bucketing path; on a lakehouse runtime the same statement holds for hidden
bucket partition transforms.)

Rules the test pins down (easy to regress silently):
- both sides must be bucketed on the join key with the SAME bucket count;
- broadcast must be out of the picture (a small side would otherwise take a
  BroadcastHashJoin and hide a bucketing regression);
- the bucketed scan only avoids the exchange when
  spark.sql.sources.bucketing.enabled is true (session default).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, key: str, n_buckets: int) -> None:
    """Persist df as a parquet table hash-bucketed (and sorted) by `key`.
    `table` may be db-qualified; the db controls the storage location."""
    (df.write.format("parquet")
       .bucketBy(n_buckets, key)
       .sortBy(key)
       .mode("overwrite")
       .saveAsTable(table))


def cobucketed_join(spark: SparkSession, left_table: str, right_table: str,
                    key: str) -> DataFrame:
    """Join two same-key/same-count bucketed tables — plans with zero
    Exchange nodes (asserted in tests/test_bucketing.py)."""
    return spark.table(left_table).join(spark.table(right_table), key)
