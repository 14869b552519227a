"""Checkpoint / resume / lineage / metrics (SURVEY.md §4.3.2).

Replaces the reference's in-memory async task store
(/root/reference/background.py:10-45) with durable tables:

  output/bucket=<b>/   extracted documents (doc_id, spans, extracted_text,
                       run_id), one directory per bucket, OVERWRITTEN on
                       (re)processing — reprocessing replaces, never appends
  lineage/             one row per completed (run_group, run_id, bucket):
                       doc/span counts, wall ms, status (append-only history)
  metrics/bucket=<b>/  per OCR-partition rows: span/error counts, conf and
                       byte stats, wall ms — the distributed twin of the
                       reference's SQLite ocr_requests table
                       (/root/reference/metrics.py:17-66)

Resume semantics: work is split into `n_buckets` by pmod(xxhash64(doc_id), B).
Completed buckets are recorded in lineage; a restarted run anti-joins its
input against completed buckets and processes only the remainder.

Exactly-once: output and metrics are written per-bucket with dynamic
directory overwrite, so the kill window BETWEEN the output commit and the
lineage row landing is safe — the resumed run reprocesses the bucket and
REPLACES its directory instead of appending duplicates. read_output
additionally semi-joins on lineage's done buckets, so a bucket whose output
committed but whose lineage row never landed is invisible until reprocessed.

On a production lakehouse these are Iceberg tables (MERGE / snapshot
isolation); the sandbox has no Iceberg runtime, so the same protocol runs on
parquet directories — the access pattern, the per-bucket replace, and the
anti-join resume are identical (SURVEY.md §1.2).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _bucket_of(col, n_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def _read_lineage_if_any(spark: SparkSession, base_dir: str) -> DataFrame | None:
    """The lineage table, or None before the first bucket commits. Existence
    is asked of the path's own Hadoop FileSystem (any scheme), so a missing
    table is never read — and a table that exists but cannot be read raises
    instead of passing for "nothing done"."""
    path = os.path.join(base_dir, "lineage")
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return spark.read.parquet(path) if fs.exists(jpath) else None


def completed_buckets(spark: SparkSession, base_dir: str, run_group: str) -> set[int]:
    lin = _read_lineage_if_any(spark, base_dir)
    if lin is None:
        return set()
    rows = (
        lin.filter((F.col("run_group") == run_group) & (F.col("status") == "done"))
        .select("bucket").distinct().collect()
    )
    return {r.bucket for r in rows}


def run_with_checkpoint(
    spark: SparkSession,
    documents: DataFrame,
    base_dir: str,
    run_group: str = "default",
    run_id: str = "r0",
    mode: str = "documento_completo",
    n_buckets: int = 4,
    max_buckets: int | None = None,
    media: DataFrame | None = None,
) -> dict:
    """Extract `documents` bucket-by-bucket with checkpoint/resume.

    `max_buckets` caps how many *new* buckets this invocation processes —
    the kill-at-50% test uses it to simulate a dying job. `media` is an
    optional external media store (media_ref, bytes) — the production
    shape; when omitted, media spans are rendered inside the span stage.
    Returns a summary {processed: [...], skipped: [...]}.
    """
    from ..operators.pipeline import ocr_spans, reassemble_spans
    from ..sources.interleave import flat_spans

    done = completed_buckets(spark, base_dir, run_group)
    docs_b = documents.withColumn("bucket", _bucket_of(F.col("doc_id").cast("string"), n_buckets))
    processed, skipped = [], []
    out_path = os.path.join(base_dir, "output")
    lineage_path = os.path.join(base_dir, "lineage")
    metrics_path = os.path.join(base_dir, "metrics")
    for b in range(n_buckets):
        if b in done:
            skipped.append(b)
            continue
        if max_buckets is not None and len(processed) >= max_buckets:
            break
        subset = docs_b.filter(F.col("bucket") == b).drop("bucket")
        t0 = time.perf_counter()
        spans_out = ocr_spans(flat_spans(subset), mode, media).cache()
        media_out = spans_out.filter(F.col("kind") == "media")
        result = reassemble_spans(spans_out)
        # per-bucket directory overwrite: reprocessing REPLACES (exactly-once
        # even when a previous attempt died between this commit and lineage)
        bucket_out = os.path.join(out_path, f"bucket={b}")
        result.withColumn("run_id", F.lit(run_id)).write.mode("overwrite").parquet(bucket_out)
        # per-partition OCR metrics (the reference's metrics.log_request twin,
        # /root/reference/metrics.py:17-35: endpoint→mode+route, image
        # size→byte stats, error→error-route counts, timing→ocr_ms)
        metrics = (
            media_out.groupBy("partition_id", "route")
            .agg(
                F.count("*").alias("n_spans"),
                F.sum(F.when(F.col("route").startswith("error:"), 1).otherwise(0)).alias("n_errors"),
                F.round(F.avg("mean_conf"), 2).alias("avg_conf"),
                F.round(F.sum("ocr_ms"), 1).alias("sum_ocr_ms"),
                F.round(F.max("ocr_ms"), 1).alias("max_ocr_ms"),
                F.sum("n_words").alias("n_words"),
                F.sum("n_bytes").alias("sum_bytes"),
                F.round(F.avg("n_bytes"), 1).alias("avg_bytes"),
            )
            .withColumn("mode", F.lit(mode))
            .withColumn("run_group", F.lit(run_group))
            .withColumn("run_id", F.lit(run_id))
        )
        metrics.write.mode("overwrite").parquet(os.path.join(metrics_path, f"bucket={b}"))
        # count from the committed bucket directory only — O(bucket), not a
        # rescan of every previous bucket, and no second pipeline execution
        n_docs = spark.read.parquet(bucket_out).count()
        n_media = media_out.count()
        spans_out.unpersist()
        wall_ms = round((time.perf_counter() - t0) * 1e3, 1)
        lineage = spark.createDataFrame(
            [(run_group, run_id, b, n_docs, n_media, wall_ms, "done")],
            "run_group string, run_id string, bucket int, n_docs long, "
            "n_media long, wall_ms double, status string",
        )
        lineage.write.mode("append").parquet(lineage_path)
        processed.append(b)
    return {"processed": processed, "skipped": skipped}


def read_output(spark: SparkSession, base_dir: str, run_group: str | None = None) -> DataFrame:
    """Committed output only: semi-join the bucket-partitioned output on
    lineage's done buckets, so an output directory whose lineage row never
    landed (kill between commit and lineage) is excluded until its bucket is
    reprocessed.

    `run_group` must match the writer's: output bucket directories are
    overwritten by whichever run_group last processed them, so done-bucket
    visibility is only exactly-once when reader and writer agree on the
    group. With run_group=None the group is AUTO-DETECTED from lineage — a
    base_dir belongs to exactly one run_group, and a base_dir whose lineage
    shows several groups raises (unioning groups could expose a bucket
    committed under an older group whose directory now holds a newer group's
    rows)."""
    out = spark.read.parquet(os.path.join(base_dir, "output"))
    lin = _read_lineage_if_any(spark, base_dir)
    if lin is None:  # nothing is committed yet
        return out.limit(0)
    lin = lin.filter(F.col("status") == "done")
    if run_group is None:
        groups = [r.run_group for r in lin.select("run_group").distinct().collect()]
        if len(groups) > 1:
            raise ValueError(
                f"{base_dir} has lineage for multiple run_groups {sorted(groups)}; "
                "pass run_group= explicitly (bucket directories hold only the "
                "LAST group's rows, so unioning groups is not exactly-once)")
        run_group = groups[0] if groups else "default"
    lin = lin.filter(F.col("run_group") == run_group)
    done = lin.select("bucket").distinct()
    return out.join(F.broadcast(done), "bucket", "left_semi")


def read_lineage(spark: SparkSession, base_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(base_dir, "lineage"))


def read_metrics(spark: SparkSession, base_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(base_dir, "metrics"))
