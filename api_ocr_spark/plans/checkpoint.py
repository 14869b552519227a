"""Checkpoint / resume / lineage / metrics (SURVEY.md §4.3.2).

Replaces the reference's in-memory async task store
(/root/reference/background.py:10-45) with durable tables:

  output/bucket=<b>/   extracted documents (doc_id, spans, extracted_text,
                       run_id), one directory per bucket, OVERWRITTEN on
                       (re)processing — reprocessing replaces, never appends
  lineage/             one LINEAGE_SCHEMA row per completed (run_group,
                       run_id, bucket): append-only history
  metrics/bucket=<b>/  per OCR-partition rows: span/error counts, conf and
                       byte stats, wall ms — the distributed twin of the
                       reference's SQLite ocr_requests table
                       (/root/reference/metrics.py:17-66)

Resume semantics: work is split into `n_buckets` by pmod(xxhash64(doc_id), B),
fixed per run group. Completed buckets are recorded in lineage; a restarted
run processes only the remainder, in waves of WAVE_BUCKETS buckets: each wave
runs the span stage once (cached), then one count aggregate, one output write,
one metrics write and one lineage append. A kill loses at most one wave.

Exactly-once: output and metrics are written partitioned by bucket with
dynamic overwrite (a bucket without rows gets one empty schema file), so a
rerun after a kill between the writes and the lineage append REPLACES the
wave's bucket directories, and read_output semi-joins on lineage's done
buckets, so those buckets stay invisible until reprocessed.

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

# buckets committed per cached span stage; a kill loses at most one wave
WAVE_BUCKETS = 4
# wall_ms is the wave's wall, repeated on each of its buckets' rows; read with
# this schema, rows from before n_buckets was recorded read it as null (unknown)
LINEAGE_SCHEMA = ("run_group string, run_id string, bucket int, n_buckets int, "
                  "n_docs long, n_media long, wall_ms double, status string")


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
    return read_lineage(spark, base_dir) if fs.exists(jpath) else None


def completed_buckets(spark: SparkSession, base_dir: str, run_group: str,
                      n_buckets: int | None = None) -> set[int]:
    """The run group's done buckets. Given `n_buckets`, raises ValueError if
    lineage holds another count for the group (re-bucketing would duplicate
    documents); rows with a null n_buckets predate it and are not compared."""
    lin = _read_lineage_if_any(spark, base_dir)
    done = (F.col("run_group") == run_group) & (F.col("status") == "done")
    rows = [] if lin is None else lin.filter(done).select("bucket", "n_buckets").distinct().collect()
    other = {r.n_buckets for r in rows} - {n_buckets, None}
    if n_buckets is not None and other:
        raise ValueError(f"run_group {run_group!r} in {base_dir} was bucketed with "
                         f"n_buckets={min(other)}, not {n_buckets}")
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
    """Extract `documents` in waves of buckets with checkpoint/resume.

    `max_buckets` caps how many *new* buckets this invocation processes —
    the kill-at-50% test uses it to simulate a dying job. `media` is an
    optional external media store (media_ref, bytes) — the production
    shape; when omitted, media spans are rendered inside the span stage.
    Raises ValueError, before any work, if `n_buckets` < 1, `max_buckets`
    < 0, or the run group's lineage holds another `n_buckets` (see
    completed_buckets). Returns a summary {processed: [...], skipped: [...]}.
    """
    from ..operators.pipeline import ocr_spans, reassemble_spans
    from ..sources.interleave import flat_spans

    if n_buckets < 1 or (max_buckets is not None and max_buckets < 0):
        raise ValueError(f"need n_buckets >= 1 and max_buckets >= 0, got "
                         f"n_buckets={n_buckets}, max_buckets={max_buckets}")
    done = completed_buckets(spark, base_dir, run_group, n_buckets)
    todo = [b for b in range(n_buckets) if b not in done][:max_buckets]
    bucket = _bucket_of(F.col("doc_id").cast("string"), n_buckets)
    is_media = F.col("kind") == "media"

    def overwrite(df: DataFrame, table: str, empty: list[int]) -> None:
        path = os.path.join(base_dir, table)
        (df.write.partitionBy("bucket").mode("overwrite")
         .option("partitionOverwriteMode", "dynamic").parquet(path))
        for b in empty:  # the write above leaves no directory for a bucket without rows
            df.limit(0).drop("bucket").write.mode("overwrite").parquet(f"{path}/bucket={b}")

    for i in range(0, len(todo), WAVE_BUCKETS):
        wave = todo[i:i + WAVE_BUCKETS]
        t0 = time.perf_counter()
        subset = flat_spans(documents.filter(bucket.isin(wave)))
        spans_out = ocr_spans(subset, mode, media).withColumn("bucket", bucket).cache()
        counts = {r.bucket: (r.n_docs, r.n_media) for r in spans_out.groupBy("bucket").agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.when(is_media, 1)).alias("n_media")).collect()}
        counts = [(b, *counts.get(b, (0, 0))) for b in wave]
        overwrite(reassemble_spans(spans_out).withColumns(
            {"bucket": bucket, "run_id": F.lit(run_id)}), "output",
            [b for b, n_docs, _ in counts if not n_docs])
        # per-partition OCR metrics (the reference's metrics.log_request twin,
        # /root/reference/metrics.py:17-35: endpoint→mode+route, image
        # size→byte stats, error→error-route counts, timing→ocr_ms)
        overwrite(
            spans_out.filter(is_media).groupBy("bucket", "partition_id", "route")
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
            .withColumns({"mode": F.lit(mode), "run_group": F.lit(run_group),
                          "run_id": F.lit(run_id)}), "metrics",
            [b for b, _, n_media in counts if not n_media])
        spans_out.unpersist()
        wall_ms = round((time.perf_counter() - t0) * 1e3, 1)
        lineage = [(run_group, run_id, b, n_buckets, *c, wall_ms, "done") for b, *c in counts]
        spark.createDataFrame(lineage, LINEAGE_SCHEMA).write.mode("append").parquet(
            os.path.join(base_dir, "lineage"))  # after both writes commit
    return {"processed": todo, "skipped": sorted(done)}


def read_output(spark: SparkSession, base_dir: str, run_group: str | None = None) -> DataFrame:
    """Committed output only: the bucket-partitioned output semi-joined on
    lineage's done buckets, so a bucket whose lineage row never landed (kill
    between commit and lineage) is hidden until it is reprocessed.

    `run_group` must match the writer's, since a bucket directory holds the
    rows of the group that last processed it. With run_group=None the group
    is taken from lineage, and a base_dir with several groups raises."""
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
    done = lin.filter(F.col("run_group") == run_group).select("bucket").distinct()
    return out.join(F.broadcast(done), "bucket", "left_semi")


def read_lineage(spark: SparkSession, base_dir: str) -> DataFrame:
    return spark.read.schema(LINEAGE_SCHEMA).parquet(os.path.join(base_dir, "lineage"))


def read_metrics(spark: SparkSession, base_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(base_dir, "metrics"))
