"""Structured Streaming variant of the extraction pipeline.

The reference's only 'async' machinery is a background-task workaround
(/root/reference/background.py, SURVEY.md §2.9) — batch checkpoint/resume is
its true equivalent (plans/checkpoint.py). This module exists because a
continuously-fed media store is the natural streaming extension: new
(doc_id, offset, media_ref, bytes) rows arrive as files; the same Arrow OCR
stage runs stateless per micro-batch; a watermarked tumbling-window count
tracks late-arriving spans.

The OCR stage is identical code to the batch path: the same mapInPandas
body as operators/pipeline.ocr_spans, emitting the same SPAN_OUT_SCHEMA rows
(`text`, `kind`='media', `n_bytes`, ...). Only the span spread differs — a
stream cannot sort, so the rows go to the UDF unrepartitioned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.pipeline import SPAN_OUT_SCHEMA, _ocr_udf

STREAM_INPUT_SCHEMA = (
    "doc_id string, offset int, media_ref string, bytes binary, event_time timestamp"
)


def stream_ocr(spark: SparkSession, input_dir: str, mode: str = "documento_completo") -> DataFrame:
    """File-source stream of media-span rows → OCR'd spans (stateless)."""
    src = (
        spark.readStream.schema(STREAM_INPUT_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )
    media_spans = src.select("doc_id", "offset", "media_ref", "bytes")
    return media_spans.mapInPandas(_ocr_udf(mode), schema=SPAN_OUT_SCHEMA)


def stream_ocr_with_window_metrics(
    spark: SparkSession, input_dir: str, window: str = "1 minute", watermark: str = "2 minutes"
) -> DataFrame:
    """Watermarked tumbling-window span counts (late-data-tolerant metrics)."""
    src = (
        spark.readStream.schema(STREAM_INPUT_SCHEMA)
        .parquet(input_dir)
        .withWatermark("event_time", watermark)
    )
    return src.groupBy(F.window("event_time", window)).agg(
        F.count("*").alias("n_spans"),
        F.approx_count_distinct("doc_id").alias("approx_docs"),
    )


def stream_dedup_first_seen(spark: SparkSession, input_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): emit each doc_id's
    FIRST-seen span row across the whole stream, suppress later duplicates —
    the streaming analogue of exact dedup (exactly-once per key without a
    global shuffle; state is per-key and checkpointable)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = (
        spark.readStream.schema(STREAM_INPUT_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(input_dir)
    )

    def first_seen(key, pdf_iter, state: GroupState):
        seen = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            if seen == 0 and len(pdf):
                seen = 1
                state.update((1,))
                yield pd.DataFrame(
                    {"doc_id": [key[0]], "media_ref": [pdf["media_ref"].iloc[0]],
                     "n_dups_in_batch": [len(pdf)]}
                )
        if not state.exists:
            state.update((seen,))

    return src.groupBy("doc_id").applyInPandasWithState(
        first_seen,
        outputStructType="doc_id string, media_ref string, n_dups_in_batch int",
        stateStructType="seen int",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stream_to_memory(
    spark: SparkSession, input_dir: str, table_name: str = "stream_out",
    mode: str = "documento_completo",
) -> None:
    """Drain the stream with availableNow into an in-memory sink (tests)."""
    q = (
        stream_ocr(spark, input_dir, mode)
        .writeStream.format("memory")
        .queryName(table_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_stream_to_parquet(
    spark: SparkSession, input_dir: str, out_dir: str, ckpt_dir: str,
    mode: str = "documento_completo",
) -> None:
    """Drain all currently-available input into a parquet sink with a
    CHECKPOINT LOCATION — the streaming twin of plans/checkpoint.py's
    exactly-once story: a killed query restarted on the same checkpoint
    resumes from its committed offsets, so already-processed files are never
    re-OCR'd and never re-appended (asserted by the kill/restart test)."""
    q = (
        stream_ocr(spark, input_dir, mode)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
