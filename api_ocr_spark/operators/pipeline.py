"""The distributed extraction pipeline (SURVEY.md §3.1 Spark lifecycle):

  flat spans → span spread on xxhash64(doc_id, offset) → mapInPandas(render
  → encode → decode → route → preprocess → OCR, text rows passed through) →
  offset-ordered collect_list per doc_id.

Every extraction path runs that one span stage, :func:`ocr_spans`, and one
reassembly, :func:`reassemble_spans`: extract_documents, extract_from_spans
and the checkpoint job (caption mining runs the span stage alone). Without a
media store the source is scanned once, nothing is cached, and the
pipeline's own shuffles are the span spread and the reassembly's one
exchange on doc_id (collect_list partially aggregated map-side). With a
media store, media spans left-join it and text spans are unioned in before
the same stage.

Every span, stored or synthesized, goes through one batch function,
:func:`ocr_span_batch`, and one per-row kernel, :func:`_ocr_row`. The stage
streams Arrow batches (generator mapInPandas — a partition is never
materialized), mirroring the reference's memory hygiene
(/root/reference/main.py:207-209 del/gc) as bounded batch sizes.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, IntegerType, StringType, StructField, StructType,
)

# unified span stage output: OCR'd media rows AND passthrough text rows
SPAN_OUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("offset", IntegerType()),
        StructField("kind", StringType()),
        StructField("media_ref", StringType()),
        StructField("text", StringType()),
        StructField("route", StringType()),
        StructField("n_words", IntegerType()),
        StructField("mean_conf", DoubleType()),
        StructField("ocr_ms", DoubleType()),
        StructField("n_bytes", IntegerType()),
        StructField("partition_id", IntegerType()),
    ]
)


def _ocr_row(payload, mode: str) -> tuple:
    """One media span: payload → encoded bytes → decode → run_mode →
    (text, route, n_words, mean_conf, ocr_ms, n_bytes). A stored payload is
    the span's bytes; a synthesized one is its (doc_num, offset, chunk),
    rendered and encoded by the media-store rules inside the same try (so
    the work matches a store read, and the bytes never cross Arrow). The
    engine's only error row: a failure becomes route `error:<Type>` with
    empty text, never a task failure."""
    from ..imaging.png import decode_gray_auto
    from ..sources.interleave import encode_media, media_fmt, render_span
    from .modes import run_mode

    t0 = time.perf_counter()
    n_bytes = 0
    try:
        if isinstance(payload, tuple):
            doc_num, offset, chunk = int(payload[0]), int(payload[1]), payload[2]
            data = encode_media(render_span(doc_num, offset, chunk)[0],
                                media_fmt(doc_num, offset))
        else:
            data = bytes(payload)
        n_bytes = len(data)
        result = run_mode(decode_gray_auto(data), mode)
        text = result.get("text", "")
        route = result.get("route", mode)
        n_words = len(text.split())
        mean_conf = round(float(result.get("mean_conf", 0.0)), 2)
    except Exception as exc:  # noqa: BLE001 — error rows, never task failures
        text, route = "", f"error:{type(exc).__name__}"
        n_words, mean_conf = 0, 0.0
    return text, route, n_words, mean_conf, round((time.perf_counter() - t0) * 1e3, 3), n_bytes


_OCR_FIELDS = ("text", "route", "n_words", "mean_conf", "ocr_ms", "n_bytes")


def ocr_span_batch(pdf: pd.DataFrame, mode: str, pid: int = -1) -> pd.DataFrame:
    """One Arrow batch of spans → one row per span: doc_id, offset, kind,
    media_ref, then :func:`_ocr_row`'s fields, then partition_id.

    Media rows read their payload from a `bytes` column when the batch has
    one (a media store), else synthesize it from (doc_num, offset, chunk).
    Rows of kind 'text' pass through vectorized — no per-row Python; n_words
    uses split() semantics, so it agrees with the media rows on
    multi-space/empty chunks."""
    is_text = pdf["kind"].to_numpy() == "text"
    parts = []
    if is_text.any():
        tp = pdf if is_text.all() else pdf[is_text]
        parts.append(pd.DataFrame({
            "doc_id": tp["doc_id"], "offset": tp["offset"].astype("int64"),
            "kind": tp["kind"], "media_ref": tp["media_ref"], "text": tp["chunk"],
            "route": "text",
            "n_words": tp["chunk"].str.split().str.len().fillna(0).astype("int64"),
            "mean_conf": 0.0, "ocr_ms": 0.0, "n_bytes": 0, "partition_id": pid,
        }))
    if not parts or not is_text.all():
        mp = pdf[~is_text] if parts else pdf
        payloads = mp["bytes"].tolist() if "bytes" in mp else list(zip(
            mp["doc_num"].tolist(), mp["offset"].tolist(), mp["chunk"].tolist()))
        ocr = list(zip(*(_ocr_row(p, mode) for p in payloads))) or [()] * len(_OCR_FIELDS)
        parts.append(pd.DataFrame({
            "doc_id": mp["doc_id"].tolist(), "offset": mp["offset"].astype("int64").tolist(),
            "kind": "media", "media_ref": mp["media_ref"].tolist(),
            **dict(zip(_OCR_FIELDS, ocr)), "partition_id": pid,
        }))
    return parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)


def ocr_spans(
    flat: DataFrame,
    mode: str = "documento_completo",
    media: DataFrame | None = None,
) -> DataFrame:
    """The span stage: flat spans (doc_id, offset, kind, media_ref, plus
    chunk for text spans and doc_num for synthesized media) → one
    SPAN_OUT_SCHEMA row per span.

    Without `media`, media rows are rendered → encoded → decoded → OCR'd
    inside the worker (their bytes never cross an Arrow boundary). With a
    media store (media_ref, bytes), media spans LEFT-join it — a span whose
    store row is missing gets null bytes and comes out as an `error:` row,
    never silently dropped — and text spans are unioned in beside them
    rather than joined, so their null media_ref never lands on one join
    partition.

    Salting (SURVEY.md §4.3.1): span rows are independent until reassembly,
    so any placement is correct — repartition on xxhash64(doc_id, offset)
    spreads a media-heavy document across all partitions instead of pinning
    it to one hash bucket."""
    if media is not None:
        is_media = F.col("kind") == "media"
        flat = flat.filter(is_media).join(
            media.select("media_ref", "bytes"), "media_ref", "left"
        ).unionByName(flat.filter(~is_media), allowMissingColumns=True)
    # explicit count: AQE's bytes-based coalescing would fold this small (by
    # bytes) but compute-heavy shuffle into too few partitions.
    # sortWithinPartitions makes Arrow batches kind-homogeneous, so most
    # batches take the vectorized text path or the media loop whole
    spans = flat.repartition(
        2 * flat.sparkSession.sparkContext.defaultParallelism,
        F.xxhash64("doc_id", "offset"),
    ).sortWithinPartitions("kind")

    def ocr_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        for pdf in batches:
            yield ocr_span_batch(pdf, mode, pid)

    return spans.mapInPandas(ocr_batches, schema=SPAN_OUT_SCHEMA)


# Cached relations handed out by the set-join and similarity stages (dedup,
# similarity). These are STRONG references on purpose: once the Python
# DataFrame is GC'd the JVM CacheManager entry can no longer be unpersisted
# from here, so a weakref registry would leak the cached blocks for the
# session's lifetime. release_persisted() reclaims them explicitly (bench.py
# calls it per query).
_PERSISTED: list = []


def release_persisted() -> int:
    """Unpersist every cached stage handed out so far (safe after the
    caller's terminal action; lazily re-computed if a plan is re-run).
    Returns the number of stages released."""
    n = 0
    while _PERSISTED:
        df = _PERSISTED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # noqa: BLE001 — session already stopped
            pass
    return n


def _norm(col):
    """Whitespace-normalize: newlines/multi-space → single space, trim."""
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def reassemble_spans(out: DataFrame) -> DataFrame:
    """:func:`ocr_spans` output → (doc_id, spans, extracted_text): one
    collect_list per doc_id rebuilds each document as an offset-ordered span
    array (the engine's signature aggregation, SURVEY.md §2.4) plus the
    concatenated extracted_text. Media text is whitespace-normalized
    JVM-side, text rows pass verbatim.

    One exchange: collect_list runs as a map-side partial aggregate, so the
    shuffle carries at most one partial array per (map task, doc_id). A
    document's array is still built in one task — its one output row cannot
    be split — so a media-heavy document's OCR work is spread by the span
    stage, not here."""
    ordered = F.array_sort(F.collect_list(F.struct(
        "offset", "kind",
        F.when(F.col("kind") == "media", _norm(F.col("text")))
         .otherwise(F.col("text")).alias("text"),
        "media_ref",
    )))
    return out.groupBy("doc_id").agg(
        F.transform(ordered, lambda s: F.struct(
            s.kind.alias("kind"), s.text.alias("text"),
            s.media_ref.alias("media_ref"), s.offset.alias("offset"),
        )).alias("spans"),
        F.concat_ws(" ", F.transform(ordered, lambda s: s.text)).alias("extracted_text"),
    )


def extract_documents(
    documents: DataFrame,
    mode: str = "documento_completo",
    strategy: str = "auto",
) -> DataFrame:
    """End-to-end: documents(doc_id, text) → interleaved spans →
    :func:`ocr_spans` → :func:`reassemble_spans`, media synthesized inside
    the span stage. The source is scanned once, nothing is cached and no
    job runs until the caller's action; stored media go through
    :func:`extract_from_spans`.

    `strategy` is accepted for callers written against the former
    persist/unified choice and selects nothing: every value runs this plan."""
    from ..sources.interleave import flat_spans

    return reassemble_spans(ocr_spans(flat_spans(documents), mode))


def extract_from_spans(
    documents_spans: DataFrame,
    media: DataFrame,
    mode: str = "documento_completo",
) -> DataFrame:
    """Extraction over the BASELINE.json input_hint shape directly:
    documents_spans(doc_id:string, spans:array<struct<kind,text,media_ref,offset>>)
    joined to a media store (media_ref, bytes). This is the production entry
    point — a user's Iceberg table of interleaved documents goes in here.

    posexplode-free: the offset lives in the struct, so a plain explode
    suffices; Catalyst prunes to the two columns read."""
    flat = documents_spans.select(
        "doc_id", F.explode("spans").alias("s")
    ).select(
        "doc_id",
        F.col("s.offset").alias("offset"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("chunk"),
        F.col("s.media_ref").alias("media_ref"),
    )
    return reassemble_spans(ocr_spans(flat, mode, media))
