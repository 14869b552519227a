"""Interleaved-document synthesis: documents(text) → spans table + media store.

Produces the BASELINE.json input_hint shape
  documents_spans: (doc_id:string, spans:array<struct<kind,text,media_ref,offset:int>>)
plus the sidecar media table (FIXTURES.md §2) whose images are rendered from
the ground-truth chunk text, so expected OCR output is known a priori.

Everything here is deterministic in the source table alone — the synthesis
rules (config.py: CHUNK_WORDS/MEDIA_MOD/...) are reproduced verbatim by the
DuckDB oracle SQL in __spark_entry__, which is what makes the whole OCR
pipeline oracle-checkable end-to-end.

Spark-first notes: chunking/spans are pure Catalyst expressions (split/
sequence/slice/concat_ws) — no Python. Only the render step is a mapInPandas
stage (Arrow-batched; the per-image numpy work is the payload, not row-level
Python dispatch).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, StringType, StructField, StructType,
)

from ..config import (
    CHUNK_WORDS, JPEG_FMT_MOD, JPEG_FMT_MULT, MEDIA_MOD, RENDER_SEED_MULT,
    SCENARIO_MULT,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("bytes", BinaryType()),
        StructField("fmt", StringType()),
        StructField("scenario", StringType()),
        StructField("truth_text", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def flat_spans(documents: DataFrame) -> DataFrame:
    """documents(doc_id:bigint, text) → one row per span with ground truth:
    (doc_id:string, doc_num:bigint, offset:int, kind, chunk, media_ref).

    The input is repartitioned FIRST: the chunking projection (split/slice/
    concat_ws per span) is the expression-heavy part, and with a single-file
    source it would otherwise run on one partition — a serial stage that
    caps scaling (observed: ~60s serial at 385k media spans)."""
    documents = documents.repartition(
        2 * documents.sparkSession.sparkContext.defaultParallelism, F.col("doc_id"))
    words = F.split(F.trim(F.col("text")), " ")
    n_chunks = F.ceil(F.size(words) / F.lit(CHUNK_WORDS)).cast("int")
    df = documents.select(
        F.col("doc_id").alias("doc_num"),
        F.col("doc_id").cast("string").alias("doc_id"),
        words.alias("words"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("offset"),
    )
    chunk = F.concat_ws(" ", F.slice(F.col("words"), F.col("offset") * CHUNK_WORDS + 1, CHUNK_WORDS))
    kind = F.when((F.col("doc_num") + F.col("offset")) % MEDIA_MOD == 0, F.lit("media")).otherwise(
        F.lit("text")
    )
    media_ref = F.when(
        kind == "media", F.concat(F.lit("m-"), F.col("doc_id"), F.lit("-"), F.col("offset").cast("string"))
    )
    return df.select(
        "doc_id",
        "doc_num",
        F.col("offset").cast("int").alias("offset"),
        kind.alias("kind"),
        chunk.alias("chunk"),
        media_ref.alias("media_ref"),
    )


def build_documents_spans(documents: DataFrame) -> DataFrame:
    """The input_hint-shaped interleaved table: media spans carry null text
    (their content exists only as rendered pixels in the media table)."""
    fs = flat_spans(documents)
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("offset", "kind", "chunk", "media_ref"))),
        lambda s: F.struct(
            s.kind.alias("kind"),
            F.when(s.kind == "text", s.chunk).alias("text"),
            s.media_ref.alias("media_ref"),
            s.offset.alias("offset"),
        ),
    )
    return fs.groupBy("doc_id").agg(ordered.alias("spans"))


def media_fmt(doc_num: int, offset: int) -> str:
    """Storage format of a media span — mixed PNG/JPEG store: 'jpeg' iff
    (d·JPEG_FMT_MULT + i) % JPEG_FMT_MOD == 0 (mirrored verbatim in
    ORACLE_MEDIA_MANIFEST). JPEG rows exercise the lossy path end-to-end:
    the roundtrip queries decode REAL JPEG bytes and must still be
    span-exact (ink-mask survival at q≥85, tests/test_imaging)."""
    return "jpeg" if (doc_num * JPEG_FMT_MULT + offset) % JPEG_FMT_MOD == 0 else "png"


def encode_media(img, fmt: str) -> bytes:
    from ..config import JPEG_MEDIA_QUALITY
    from ..imaging import jpeg as jpeg_codec
    from ..imaging import png as png_codec

    if fmt == "jpeg":
        return jpeg_codec.encode_gray_jpeg(img, quality=JPEG_MEDIA_QUALITY)
    return png_codec.encode_gray(img)


def render_span(doc_num: int, offset: int, chunk: str):
    """(grayscale image, scenario) of one media span — the span-synthesis
    rule shared by the media store (build_media) and the fused OCR stage
    (operators/pipeline), so both encode the same bytes."""
    from ..imaging.render import SCENARIOS, render_text_image

    scenario = SCENARIOS[(doc_num * SCENARIO_MULT + offset) % len(SCENARIOS)]
    img = render_text_image(str(chunk), scenario, seed=doc_num * RENDER_SEED_MULT + offset)
    return img, scenario


def _render_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    cols = ("media_ref", "bytes", "fmt", "scenario", "truth_text", "width", "height")
    for pdf in batches:
        out = {k: [] for k in cols}
        for doc_num, offset, chunk, media_ref in zip(
            pdf["doc_num"].tolist(), pdf["offset"].tolist(),
            pdf["chunk"].tolist(), pdf["media_ref"].tolist(),
        ):
            img, scenario = render_span(int(doc_num), int(offset), chunk)
            fmt = media_fmt(int(doc_num), int(offset))
            out["media_ref"].append(media_ref)
            out["bytes"].append(encode_media(img, fmt))
            out["fmt"].append(fmt)
            out["scenario"].append(scenario)
            out["truth_text"].append(str(chunk).lower())
            out["width"].append(img.shape[1])
            out["height"].append(img.shape[0])
        yield pd.DataFrame(out)


def build_media(documents: DataFrame) -> DataFrame:
    """Render every media span's ground-truth chunk into an encoded PNG.
    Arrow-batched mapInPandas; deterministic in (doc_id, offset, text).

    The source table is often a single parquet file (one input split); an
    explicit repartition fans the CPU-bound render across all task slots.
    The partition count is explicit because AQE would coalesce a small
    shuffle back to one partition (bytes-based sizing is wrong for
    compute-bound stages)."""
    fs = flat_spans(documents).filter(F.col("kind") == "media")
    fs = fs.select("doc_num", "offset", "chunk", "media_ref").repartition(
        2 * fs.sparkSession.sparkContext.defaultParallelism, F.xxhash64("media_ref"))
    return fs.mapInPandas(_render_batches, schema=MEDIA_SCHEMA)


def build_media_manifest(documents: DataFrame) -> DataFrame:
    """(media_ref, fmt, scenario, truth_text) — the media store's METADATA
    projection, computed with pure Catalyst expressions from the span rule
    (guide §4.1: an opaque Python stage defeats column pruning, so
    `build_media(...).select(metadata)` still rendered and encoded every
    image; every one of these columns is a deterministic function of
    (doc_num, offset, chunk) that never needed pixels). Emits exactly what
    _render_batches emits for these columns: the same fmt rule as
    media_fmt, the same scenario index, and truth_text = lower(chunk)."""
    from ..imaging.render import SCENARIOS

    fs = flat_spans(documents).filter(F.col("kind") == "media")
    fmt = F.when(
        (F.col("doc_num") * JPEG_FMT_MULT + F.col("offset"))
        % JPEG_FMT_MOD == 0, F.lit("jpeg")).otherwise(F.lit("png"))
    scenario = F.element_at(
        F.array(*[F.lit(s) for s in SCENARIOS]),
        ((F.col("doc_num") * SCENARIO_MULT + F.col("offset"))
         % len(SCENARIOS)).cast("int") + 1,
    )
    return fs.select(
        "media_ref", fmt.alias("fmt"), scenario.alias("scenario"),
        F.lower(F.col("chunk")).alias("truth_text"),
    )
