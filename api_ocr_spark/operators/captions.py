"""Image-caption pair mining over interleaved documents (LAION-style
multimodal training-pair extraction, Schuhmann et al. 2021 shape).

For every media span the engine OCRs the stored image bytes (the repo's
real decode -> preprocess -> glyph-OCR stage) and scores the two adjacent
TEXT spans of the same document as caption candidates by token-set
Jaccard between the OCR output and the candidate text; the best candidate
wins. This is the standard alt-text/caption alignment step of a web-scale
image-text corpus build, grounded here in the interleaved spans model
(BASELINE.json input_hint) instead of HTML alt attributes.

Exactness contract (what makes this oracle-checkable):
- the OCR stage is the engine's deterministic pipeline, and its output for
  the synthesized media store equals lower(norm(chunk)) — the invariant the
  green ocr_* roundtrip oracles already pin;
- the score is kept as an EXACT integer pair (n_common, n_union) over
  distinct non-empty tokens; the ranking key is floor(n_common * 10000 /
  n_union). Distinct fractions with denominator <= 16 (union of two
  <=8-word chunks) differ by >= 1/240 > 1/10000, so the scaled-integer
  order is provably identical to the true rational order — no IEEE
  division crosses an engine boundary;
- ties rank by caption offset ascending (the preceding span wins).

Scale shape (100 TB): candidate discovery is lag/lead over a window keyed
by doc_id — the spans table's natural partitioning, one exchange; OCR is
the engine's one span stage (pipeline.ocr_spans, xxhash64(doc_id, offset)
spread); scoring joins candidates to OCR output on media_ref and the final
argmax window runs on that same key, so Catalyst plans join -> window
without an extra exchange. Media spans are never
adjacent under the synthesis rule ((d+o)%3==0 forbids neighbors), but the
kind=='text' guard keeps the operator correct for arbitrary interleaves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources.interleave import flat_spans
from .pipeline import _norm, ocr_spans

# Perfect discriminator for rationals with denominator <= MAX_UNION (=16):
# min gap between distinct such fractions is 1/(16*15) = 1/240 > 1/10000.
SCORE_SCALE = 10_000


def _tokens(col):
    """Distinct non-empty tokens of a whitespace-normalized, lowercased
    string — the exact twin of the oracle's list_distinct(list_filter(
    string_split(...)))."""
    return F.array_distinct(
        F.filter(F.split(F.lower(_norm(col)), " "), lambda t: t != "")
    )


def caption_pairs(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, media_ref, caption_offset, caption,
    score_num, score_den): the best-aligned adjacent text span per media
    span, scored by exact token-Jaccard against the real OCR output of the
    basico mode."""
    fs = flat_spans(docs)
    w = Window.partitionBy("doc_id").orderBy("offset")
    neighbored = fs.select(
        "doc_id",
        "doc_num",
        "offset",
        "kind",
        "chunk",
        "media_ref",
        F.lag("kind").over(w).alias("prev_kind"),
        F.lag("chunk").over(w).alias("prev_chunk"),
        F.lag("offset").over(w).alias("prev_offset"),
        F.lead("kind").over(w).alias("next_kind"),
        F.lead("chunk").over(w).alias("next_chunk"),
        F.lead("offset").over(w).alias("next_offset"),
    ).where(F.col("kind") == "media")
    cand_struct = "struct<cap_offset:int,cap_text:string>"
    candidates = (
        neighbored.select(
            "doc_id",
            "offset",
            "media_ref",
            F.array_compact(
                F.array(
                    F.when(
                        F.col("prev_kind") == "text",
                        F.struct(
                            F.col("prev_offset").cast("int").alias("cap_offset"),
                            F.col("prev_chunk").alias("cap_text"),
                        ),
                    ).cast(cand_struct),
                    F.when(
                        F.col("next_kind") == "text",
                        F.struct(
                            F.col("next_offset").cast("int").alias("cap_offset"),
                            F.col("next_chunk").alias("cap_text"),
                        ),
                    ).cast(cand_struct),
                )
            ).alias("cands"),
        )
        .where(F.size("cands") > 0)
        .select(
            "doc_id",
            "offset",
            "media_ref",
            F.explode("cands").alias("c"),
        )
        .select(
            "doc_id",
            "offset",
            "media_ref",
            F.col("c.cap_offset").alias("caption_offset"),
            F.lower(_norm(F.col("c.cap_text"))).alias("caption"),
        )
    )
    # one OCR row per media span via the FUSED render→encode→decode→OCR
    # span stage (pipeline.ocr_spans over synthesized payloads):
    # byte-identical to building the media store and joining it back (same
    # encode_media bytes feed the same decoder), but the synthesized
    # PNG/JPEG payloads live and die inside one Python worker instead of
    # crossing the media join's two byte-carrying exchanges (guide §8:
    # don't shuffle heavy payloads to make light decisions).
    media_rows = neighbored.select("doc_id", "doc_num", "offset", "kind", "chunk", "media_ref")
    ocr = ocr_spans(media_rows, "basico").select(
        "media_ref", _tokens(F.col("text")).alias("ocr_tokens"))

    scored = (
        candidates.join(ocr, "media_ref")
        .withColumn("cap_tokens", _tokens(F.col("caption")))
        .select(
            "doc_id",
            "media_ref",
            "caption_offset",
            "caption",
            F.size(F.array_intersect("ocr_tokens", "cap_tokens"))
            .cast("long")
            .alias("score_num"),
            F.size(F.array_union("ocr_tokens", "cap_tokens"))
            .cast("long")
            .alias("score_den"),
        )
        .withColumn(
            "scaled",
            # exact integer division (DIV) — a double divide + truncate can
            # land one below the true floor when num*SCALE/den is integral
            F.when(
                F.col("score_den") > 0,
                F.expr(f"(score_num * {SCORE_SCALE}) DIV score_den"),
            ).otherwise(F.lit(0).cast("long")),
        )
    )
    pick = Window.partitionBy("media_ref").orderBy(
        F.col("scaled").desc(), F.col("caption_offset").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(pick))
        .where(F.col("rn") == 1)
        .select(
            "doc_id",
            "media_ref",
            "caption_offset",
            "caption",
            "score_num",
            "score_den",
        )
    )
