"""Lexicon-based topic / domain tagging — assign each document the
highest-scoring topic from a small (topic, term) lexicon.

The reference has no corpus layer; this extends the training-data tier:
domain tags drive pretraining mixture balancing (DoReMi, Xie et al. 2023
arXiv:2305.10429 samples by domain weight; The Pile / Dolma publish
per-domain proportions) and per-domain quality audits. A keyword lexicon
is the classic zero-model baseline tagger — the swap-in for a trained
classifier keeps the identical plan shape (the lexicon join becomes a
model scoring stage).

Shape at 100 TB: the lexicon is tiny and BROADCAST — the corpus never
shuffles to meet it; token explode meets it map-side, per-(doc,topic)
counts are one doc-keyed shuffle with map-side partials, and the per-doc
argmax (score desc, topic asc) plans as partial+final WindowGroupLimit.
Untagged docs are recovered with a LEFT join from the id frame (a
doc-keyed equi-join, same key as the census — no extra exchange under
AQE-reused partitioning)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import tokens
from .dedup import _fan_out


def topic_tag(documents: DataFrame, lexicon: DataFrame) -> DataFrame:
    """(doc_id, topic, n_hits): per-document winning topic by total
    lexicon-term occurrences (every occurrence counts — standard lexicon
    scoring), tie-break topic asc; docs hitting no lexicon term get
    ('none', 0). Lexicon rows are (topic, term), terms in the same
    normalized space as functions.text.tokens."""
    base = _fan_out(documents).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(tokens(F.col("text"))).alias("term"),
    )
    hits = (
        base.join(F.broadcast(lexicon.select("topic", "term")), "term")
        .groupBy("doc_id", "topic")
        .agg(F.count("*").alias("n_hits"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("n_hits").desc(), F.col("topic").asc())
    best = (hits.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).drop("rn"))
    ids = documents.select(F.col("doc_id").cast("long").alias("doc_id"))
    return ids.join(best, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("topic"), F.lit("none")).alias("topic"),
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
    )
