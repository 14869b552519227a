"""BPE tokenizer training over the word census (Sennrich, Haddow & Birch,
ACL 2016 — "Neural Machine Translation of Rare Words with Subword Units").

The reference service (/root/reference — a per-request OCR API) has no
tokenizer layer; this operator extends the training-data tier this engine
targets: learning the subword vocabulary is the step between corpus
curation and model training, and the classic learner runs exactly here —
over the word census, never over raw corpus tokens.

Algorithm (the paper's, distributed):
  1. word census: one corpus shuffle on the word key with map-side partial
     counts (the only pass over corpus tokens — all later rounds work on
     the census frame, whose size is the DISTINCT vocabulary).
  2. each word starts as its character sequence plus a terminal '</w>'
     marker (the paper's end-of-word symbol, so merges cannot cross word
     boundaries).
  3. repeat n_merges times: count adjacent symbol pairs weighted by word
     count (one census-sized shuffle), take the most frequent pair
     (count desc, then (lhs, rhs) asc — pinned deterministic tie-break),
     and rewrite every word's symbol sequence with the pair merged
     greedily left-to-right (the paper's scan order: in a run of a
     self-adjacent pair like 'a a a', positions (1,2) merge and 3
     survives).

The greedy rewrite is an O(len) fold per DISTINCT word (F.aggregate).
That is deliberate and allowed here despite the repo rule against
interpreted-HOF hot paths: the fold runs on the census frame (vocabulary
cardinality), not per corpus token — the corpus is touched once, by the
codegen'd census aggregation. At 10^12 documents the vocabulary is
millions of rows while the corpus is trillions; the census IS the scale
firewall (same argument as dedup.substring_dedup's gram census).

Scale shape per round: ONE shuffle (pair census with map-side partials) +
a 1-row collect — the merge table is K rows on the driver by
construction, exactly like similarity.ivf_assign's centroid collects.
Round frames are localCheckpointed (vocab-sized; blocks reclaimed by the
ContextCleaner under the session's periodic-GC config).

The DuckDB oracle in __spark_entry__ replays learning end-to-end with the
K rounds unrolled as chained CTEs; the greedy rewrite maps to DuckDB's
reduce() over singleton lists, whose leftmost-non-overlapping semantics
are pinned equal to the Spark fold by tests/test_bpe.py (self-pair runs
included).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens
from .dedup import _fan_out

END_OF_WORD = "</w>"

_PAIR_T = "array<struct<lhs:string,rhs:string>>"


def word_census(documents: DataFrame) -> DataFrame:
    """(word, cnt) over the corpus — the single pass over corpus tokens."""
    return (
        _fan_out(documents)
        .select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def init_symbols(word: Column) -> Column:
    """Character sequence + terminal end-of-word marker."""
    return F.concat(F.split(word, ""), F.array(F.lit(END_OF_WORD)))


def merge_pair(symbols: Column, lhs: str, rhs: str, merged: str) -> Column:
    """Greedy left-to-right rewrite of one merge rule over a symbol array.

    Fold: seed with the first symbol, then for each next symbol either
    fuse it onto the accumulator tail (tail == lhs and symbol == rhs) or
    append it. A fused tail is the `merged` token and cannot fuse again
    in the same round — the paper's non-overlapping scan."""
    first = F.slice(symbols, 1, 1)
    rest = F.slice(symbols, 2, F.greatest(F.size(symbols) - 1, F.lit(0)))
    return F.aggregate(
        rest,
        first,
        lambda acc, s: F.when(
            (F.element_at(acc, -1) == F.lit(lhs)) & (s == F.lit(rhs)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1),
                     F.array(F.lit(merged))),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def adjacent_pairs(symbols: Column) -> Column:
    """array<struct<lhs,rhs>> of adjacent symbol pairs (empty if < 2)."""
    n = F.size(symbols)
    return F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.struct(
                F.element_at(symbols, i).alias("lhs"),
                F.element_at(symbols, i + 1).alias("rhs"),
            ),
        ),
    ).otherwise(F.array().cast(_PAIR_T))


def bpe_learn(documents: DataFrame,
              n_merges: int = 6) -> tuple[list[tuple], DataFrame]:
    """Learn `n_merges` BPE rules. Returns (merges, vocab):
    merges = [(lhs, rhs, merged, pair_count), ...] in learning order;
    vocab = (word, cnt, symbols) with all rules applied.

    Each round applies ONE fold over the previous round's
    localCheckpointed vocab frame (constant expression depth). The first
    cut of this operator re-derived the whole fold chain from the census
    every round — semantically identical, but the Catalyst expression
    tree grew with the round number and DRIVER planning/codegen time
    came to dominate wall clock (14 s at sf0.1 for six rounds); per-round
    checkpointing of the vocab-sized frame makes planning O(1) per round
    (the pagerank_int lineage-cut lesson applied to expressions)."""
    vocab = word_census(documents).select(
        "word", "cnt", init_symbols(F.col("word")).alias("symbols"),
    ).localCheckpoint(eager=True)
    merges: list[tuple] = []
    for _ in range(n_merges):
        best = (
            vocab.select(
                "cnt",
                F.explode(adjacent_pairs(F.col("symbols"))).alias("p"))
            .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
            .agg(F.sum("cnt").cast("long").alias("pair_count"))
            .orderBy(F.col("pair_count").desc(), "lhs", "rhs")
            .limit(1)
            .collect()
        )
        if not best:  # degenerate corpus: nothing left to merge
            break
        b = best[0]
        merges.append((b.lhs, b.rhs, b.lhs + b.rhs, b.pair_count))
        vocab = vocab.select(
            "word", "cnt",
            merge_pair(F.col("symbols"), b.lhs, b.rhs, b.lhs + b.rhs)
            .alias("symbols"),
        ).localCheckpoint(eager=True)
    return merges, vocab


def merge_table(spark: SparkSession, documents: DataFrame,
                n_merges: int = 6) -> DataFrame:
    """The learned merge rules as a frame:
    (merge_rank, lhs, rhs, merged, pair_count)."""
    merges, _ = bpe_learn(documents, n_merges)
    return spark.createDataFrame(
        [(i + 1, l, r, m, c) for i, (l, r, m, c) in enumerate(merges)],
        "merge_rank long, lhs string, rhs string, merged string, "
        "pair_count long",
    )


def subword_census(documents: DataFrame, n_merges: int = 6,
                   k: int = 40) -> DataFrame:
    """Corpus subword-token census after the learned merges: top-k tokens
    by total occurrences (count desc, token asc). Token counts come from
    the vocab frame weighted by word count — again no second corpus pass.
    sort+limit plans as TakeOrderedAndProject."""
    _, vocab = bpe_learn(documents, n_merges)
    return (
        vocab.select(F.explode("symbols").alias("token"), "cnt")
        .groupBy("token")
        .agg(F.sum("cnt").cast("long").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "token")
        .limit(k)
    )
