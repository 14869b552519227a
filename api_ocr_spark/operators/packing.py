"""Cross-document sequence packing — concatenate the corpus in a global
deterministic order and slice it into fixed-length training sequences
(the GPT-2 / LLaMA pretraining data layout: documents are concatenated
with no padding and cut at the context length; a document may span two or
more sequences, a sequence usually holds several documents).

The reference is a per-request service; this extends the training-data
tier with the last step before the tokenizer hand-off: the packing
MANIFEST (seq_id, doc_id, doc_tok_start, doc_tok_end, seq_tok_start)
from which the trainer's loader slices token arrays. Complements
functions/text.chunk_pack (per-document chunking); this operator is the
cross-document layout.

The core is a DISTRIBUTED EXCLUSIVE PREFIX SUM over per-document token
counts in doc_id order, done two-level so no corpus-sized frame ever
passes through a single partition:

  1. per-doc lengths (zero-shuffle map),
  2. per-block sums, block = doc_id DIV block_size (one tiny shuffle
     with map-side partials; DIV is monotone so block order == doc order),
  3. exclusive block offsets via a window over the BLOCK frame — that
     frame is n_docs / block_size rows; at 10^12 docs recurse the same
     two steps once more (constant log_B depth, noted, not needed at
     test SF),
  4. within-block exclusive prefix via a window PARTITIONED BY block
     (balanced, one exchange),
  5. global start S = block offset + within-block offset; the (seq, doc)
     overlap rows follow arithmetically: doc d covers global tokens
     [S, S+L), sequence k covers [k*cap, (k+1)*cap), so d meets exactly
     k in [S DIV cap, (S+L-1) DIV cap] — an explode of that tiny range,
     map-side.

Everything is int64 arithmetic on counts — exact and engine-identical;
no token payload moves at all (the manifest is slices, not text)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import tokens


def pack_sequences(documents: DataFrame, cap: int = 2048,
                   block_size: int = 4096) -> DataFrame:
    """Packing manifest (module docstring): one row per (sequence,
    document) overlap, columns (seq_id, doc_id, doc_tok_start,
    doc_tok_end, seq_tok_start, n_toks); tok ranges are [start, end)
    in the document's own token numbering, seq_tok_start is where the
    slice lands inside the sequence. Empty documents are skipped (they
    occupy no tokens). The final ragged tail sequence is emitted as-is
    (trainers drop or pad it; the manifest stays exact)."""
    t = F.col("text")
    # split('') yields [''] (size 1) in Spark and DuckDB alike — count
    # whitespace-only documents as 0 tokens explicitly
    n_tokens = (F.when(F.trim(t) == "", F.lit(0))
                .otherwise(F.size(tokens(t))))
    lens = (
        documents.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            n_tokens.cast("long").alias("n"),
        )
        .filter(F.col("n") > 0)
        .withColumn("blk", F.expr(f"doc_id DIV {block_size}"))
    )
    blk = lens.groupBy("blk").agg(F.sum("n").alias("blk_n"))
    w_blocks = (Window.orderBy("blk")
                .rowsBetween(Window.unboundedPreceding, -1))
    blk_off = blk.select(
        "blk",
        F.coalesce(F.sum("blk_n").over(w_blocks), F.lit(0)).alias("boff"))
    w_in = (Window.partitionBy("blk").orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1))
    started = (
        lens.withColumn("woff", F.coalesce(F.sum("n").over(w_in), F.lit(0)))
        .join(F.broadcast(blk_off), "blk")
        .select("doc_id", "n",
                (F.col("boff") + F.col("woff")).alias("s"))
    )
    ks = started.select(
        "doc_id", "n", "s",
        F.explode(F.sequence(
            F.expr(f"s DIV {cap}"),
            F.expr(f"(s + n - 1) DIV {cap}"))).alias("seq_id"),
    )
    lo = F.greatest(F.col("s"), F.col("seq_id") * cap)
    hi = F.least(F.col("s") + F.col("n"), (F.col("seq_id") + 1) * cap)
    return ks.select(
        F.col("seq_id").cast("long").alias("seq_id"),
        "doc_id",
        (lo - F.col("s")).cast("long").alias("doc_tok_start"),
        (hi - F.col("s")).cast("long").alias("doc_tok_end"),
        (lo - F.col("seq_id") * cap).cast("long").alias("seq_tok_start"),
        (hi - lo).cast("long").alias("n_toks"),
    )
