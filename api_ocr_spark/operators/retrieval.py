"""Inverted-index BM25 retrieval — top-k documents per query over the
corpus postings list (Robertson & Spärck Jones probabilistic relevance
framework; the Okapi BM25 form of Robertson et al., TREC-3 1994).

The reference has no retrieval layer (per-request OCR service); this
extends the training-data tier: BM25 retrieval over the curated corpus is
the standard tool for targeted-quality audits ("which documents would an
eval question retrieve?"), hard-negative mining, and retrieval-augmented
pretraining mixtures.

Oracle-exactness note (same discipline as keywords.tfidf_top_terms): the
classic BM25 uses ln-idf and floating division whose libm/last-ulp and
sum-order behavior differ across engines. Here every per-term score is an
ALL-INTEGER two-stage floor division, exact and identical in Spark
(`DIV`) and DuckDB (`//`), and the per-query score is a sum of integers
(order-free). With k1 = 6/5 and b = 3/4 (the standard 1.2/0.75 as exact
rationals), multiplying the tf-saturation fraction through by
10 * total_len * N clears all denominators:

    s1    = (22 * tf * total_len * SCALE)
            DIV (10 * tf * total_len + 3 * total_len + 9 * dl * N)
    score = (s1 * (2N - 2df + 1)) DIV (2df + 1)

s1 is the saturation term tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)) scaled
by SCALE = 10^6; the second stage multiplies the Robertson idf argument
(N - df + 1/2)/(df + 1/2) as the exact rational (2N-2df+1)/(2df+1). All
quantities are positive so floor == truncate in both engines. Ranking is
the floor-quantized BM25 ranking (quantization step 1e-6 of the
saturation term — documented deviation from the real-valued form).

int64 bounds: the largest intermediate is 22 * tf * total_len * SCALE.
With tf <= dl <= 10^4 and corpus total_len <= 4 * 10^7 tokens this is
<= 8.8e18 < 2^63; the test-SF corpora are ~1e5-5e6 tokens. At true
100 TB scale (total_len ~ 1e13) the integer form overflows — the
documented swap is double-precision BM25 with ln-idf (identical plan
shape; the oracle entry would downgrade to rank-agreement rather than
value-hash, exactly like rarity_buckets' KenLM note).

Query-side convention: queries are treated as term SETS (duplicate query
terms score once — the common k3->inf simplification with qtf capped
at 1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import tokens
from .keywords import doc_term_freqs

SCALE = 1_000_000


def bm25_topk(documents: DataFrame, queries: DataFrame,
              k: int = 10) -> DataFrame:
    """Top-k documents per query by integer-floor BM25 (module docstring).

    Output: (query_id, doc_id, score, n_terms_hit, rank) — rank is dense
    in (score desc, doc_id asc), tie-free total order.

    Shape at 100 TB: postings (doc,term,tf,doc_len) are ONE term-keyed
    shuffle with map-side partials (shared doc_term_freqs frame); df is
    derived FROM that frame (the rows are already distinct per (doc,term),
    so count(*) is the document frequency); the query-term set is tiny and
    BROADCAST to meet the postings map-side — the corpus never shuffles to
    meet the queries; the per-(query,doc) sum is one aggregate keyed by
    (query_id, doc_id); rank<=k plans as partial+final WindowGroupLimit so
    each map task forwards at most k rows per query. N and total_len are
    two driver-side scalars (no row collect)."""
    tf = doc_term_freqs(documents)
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))

    stats = documents.select(
        F.count("*").alias("n"),
        F.sum(F.size(tokens(F.col("text")))).alias("total_len"),
    ).collect()[0]
    n_docs, total_len = int(stats["n"]), int(stats["total_len"])

    qterms = queries.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.explode(F.array_distinct(tokens(F.col("query_text")))).alias("term"),
    )

    s1 = F.expr(
        f"(22 * tf * {total_len}L * {SCALE}L) DIV "
        f"(10 * tf * {total_len}L + 3 * {total_len}L + 9 * doc_len * {n_docs}L)"
    )
    per_term = (
        tf.join(F.broadcast(qterms), "term")
        .join(dfreq, "term")
        .select(
            "query_id", "doc_id",
            (s1 * (F.lit(2 * n_docs) - 2 * F.col("df") + 1))
            .cast("long").alias("_num"),
            (2 * F.col("df") + 1).cast("long").alias("_den"),
        )
        .select(
            "query_id", "doc_id",
            F.expr("_num DIV _den").alias("term_score"),
        )
    )
    scored = (
        per_term.groupBy("query_id", "doc_id")
        .agg(F.sum("term_score").alias("score"),
             F.count("*").alias("n_terms_hit"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id",
                F.col("score").cast("long").alias("score"),
                F.col("n_terms_hit").cast("long").alias("n_terms_hit"),
                F.col("rank").cast("int").alias("rank"))
    )


def phrase_match(documents: DataFrame, phrases: DataFrame) -> DataFrame:
    """Exact positional phrase retrieval over the inverted index — the
    classic proximity operator (Manning, Raghavan & Schütze, IR ch. 2:
    positional postings): a phrase of length L matches document d at
    position `start` iff token(start+o) = phrase[o] for every offset
    o < L. `phrases` is (phrase_id, phrase), whitespace-tokenized by the
    corpus tokens() rule.

    Algorithm: explode phrases into a (term, offset, L) relation —
    query-sized, BROADCAST — and meet the positional postings on the term
    key MAP-SIDE (the corpus never shuffles to meet the query set, the
    decontaminate shape); each hit proposes anchor start = pos − offset,
    and a full match is count(DISTINCT offset) = L per
    (doc, phrase, start) — one shuffle with map-side partials, grouped on
    the match key. Repeated terms inside a phrase are handled by the
    distinct-offset count (each offset must be witnessed at its own
    position). Returns (doc_id, phrase_id, phrase, start) per match.
    """
    toks = tokens(F.col("text"))
    postings = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode(toks).alias("pos", "term"),
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "term")
    pt = tokens(F.col("phrase"))
    pterms = phrases.select(
        F.col("phrase_id").cast("long").alias("phrase_id"), "phrase",
        F.size(pt).cast("long").alias("n_terms"),
        F.posexplode(pt).alias("o", "term"),
    ).select("phrase_id", "phrase", "n_terms",
             F.col("o").cast("long").alias("o"), "term")
    hits = postings.join(F.broadcast(pterms), "term").select(
        "doc_id", "phrase_id", "phrase", "n_terms",
        (F.col("pos") - F.col("o")).alias("start"), "o",
    ).where(F.col("start") >= 0)
    return (
        hits.groupBy("doc_id", "phrase_id", "phrase", "n_terms", "start")
        .agg(F.countDistinct("o").alias("n_hit"))
        .where(F.col("n_hit") == F.col("n_terms"))
        .select("doc_id", "phrase_id", "phrase",
                F.col("start").cast("long").alias("start"))
    )
