"""Corpus keyword / vocabulary operators — TF-IDF top terms per document
and global top-K vocabulary. All JVM-side Catalyst.

The reference has no corpus-statistics layer (per-request service); these
extend the training-data tier: vocabulary tables feed tokenizer training,
per-doc salient terms feed topic balancing / cluster labeling.

Oracle-exactness note: the classic idf = ln(N/df) is NOT used — libm's ln
can differ in the last ulp between the JVM and DuckDB, which a value-hash
compare would catch. The score here is the exact-rational form
(tf / doc_len) * (N / df): integer-to-double division and one
multiplication are correctly-rounded IEEE ops, bit-identical in both
engines. Rank order is identical to the ln form for fixed N (both
monotone in tf/doc_len * N/df), so the top-k set is the same documents'
top-k — only the reported score scale differs (pinned deviation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import tokens
from .dedup import _fan_out


def doc_term_freqs(documents: DataFrame) -> DataFrame:
    """(doc_id, term, tf, doc_len): per-document term counts. doc_len is
    computed BEFORE the explode (size of the token array — one cheap
    expression) and carried through the aggregate as first(), avoiding a
    second pass or a self-join. One shuffle with map-side partial agg."""
    t = tokens(F.col("text"))
    return (
        _fan_out(documents)
        .select(F.col("doc_id").cast("long").alias("doc_id"),
                F.size(t).cast("long").alias("doc_len"),
                F.explode(t).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"), F.first("doc_len").alias("doc_len"))
    )


def tfidf_top_terms(documents: DataFrame, k: int = 5) -> DataFrame:
    """Top-k salient terms per document by exact-rational TF-IDF (module
    docstring): score = (tf / doc_len) * (N / df), ranked (score desc,
    term asc — total order, tie-free).

    Shape at 100 TB: doc-term counts (one shuffle, partial agg), document
    frequencies derived FROM that frame (groupBy term — the (doc,term)
    rows are already distinct so count(*) IS the df), equi-join tf x df on
    term (AQE skew-splittable; stopword terms are the hot keys), then
    rank<=k per doc plans as partial+final WindowGroupLimit — each map
    task forwards at most k rows per doc. N is one driver-side count
    (a scalar, not a collect of rows)."""
    tf = doc_term_freqs(documents)
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = documents.count()
    scored = tf.join(dfreq, "term").select(
        "doc_id", "term", "tf", "df",
        ((F.col("tf") / F.col("doc_len"))
         * (F.lit(n_docs) / F.col("df"))).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("doc_id", "term", F.col("tf").cast("long").alias("tf"),
                F.col("df").cast("long").alias("df"), "score", "rank")
    )


def vocab_topk(documents: DataFrame, k: int = 100) -> DataFrame:
    """Global top-K vocabulary by corpus term count (count desc, term asc —
    deterministic under ties), with document frequency. The sort+limit
    plans as TakeOrderedAndProject: each partition keeps its local top-K and
    only K rows per partition reach the driver-side merge — the global
    sort never materializes (plan-asserted). Feeds tokenizer training /
    stopword induction."""
    t = tokens(F.col("text"))
    counts = (
        _fan_out(documents)
        .select(F.col("doc_id").cast("long").alias("doc_id"),
                F.explode(t).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("n_occurrences"),
             F.countDistinct("doc_id").cast("long").alias("n_docs"))
    )
    return (counts
            .orderBy(F.col("n_occurrences").desc(), "term")
            .limit(k))


def rarity_buckets(documents: DataFrame) -> DataFrame:
    """CCNet-style head/middle/tail corpus split by language-model fit
    (Wenzek et al. 2020 §4.3 bucket documents by KenLM perplexity into
    corpus thirds). No KenLM exists in this container, so the fit signal
    is an INTEGER unigram-surprisal surrogate — per token occurrence,
        surprisal(term) = total_token_occurrences DIV corpus_count(term)
    (floored inverse unigram probability; monotone in -log p, and exact
    integer arithmetic, so the DuckDB oracle is an equality check — a
    KenLM swap-in would downgrade the oracle to rows-only and is the
    documented production upgrade). Per document:
        rarity_sum  = Σ surprisal(token)
        mean_rarity = rarity_sum DIV n_tokens
    and the bucket is the CCNet corpus third by mean_rarity (head =
    most-common language), via the same histogram rule as
    tiering.tier_extract: on the DISTINCT mean_rarity frame,
        head   iff 3 * c_before < N
        middle iff 3 * c_before < 2N
        tail   otherwise
    with c_before = #docs with SMALLER mean_rarity (ascending — low
    rarity = good LM fit). Ties share a bucket.

    Shape at 100 TB: token census is one term-keyed shuffle with map-side
    partials; tokens meet their counts through a term equi-join (stopwords
    are the hot keys — AQE skew-split, or salt the census, both
    documented); per-doc sum is a doc_id groupBy; the bucket table lives
    on the distinct-mean frame (small, broadcast). Totals are two scalar
    driver counts, never row collects."""
    toks = _fan_out(documents).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(tokens(F.col("text"))).alias("term"),
    )
    vocab = toks.groupBy("term").agg(F.count("*").alias("cnt"))
    total = toks.count()
    per_doc = (
        toks.join(vocab, "term")
        .select("doc_id",
                F.expr(f"CAST({total} AS BIGINT) DIV cnt").alias("s"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_tokens"),
             F.sum("s").cast("long").alias("rarity_sum"))
        .select("doc_id", "n_tokens", "rarity_sum",
                F.expr("rarity_sum DIV n_tokens").alias("mean_rarity"))
    )
    n_docs = documents.count()
    counts = per_doc.groupBy("mean_rarity").agg(F.count("*").alias("n"))
    w_cum = (Window.orderBy("mean_rarity")
             .rowsBetween(Window.unboundedPreceding, -1))
    buckets = counts.select(
        "mean_rarity",
        F.coalesce(F.sum("n").over(w_cum), F.lit(0)).alias("c_before"),
    ).select(
        "mean_rarity",
        F.when(3 * F.col("c_before") < n_docs, "head")
        .when(3 * F.col("c_before") < 2 * n_docs, "middle")
        .otherwise("tail").alias("bucket"),
    )
    return per_doc.join(F.broadcast(buckets), "mean_rarity").select(
        "doc_id", "n_tokens", "rarity_sum", "mean_rarity", "bucket")


def collocations_topk(documents: DataFrame, k: int = 100) -> DataFrame:
    """Top-K bigram collocations by PMI (Church & Hanks 1990) — the phrase
    mining step before tokenizer/vocab induction merges multiwords. Score
    is the exact-rational PMI argument
        score = (bigram_count * total_tokens) / (count(w1) * count(w2))
    (= p(ab)/(p(a)p(b)); ln of it is PMI — same ranking, and the ln-free
    form is bit-identical across engines: integer products are exact and
    the single divide is correctly rounded, the tfidf_top_terms argument).
    Bigrams seen fewer than 3 times are dropped (PMI's classic low-count
    instability). Total order: (score desc, bigram asc).

    Shape at 100 TB: bigram census + unigram census are term-keyed
    shuffles with map-side partials; the two unigram meets are equi-joins
    (AQE skew-splittable); sort+limit plans as TakeOrderedAndProject —
    the global sort never materializes."""
    from ..functions.text import token_ngrams, tokens

    base = _fan_out(documents).select(tokens(F.col("text")).alias("ts"))
    uni = (base.select(F.explode("ts").alias("w"))
           .groupBy("w").agg(F.count("*").alias("c")))
    total = base.select(F.sum(F.size("ts"))).collect()[0][0]
    bi = (base.select(F.explode(token_ngrams(F.col("ts"), 2)).alias("bigram"))
          .groupBy("bigram").agg(F.count("*").alias("c_ab"))
          .filter(F.col("c_ab") >= 3))
    parts = bi.select(
        "bigram", "c_ab",
        F.split("bigram", " ")[0].alias("w1"),
        F.split("bigram", " ")[1].alias("w2"),
    )
    scored = (
        parts
        .join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")),
              "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")),
              "w2")
        .select(
            "bigram", F.col("c_ab").cast("long").alias("c_ab"),
            F.col("c1").cast("long").alias("c1"),
            F.col("c2").cast("long").alias("c2"),
            ((F.col("c_ab") * F.lit(int(total)))
             / (F.col("c1") * F.col("c2"))).alias("score"),
        )
    )
    return scored.orderBy(F.col("score").desc(), "bigram").limit(k)


def bigram_lm_score(documents: DataFrame) -> DataFrame:
    """Bigram language-model likelihood ledger — the sequence-model
    upgrade of rarity_buckets' unigram surrogate (CCNet's actual quality
    signal is a KenLM n-gram LM, Wenzek et al. 2020 §4.3; no KenLM exists
    in this container, so the model is a corpus-fit add-one-smoothed
    bigram LM in EXACT integer arithmetic — a KenLM swap-in is the
    documented production upgrade and would downgrade the oracle to
    rows-only). Per bigram occurrence (w1, w2):

        milli(w1,w2) = (1000000 * (c(w1,w2) + 1)) DIV (c(w1,·) + V)

    a floored scaled conditional probability P(w2|w1) with add-one
    smoothing over the vocabulary V — integer-exact in both engines, and
    monotone in the true smoothed likelihood per bigram. Per document:
    n_bigrams, lm_sum = Σ milli, lm_mean_milli = lm_sum DIV n_bigrams
    (predictable/common text scores high, rare or garbled text low).
    Docs with fewer than two tokens get an explicit zero row.

    Shape at 100 TB: the bigram census is ONE corpus shuffle with
    map-side partials; the prefix census c(w1,·) and the per-bigram milli
    table both derive from the census frame (vocab-sized work, never a
    second corpus pass); scoring joins corpus bigrams to the milli table
    on the gram string (stopword grams are the hot keys — AQE skew-split
    covers it, salting the census is the documented fallback); the
    per-doc sum is one doc_id-keyed groupBy. V is a single scalar
    distinct-count (a corpus constant entering the arithmetic, so the
    HyperLogLog approximation is NOT an admissible swap)."""
    base = _fan_out(documents).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        tokens(F.col("text")).alias("ts"),
    )
    from ..functions.text import token_ngrams

    bg = base.select(
        "doc_id", F.explode(token_ngrams(F.col("ts"), 2)).alias("bigram"))
    bc = bg.groupBy("bigram").agg(F.count("*").alias("c_big"))
    pc = (bc.select(F.substring_index("bigram", " ", 1).alias("w1"), "c_big")
          .groupBy("w1").agg(F.sum("c_big").alias("c_pre")))
    vocab_size = base.select(F.explode("ts").alias("t")).distinct().count()
    milli = (
        bc.withColumn("w1", F.substring_index("bigram", " ", 1))
        .join(pc, "w1")
        .select("bigram", F.expr(
            "(CAST(1000000 AS BIGINT) * (c_big + 1))"
            f" DIV (c_pre + CAST({int(vocab_size)} AS BIGINT))").alias("m"))
    )
    per_doc = (
        bg.join(milli, "bigram")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_bigrams"),
             F.sum("m").cast("long").alias("lm_sum"))
    )
    return (
        documents.select(F.col("doc_id").cast("long").alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("lm_sum", F.lit(0)).cast("long").alias("lm_sum"),
            F.when(F.coalesce("n_bigrams", F.lit(0)) > 0,
                   F.expr("lm_sum DIV n_bigrams"))
            .otherwise(F.lit(0)).cast("long").alias("lm_mean_milli"),
        )
    )
