"""Spark-native column expressions — the JVM-side hot path.

Every function here compiles to Catalyst expressions (whole-stage codegen;
no Python in the loop). They re-express the reference's postprocess stage
(/root/reference/ocr/postprocess.py) plus the text-analysis operators a
training-data pipeline needs (token stats, quality, language ID, simhash,
fingerprints). They are the only implementation of the postprocess
extractors; tests evaluate them through Spark (tests/test_ocr.py).

Regex note: patterns use [0-9] (not \\d) and are kept to the common subset of
Java/RE2/DuckDB syntax so the DuckDB oracle SQL in __spark_entry__ can use
the textually identical pattern.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# am/pm suffix — the reference's optional-dot alternation a\.?m\.? verbatim
# (/root/reference/ocr/postprocess.py:47; the final \.? backs off so the
# trailing \b can land on 'm', i.e. '9:00 a.m.' captures as '9:00 a.m').
# The whole suffix group sits INSIDE the optional (the reference puts \s*
# outside it, which captures a trailing space when a bare time precedes a
# word — pinned deviation, SURVEY.md §5.2.5); (?i:...) reproduces the
# reference's re.IGNORECASE and parses identically in Java regex and RE2
TIME_PATTERN = r"\b[0-9]{1,2}:[0-9]{2}(?:\s*(?i:a\.?m\.?|p\.?m\.?))?\b"
TIME_RANGE_PATTERN = TIME_PATTERN + r"\s*[-–]\s*" + TIME_PATTERN
DATE_PATTERN = "[0-9]{1,2} de [a-z]+ de [0-9]{4}"
# accented + unaccented weekday forms (the reference has only the accented
# Spanish spellings, postprocess.py:64-72; OCR output is often unaccented,
# so both are matched — superset, documented)
WEEKDAYS = ("lunes", "martes", "miercoles", "miércoles", "jueves",
            "viernes", "sabado", "sábado", "domingo")
MATERIALES_PATTERN = r"(?i)deben traer\s*([^\.\n]+)"  # postprocess.py:91-99 verbatim
STOPWORDS = ("the", "a", "de", "la", "el")


def normalize_ws(col: Column) -> Column:
    """clean_text's whitespace semantics (postprocess.py:17-21): collapse all
    whitespace runs to single spaces and trim."""
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def limpiar_texto_ocr_col(col: Column) -> Column:
    """limpiar_texto_ocr (postprocess.py:24-38) as native expressions."""
    c = F.regexp_replace(col, r"\|", " ")
    c = F.regexp_replace(c, r"([0-9]+)[%*]\s*([A-Za-z])", "$1° $2")
    c = F.regexp_replace(c, r"([0-9]+)[%*]", "$1°")
    c = F.regexp_replace(c, r"([0-9]+),([0-9]+)", "$1.$2")
    return normalize_ws(c)


def _sorted_unique_joined(arr: Column) -> Column:
    """sorted-unique (the engine's pinned replacement for the reference's
    order-unstable list(set(...)), SURVEY.md §5.2.5), comma-joined so the
    result is a flat, hash-comparable string."""
    return F.array_join(F.array_sort(F.array_distinct(arr)), ",")


def horarios_str(col: Column) -> Column:
    """extraer_horarios (/root/reference/ocr/postprocess.py:41-56): times —
    with the reference's optional am/pm/a.m./p.m. suffixes — plus time
    ranges, sorted-unique."""
    times = F.regexp_extract_all(col, F.lit(f"({TIME_PATTERN})"), 1)
    ranges = F.regexp_extract_all(col, F.lit(f"({TIME_RANGE_PATTERN})"), 1)
    return _sorted_unique_joined(F.concat(times, ranges))


def dias_str(col: Column) -> Column:
    """extraer_dias (postprocess.py:59-80): weekday mentions (accented and
    unaccented forms) + 'weekday N'."""
    low = F.lower(col)
    plain = F.filter(
        F.array(*[F.when(low.contains(d), F.lit(d)) for d in WEEKDAYS]),
        lambda x: x.isNotNull(),
    )
    alt = "|".join(WEEKDAYS)
    numbered = F.regexp_extract_all(low, F.lit(rf"\b((?:{alt})\s+[0-9]{{1,2}})\b"), 1)
    return _sorted_unique_joined(F.concat(plain, numbered))


def materiales_str(col: Column) -> Column:
    """extraer_materiales (postprocess.py:91-99): the reference regex
    verbatim — capture after 'deben traer' up to the first period or
    newline, split on comma/newline, trim, drop empties; comma-joined in
    match order (the reference returns the list unsorted)."""
    seg = F.regexp_extract(col, MATERIALES_PATTERN, 1)
    items = F.filter(
        F.transform(F.split(seg, r"[,\n]"), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    return F.array_join(items, ",")


def notas_str(col: Column) -> Column:
    """extraer_notas (postprocess.py:102-111): lines mentioning
    'asisten el día' or 'nota' (lowercased test), trimmed, space-joined."""
    lines = F.split(col, "\n")
    hits = F.filter(
        lines,
        lambda ln: F.lower(ln).contains("asisten el día") | F.lower(ln).contains("nota"),
    )
    return F.array_join(F.transform(hits, lambda ln: F.trim(ln)), " ")


def fechas_str(col: Column) -> Column:
    """extraer_fechas (postprocess.py:83-88), lowercase input assumed."""
    return _sorted_unique_joined(
        F.regexp_extract_all(F.lower(col), F.lit(f"({DATE_PATTERN})"), 1)
    )


# ------------------------------------------------------- text analysis ops

def tokens(col: Column) -> Column:
    return F.split(normalize_ws(F.lower(col)), " ")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def distinct_token_ratio(col: Column) -> Column:
    t = tokens(col)
    return F.round(F.size(F.array_distinct(t)) / F.size(t), 6)


def stopword_ratio(col: Column) -> Column:
    t = tokens(col)
    sw = F.size(F.filter(t, lambda x: x.isin(*STOPWORDS)))
    return F.round(sw / F.size(t), 6)


def avg_token_len(col: Column) -> Column:
    t = tokens(col)
    total = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
    return F.round(total / F.size(t), 6)


# GPT-2-style pre-tokenizer, simplified to the Java/RE2/DuckDB-common ASCII
# subset: a piece is an optionally-space-prefixed letter run, digit run, or
# punctuation run (whitespace runs match too and count zero)
PRETOKEN_PATTERN = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +"
CHARS_PER_SUBWORD = 4  # BPE averages ~4 chars/token on English-like text


def subword_count(col: Column) -> Column:
    """BPE-ish subword count: GPT-2-style pre-tokenization into pieces, then
    ceil(len/4) subwords per piece (long words split, as BPE would). Pure
    Catalyst; the DuckDB oracle runs the identical pattern + arithmetic."""
    pieces = F.regexp_extract_all(F.lower(col), F.lit(f"({PRETOKEN_PATTERN})"), 1)
    per_piece = lambda p: F.floor(  # noqa: E731 — ceil(n/4) as (n+3) div 4
        (F.length(F.trim(p)) + F.lit(CHARS_PER_SUBWORD - 1)) / CHARS_PER_SUBWORD
    ).cast("int")
    return F.aggregate(pieces, F.lit(0), lambda acc, p: acc + per_piece(p))


def fingerprint_md5(col: Column) -> Column:
    """Exact-dedup document fingerprint: md5 of the normalized text."""
    return F.md5(normalize_ws(F.lower(col)))


def md5_bucket(col: Column, n: int) -> Column:
    """Deterministic hash bucket in [0, n): the first 8 hex digits of
    md5(col) parsed as an integer, mod n. The engine's reproducible-sampling
    primitive — DuckDB computes the identical value via
    CAST('0x'||substr(md5(x),1,8) AS BIGINT) % n, so sampled subsets are
    oracle-checkable (unlike rand(seed), whose stream is engine-private)."""
    return F.pmod(F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long"), F.lit(n))


def rolling_fingerprint(col: Column) -> Column:
    """Rolling (polynomial) document fingerprint over the token stream:
    h ← (h·31 + md5_28bits(token)) mod (2³¹−1). Order-sensitive (unlike the
    flat md5), so re-ordered near-copies fingerprint differently — the
    Rabin-Karp-style rolling hash a training-data pipeline uses for
    order-aware dedup. Arithmetic stays < 2³⁶, safely inside BIGINT in both
    engines (DuckDB raises on BIGINT overflow; Spark would wrap silently —
    the bound keeps the fold identical)."""
    t = tokens(col)
    tok_h = lambda x: F.conv(F.substring(F.md5(x), 1, 7), 16, 10).cast("long")  # noqa: E731
    return F.aggregate(
        t, F.lit(0).cast("long"),
        lambda acc, x: F.pmod(acc * 31 + tok_h(x), F.lit(2147483647)),
    )


def quality_score(col: Column) -> Column:
    """Composite quality score: length saturation + lexical diversity +
    stopword sanity. Deterministic, SQL-reproducible (integer/ratio algebra).
    """
    t = tokens(col)
    n = F.size(t)
    length_term = F.least(n / F.lit(100.0), F.lit(1.0))
    diversity = F.size(F.array_distinct(t)) / n
    sw = F.size(F.filter(t, lambda x: x.isin(*STOPWORDS))) / n
    sw_sanity = F.lit(1.0) - F.abs(sw - F.lit(0.1))
    return F.round(0.4 * length_term + 0.4 * diversity + 0.2 * sw_sanity, 6)


def lang_guess(col: Column) -> Column:
    """Marker-token language heuristic (n-gram-class langid stand-in):
    argmax over per-language marker counts with deterministic tie-break
    (en > es > other by marker presence)."""
    t = tokens(col)
    en = F.size(F.filter(t, lambda x: x.isin("the", "a", "of")))
    es = F.size(F.filter(t, lambda x: x.isin("de", "la", "el")))
    return (
        F.when(en > es, F.lit("en"))
        .when(es > en, F.lit("es"))
        .when((en > 0) & (en == es), F.lit("en"))
        .otherwise(F.lit("unknown"))
    )


_HIGH_HEX = ("8", "9", "a", "b", "c", "d", "e", "f")


def simhash16(col: Column) -> Column:
    """16-bit SimHash over the token multiset, md5-based so the DuckDB oracle
    reproduces it bit-for-bit: bit j of a token's hash is the high bit of hex
    digit j of md5(token); simhash bit j = sign of the sum of ±1 votes.

    Single-pass Catalyst expression: md5 is computed ONCE per token (at
    100 TB the hash dominates — the previous 16-fold form recomputed it per
    bit), then one aggregate folds a 16-counter vote array; a final indexed
    transform turns counter signs into bits. Everything stays JVM-side.

    DELIBERATELY NOT the scale path: Catalyst higher-order lambdas
    (aggregate/transform) are interpreted per element, so the
    per-token×per-counter fold here is oracle-tier only (0.3 s at sf0.1,
    bounded corpora). The production form is
    operators.dedup.simhash64_table — explode + codegen'd SUM aggregates
    over 32-bit packed lanes, one exchange.
    """
    t = tokens(col)
    hashes = F.transform(t, lambda x: F.md5(x))
    # acc[j] += +1 if hex digit j of md5(token) is in 8..f else -1
    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 16),
        lambda acc, h: F.transform(
            acc,
            # two-arg transform lambda receives (element, index)
            lambda a, j: a
            + F.when(F.substr(h, j + F.lit(1), F.lit(1)).isin(*_HIGH_HEX), F.lit(1))
             .otherwise(F.lit(-1)),
        ),
    )
    bits = F.transform(
        counts,
        # 2^j via pow is exact for j <= 15 (shiftleft needs an int literal)
        lambda c, j: F.when(c > 0, F.pow(F.lit(2.0), j).cast("int")).otherwise(F.lit(0)),
    )
    return F.aggregate(bits, F.lit(0), lambda a, b: a + b)


def hamming16(a: Column, b: Column) -> Column:
    """Hamming distance between two 16-bit simhashes (popcount via fold)."""
    x = a.bitwiseXOR(b)
    total = F.lit(0)
    for j in range(16):
        total = total + F.shiftright(x, j).bitwiseAND(F.lit(1))
    return total


# simhash64 lives in operators/dedup.py as an explode + groupBy shape:
# Catalyst higher-order lambdas (aggregate/transform) are interpreted per
# element, so a 64-counter fold was ~50x slower than 64 codegen'd integer
# SUM aggregates over exploded tokens. See dedup.simhash64_table.


# ---------------------------------------------------------------------------
# Sentence segmentation + context-window chunk packing
# ---------------------------------------------------------------------------

# sentence boundary = terminal punctuation followed by a space. RE2 has no
# lookbehind, so the splitter is a two-step: mark the boundary with \x01
# (keeping the punctuation via the $1 backreference in the REPLACEMENT,
# which both Java ($1) and DuckDB/RE2 (\1) support), then split on the mark
SENTENCE_BOUNDARY = r"([.!?]) "
_SENT_MARK = "\x01"


def split_sentences(col: Column) -> Column:
    """text → array of trimmed, non-empty sentences (terminal punctuation
    kept). Pure Catalyst; the two-step mark-then-split stays inside the
    Java∩RE2∩DuckDB regex subset (no lookbehind)."""
    marked = F.regexp_replace(col, SENTENCE_BOUNDARY, "$1" + _SENT_MARK)
    return F.filter(
        F.transform(F.split(marked, _SENT_MARK), lambda s: F.trim(s)),
        lambda s: F.length(s) > 0,
    )


def chunk_pack(df, cap_words: int = 64):
    """Context-window chunk packing — the sequence-packing op a training
    pipeline runs before tokenization: split each document into sentences,
    then assign consecutive sentences to chunks by the deterministic
    prefix-sum rule chunk_id = floor(words_before_this_sentence /
    cap_words). Sentences are never split; a chunk may overrun cap_words by
    at most one sentence (the standard boundary-respecting tradeoff).
    Returns (doc_id, chunk_id, chunk_text, n_sentences, n_words).

    Shape at 100 TB: ONE shuffle — the doc_id window partitioning also
    satisfies the (doc_id, chunk_id) groupBy's clustered distribution
    (partitioning keys are a subset of the grouping keys), so the aggregate
    adds no second exchange (plan-asserted in tools/explain_audit.py).
    The prefix-sum rule (vs. greedy repacking) is what keeps the operator
    one window pass instead of an iterative loop."""
    from pyspark.sql.window import Window

    from .html import word_count

    sents = (
        df.select("doc_id",
                  F.posexplode(split_sentences(F.col("text")))
                  .alias("pos", "sent"))
        .withColumn("w", word_count(F.col("sent")))
    )
    w_before = (Window.partitionBy("doc_id").orderBy("pos")
                .rowsBetween(Window.unboundedPreceding, -1))
    chunked = sents.withColumn(
        "chunk_id",
        F.floor(F.coalesce(F.sum("w").over(w_before), F.lit(0))
                / F.lit(cap_words)).cast("long"))
    return (
        chunked.groupBy("doc_id", "chunk_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "sent"))),
                    lambda s: s["sent"]),
                " ").alias("chunk_text"),
            F.count("*").cast("long").alias("n_sentences"),
            F.sum("w").cast("long").alias("n_words"),
        )
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition signals
# ---------------------------------------------------------------------------


def token_ngrams(ts_col: Column, n: int) -> Column:
    """Array of space-joined n-grams over an existing token-array column;
    empty array when it has fewer than n elements (the guard also keeps
    F.sequence from producing a descending range — sequence(1, 0) counts
    DOWN). Gram at array index i (0-based) starts at token position i.

    Perf shape: the token array is bound ONCE as an outer lambda variable
    (transform over a one-element array), and each gram is n O(1)
    element_at lookups. The naive form — slice(ts, i, n) inside the
    lambda — re-evaluates the whole captured subtree per element (HOF
    lambdas are interpreted; captured subtrees are not CSE'd), which is
    O(len^2) per document and measured 8.2 s vs 0.4 s on the sf0.1 bench
    corpus."""

    def grams(ts: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(ts) - (n - 1))
        return F.when(
            F.size(ts) >= n,
            F.transform(idx, lambda i: F.concat_ws(
                " ", *[F.element_at(ts, i + j) for j in range(n)])),
        ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))

    return F.flatten(F.transform(F.array(ts_col), grams))


def word_ngrams(col: Column, n: int) -> Column:
    """Array of space-joined word n-grams over tokens(col) — see
    token_ngrams for the bound-once perf shape."""
    return token_ngrams(tokens(col), n)


def repetition_stats(df):
    """Gopher-style repetition quality signals (Rae et al. 2021, table A1)
    re-derived for this engine — the repetition filter a training pipeline
    runs after boilerplate stripping: per document,

    - dup_sent_frac: fraction of sentence OCCURRENCES whose sentence text
      appears >= 2 times in the document,
    - dup_sent_char_frac: fraction of sentence characters inside those
      repeated sentences,
    - top2_char_frac: character coverage of the single highest-coverage
      REPEATED word 2-gram (count * gram length / total chars over grams
      with count >= 2; 0 when nothing repeats) — the max-coverage-of-
      repeated form is deterministic with no frequency tie-break and keeps
      short documents from being flagged by a unique gram's share, a
      pinned deviation from Gopher's "most frequent 2-gram",
    - dup3_char_frac: characters covered by repeated word 3-grams / total
      chars; overlapping occurrences are NOT merged (each occurrence
      counts its full length — documented deviation from Gopher's
      span-merge, which needs positional interval union),
    - keep = 1 iff dup_sent_frac <= 0.30, top2_char_frac <= 0.20 and
      dup3_char_frac <= 0.60.

    Documents whose text is empty produce no units and drop out (both
    engines' behavior; the corpus contract has non-empty text).

    Shape at 100 TB: sentences + 2-grams + 3-grams explode ONCE into a
    unified (kind, val) frame; groupBy (doc, kind, val) partial-aggregates
    map-side (each doc lives in one input partition, so the first exchange
    already carries one row per distinct unit), and the per-doc rollup is a
    second, far smaller exchange. All counters are codegen'd CASE SUM/MAX
    aggregates — no higher-order-function folds in the hot path (the
    simhash64 lesson: interpreted lambdas cost ~50x vs codegen'd
    aggregates)."""
    txt = F.col("text")

    def unit(kind, arr):
        return F.transform(
            arr, lambda v: F.struct(F.lit(kind).alias("kind"),
                                    v.alias("val")))

    units = F.concat(
        unit("s", split_sentences(txt)),
        unit("2", word_ngrams(txt, 2)),
        unit("3", word_ngrams(txt, 3)),
    )
    exploded = df.select(
        "doc_id", F.length(txt).alias("tot_chars"),
        F.explode(units).alias("u"),
    ).select("doc_id", "tot_chars", "u.kind", "u.val")
    counts = exploded.groupBy("doc_id", "kind", "val").agg(
        F.count("*").alias("cnt"),
        F.first("tot_chars").alias("tot_chars"),
    )
    k, cnt = F.col("kind"), F.col("cnt")
    chars = cnt * F.length(F.col("val"))
    is_dup = cnt >= 2
    agg = counts.groupBy("doc_id").agg(
        F.first("tot_chars").alias("tot_chars"),
        F.sum(F.when(k == "s", cnt).otherwise(0)).alias("n_sents"),
        F.sum(F.when((k == "s") & is_dup, cnt).otherwise(0)).alias("n_dup_sents"),
        F.sum(F.when(k == "s", chars).otherwise(0)).alias("sent_chars"),
        F.sum(F.when((k == "s") & is_dup, chars).otherwise(0)).alias("dup_sent_chars"),
        F.max(F.when((k == "2") & is_dup, chars).otherwise(0)).alias("top2_chars"),
        F.sum(F.when((k == "3") & is_dup, chars).otherwise(0)).alias("dup3_chars"),
    )

    def frac(num, den):
        return F.when(den > 0, num / den).otherwise(F.lit(0.0))

    out = agg.select(
        "doc_id",
        frac(F.col("n_dup_sents"), F.col("n_sents")).alias("dup_sent_frac"),
        frac(F.col("dup_sent_chars"), F.col("sent_chars")).alias("dup_sent_char_frac"),
        frac(F.col("top2_chars"), F.col("tot_chars")).alias("top2_char_frac"),
        frac(F.col("dup3_chars"), F.col("tot_chars")).alias("dup3_char_frac"),
    )
    return out.withColumn(
        "keep",
        ((F.col("dup_sent_frac") <= 0.30)
         & (F.col("top2_char_frac") <= 0.20)
         & (F.col("dup3_char_frac") <= 0.60)).cast("long"),
    )


# ---------------------------------------------------------------------------
# PII redaction (C4-style pre-training scrub)
# ---------------------------------------------------------------------------

# Patterns stay in the Java ∩ RE2 ∩ DuckDB common subset ([0-9], no \d, no
# lookaround). The phone rule keeps \b AFTER the optional +CC prefix: '+' is
# a non-word char, so a leading \b could never match before it.
PII_EMAIL_PATTERN = r"\b[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}\b"
PII_IP_PATTERN = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_PHONE_PATTERN = r"(?:\+[0-9]{1,3} )?\b(?:[0-9]{2,4}[- ]){1,3}[0-9]{2,4}\b"


def redact_pii(df):
    """C4-style PII scrub — redact emails, IPv4 addresses, and phone-shaped
    number groups to typed placeholder tokens, reporting per-doc counts.
    The three rules apply IN ORDER (email → ip → phone) and each count is
    taken on the text as it stands at that step, so a digit run consumed by
    an earlier rule can't be double-counted by a later one; the oracle
    mirrors the same nesting. The phone rule is deliberately aggressive
    (any 2-4-digit groups joined by '-' or ' '): a pre-training scrub
    prefers false positives over leaked numbers — pinned policy, same rule
    in both engines.

    Pure codegen'd map, zero shuffle: three regexp_replace + three
    regexp_extract_all counts per row."""
    t0 = F.col("text")
    n_emails = F.size(F.regexp_extract_all(t0, F.lit(PII_EMAIL_PATTERN), 0))
    t1 = F.regexp_replace(t0, PII_EMAIL_PATTERN, "<EMAIL>")
    n_ips = F.size(F.regexp_extract_all(t1, F.lit(PII_IP_PATTERN), 0))
    t2 = F.regexp_replace(t1, PII_IP_PATTERN, "<IP>")
    n_phones = F.size(F.regexp_extract_all(t2, F.lit(PII_PHONE_PATTERN), 0))
    t3 = F.regexp_replace(t2, PII_PHONE_PATTERN, "<PHONE>")
    return df.select(
        "doc_id",
        t3.alias("clean_text"),
        n_emails.cast("long").alias("n_emails"),
        n_ips.cast("long").alias("n_ips"),
        n_phones.cast("long").alias("n_phones"),
    )


# ---------------------------------------------------------------------------
# Hashed-feature linear quality filter (fastText-style classifier plumbing)
# ---------------------------------------------------------------------------


def hashed_linear_score(df):
    """Linear text classifier over hashed token features — the SHAPE of the
    fastText-style quality filters every pretraining pipeline runs over
    crawl text (hashing trick, Weinberger et al. 2009: token → bucket via a
    hash, score = sum of per-bucket weights, its sign decides keep/drop).

    The weights here are md5-derived pinned constants (token → one of
    1024 buckets b → integer in [-1000, 1000] from md5('w7_' || b)), NOT
    trained — this is deliberately the deterministic, oracle-checkable
    PLUMBING: scoring arithmetic, bucketing, aggregation shape, and
    threshold gate are production-real; swapping in trained weights is a broadcast
    (bucket, weight) table join at the marked step, changing no plan shape.

    Per doc: score = Σ_tokens weight(md5_bucket(token)), integer-exact;
    norm_score = score / n_tokens (one IEEE division, identical across
    engines); keep = score > 0.

    Shape at 100 TB: explode + codegen'd SUM with map-side partial
    aggregation — one exchange on doc_id (the repetition_stats lesson:
    per-token HOF folds are interpreted; explode into a codegen'd aggregate
    instead). Weight derivation is one md5 per token OCCURRENCE; at scale
    derive per DISTINCT (bucket) via the broadcast weight table instead."""
    t = F.explode(tokens(F.col("text"))).alias("tok")
    bucket = md5_bucket(F.col("tok"), 1024)
    # swap-in point: replace this expression with a broadcast join against a
    # trained (bucket, weight) table
    weight = (
        F.conv(F.substring(
            F.md5(F.concat(F.lit("w7_"), bucket.cast("string"))), 1, 8),
            16, 10).cast("long") % 2001 - 1000
    )
    toks = df.select(F.col("doc_id").cast("long").alias("doc_id"), t)
    return (
        toks.select("doc_id", weight.alias("wt"))
        .groupBy("doc_id")
        .agg(F.sum("wt").cast("long").alias("score"),
             F.count("*").cast("long").alias("n_tokens"))
        .select(
            "doc_id", "score", "n_tokens",
            F.round(F.col("score") / F.col("n_tokens"), 6).alias("norm_score"),
            (F.col("score") > 0).cast("long").alias("keep"),
        )
    )


TERMINAL_PUNCT_PATTERN = r"[.!?]$"
C4_BAD_SNIPPETS = ("lorem ipsum", "javascript", "cookie policy")


def c4_doc_stats(df):
    """C4 document-level cleaning heuristics (Raffel et al. 2020 §2.2,
    re-derived at document granularity — the corpus has no line
    structure): sentence census, terminal-punctuation coverage, brace and
    bad-snippet detection, and the keep decision
        keep = n_sentences >= 3
             AND no '{' (code page signal)
             AND none of {lorem ipsum, javascript, cookie policy}
             AND 2 * n_terminal >= n_sentences   (exact-rational majority)
    Pure codegen'd Catalyst map, ZERO shuffle — every signal is per-row.
    Returns (doc_id, n_sentences, n_terminal, has_brace, has_bad_snippet,
    keep)."""
    cols = c4_stat_cols(F.col("text"))
    return df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        *cols,
    )


def c4_stat_cols(c: Column) -> list[Column]:
    """The c4_doc_stats signal COLUMNS (n_sentences, n_terminal, has_brace,
    has_bad_snippet, keep) as reusable expressions, so composed operators
    (curation_funnel) can ride them on an existing projection instead of
    joining a second evaluation of the source subtree."""
    low = F.lower(c)
    sents = split_sentences(c)
    n_sent = F.size(sents)
    n_term = F.size(F.filter(sents,
                             lambda s: s.rlike(TERMINAL_PUNCT_PATTERN)))
    has_brace = c.contains("{")
    has_bad = (low.contains(C4_BAD_SNIPPETS[0])
               | low.contains(C4_BAD_SNIPPETS[1])
               | low.contains(C4_BAD_SNIPPETS[2]))
    return [
        n_sent.cast("long").alias("n_sentences"),
        n_term.cast("long").alias("n_terminal"),
        has_brace.alias("has_brace"),
        has_bad.alias("has_bad_snippet"),
        ((n_sent >= 3) & ~has_brace & ~has_bad
         & (2 * n_term >= n_sent)).alias("keep"),
    ]


def readability_stats(df):
    """Integer Flesch-Kincaid grade surrogate — the classic readability
    quality feature (Kincaid et al. 1975: 0.39*(W/S) + 11.8*(Syl/W) -
    15.59), re-expressed so no IEEE division crosses an engine boundary:

        fk_milli = (390 * W) DIV S + (11800 * Syl) DIV W - 15590

    with each ratio floored independently (a documented surrogate:
    within 2 milligrades of the float form per floor, monotone in both
    ratios). Syllables are VOWEL-GROUP RUNS over the lowercased
    normalized text (one regexp pass, whole-stage codegen — spaces break
    runs so groups never span words); vowel-less tokens contribute 0,
    the standard heuristic's documented deviation from dictionary
    syllables. S floors at 1 (unpunctuated docs are one sentence).
    Pure per-row map, ZERO shuffle. Returns (doc_id, n_words,
    n_sentences, n_syllables, fk_milli)."""
    c = F.col("text")
    staged = df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        token_count(c).cast("long").alias("n_words"),
        F.greatest(F.lit(1).cast("long"),
                   F.size(split_sentences(c)).cast("long"))
        .alias("n_sentences"),
        F.size(F.regexp_extract_all(
            normalize_ws(F.lower(c)), F.lit("([aeiouy]+)"), 1))
        .cast("long").alias("n_syllables"),
    )
    return staged.select(
        "doc_id", "n_words", "n_sentences", "n_syllables",
        F.expr("(390 * n_words) DIV n_sentences"
               " + (11800 * n_syllables) DIV n_words - 15590")
        .cast("long").alias("fk_milli"),
    )
