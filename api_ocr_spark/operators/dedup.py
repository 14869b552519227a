"""Deduplication operators over the documents table — the training-data
pipeline ops a 100 TB corpus needs (exact, n-gram Jaccard, MinHash+LSH,
SimHash). All JVM-side Catalyst expressions; no Python UDFs.

Scale notes (100 TB):
  - exact: one shuffle on the md5 fingerprint; partial agg map-side.
  - ngram_jaccard: exact pairwise — quadratic blowup on common shingles;
    offered only bounded (scope filter) as a verification oracle. The scale
    path is MinHash+LSH: candidates meet only within a band bucket, and the
    band join is a plain shuffle join AQE can skew-split.
  - simhash: linear signature pass + self-join on band keys.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import fingerprint_md5, normalize_ws


def _fan_out(documents: DataFrame) -> DataFrame:
    """Round-robin repartition of the input before expression-heavy
    projections: a single-file parquet source is ONE input partition, so
    hashing/signature pipelines would otherwise run serially regardless of
    core count (and `df.count()` hides it — column pruning strips the very
    expressions that dominate the real query). Explicit count because AQE's
    bytes-based coalescing under-partitions compute-heavy stages (two
    partitions per core)."""
    return documents.repartition(
        2 * documents.sparkSession.sparkContext.defaultParallelism)


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Hash-groupBy exact dedup: one keeper (min doc_id) per fingerprint."""
    return (
        documents.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            fingerprint_md5(F.col("text")).alias("fingerprint"),
        )
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_docs"))
    )


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-grams as an array column (pure Catalyst: transform
    over a sequence of start offsets + slice + concat_ws)."""
    words = F.split(normalize_ws(F.lower(col)), " ")
    starts = F.sequence(F.lit(1), F.greatest(F.size(words) - (n - 1), F.lit(1)))
    grams = F.transform(starts, lambda i: F.concat_ws(" ", F.slice(words, i, n)))
    return F.array_distinct(grams)


def doc_shingles(documents: DataFrame) -> DataFrame:
    """(doc_id:long, shingle:string) exploded distinct 3-gram shingles."""
    documents = _fan_out(documents)
    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(word_shingles(F.col("text"))).alias("shingle"),
    )


MINHASH_PRIME = 2147483647  # 2^31 − 1: (a·h + b) stays < 2^63 for 32-bit h


def minhash_perm_constants(num_hashes: int) -> list[tuple[int, int]]:
    """The (aᵢ, bᵢ) constants of the MinHash permutation family
    hᵢ(x) = (aᵢ·x + bᵢ) mod (2³¹−1), md5-derived so any engine (or the
    DuckDB oracle's VALUES list) regenerates the identical family. aᵢ ≥ 1."""
    import hashlib

    out = []
    for i in range(num_hashes):
        a = int(hashlib.md5(f"mh_a_{i}".encode()).hexdigest()[:8], 16) % (MINHASH_PRIME - 1) + 1
        b = int(hashlib.md5(f"mh_b_{i}".encode()).hexdigest()[:8], 16) % MINHASH_PRIME
        out.append((a, b))
    return out


def doc_shingle_sets(documents: DataFrame) -> DataFrame:
    """(doc_id:long, ts:array<bigint>) — each document's DISTINCT 3-gram
    shingle-hash set, un-exploded (doc_shingle_hashes is the explode of
    this). The prefix-filter joins (setsim_join / containment_join) need
    the shingle relation three ways — df census, prefix postings, verify
    arrays; materializing the per-doc ARRAY once lets them persist ONE
    tokenize+md5 pass and derive all three from it instead of re-running
    the hash transform per branch (guide §1.2 step 1: don't compute things
    three times)."""
    documents = _fan_out(documents)
    words = F.split(normalize_ws(F.lower(F.col("text"))), " ")
    staged = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"), words.alias("ws"))
    starts = F.sequence(F.lit(1), F.greatest(F.size("ws") - 2, F.lit(1)))
    grams = F.transform(
        starts,
        lambda i: F.conv(
            F.substring(F.md5(F.concat_ws(" ", F.slice("ws", i, 3))), 1, 8), 16, 10
        ).cast("long"),
    )
    return staged.select("doc_id", F.array_distinct(grams).alias("ts"))


def doc_shingle_hashes(documents: DataFrame) -> DataFrame:
    """(doc_id:long, shingle:bigint) — 3-gram shingles hashed to a 32-bit
    base inside the transform (the MinHash path only needs shingle identity;
    collisions are negligible AND identical in the oracle, which uses the
    same hash). The base hash is md5-derived — first 8 hex digits as an
    integer — because md5 is the one hash Spark and DuckDB share: it makes
    the ENTIRE MinHash+LSH pipeline SQL-replicable (see
    ORACLE_MINHASH_LSH in __spark_entry__). At petabyte scale where the
    oracle property is moot, xxhash64(gram) is the drop-in (one line, ~2×
    cheaper per shingle). Two deliberate plan choices, each worth ~3-6x:
    the words array is materialized behind a projection so the split isn't
    re-evaluated per shingle, and the exploded column is a bigint, not a
    string (nothing row-size-heavy crosses the explode).

    DELIBERATELY NOT expressed as doc_shingle_sets(...) + explode: with the
    array behind a second projection, the minhash plan (localCheckpoint +
    5-subtree reuse) regressed ~10x at sf1.0 — the Generate no longer
    fuses with the gram computation. Keep the direct explode-of-expression
    form; doc_shingle_sets exists for callers that need the ARRAY
    (prefix-filter joins)."""
    documents = _fan_out(documents)
    words = F.split(normalize_ws(F.lower(F.col("text"))), " ")
    staged = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"), words.alias("ws"))
    starts = F.sequence(F.lit(1), F.greatest(F.size("ws") - 2, F.lit(1)))
    grams = F.transform(
        starts,
        lambda i: F.conv(
            F.substring(F.md5(F.concat_ws(" ", F.slice("ws", i, 3))), 1, 8), 16, 10
        ).cast("long"),
    )
    return staged.select("doc_id", F.explode(F.array_distinct(grams)).alias("shingle"))


def ngram_jaccard_pairs(
    documents: DataFrame, threshold: float = 0.5, max_doc_id: int | None = None
) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (a < b). Quadratic in shingle
    co-occurrence — bound the scope with max_doc_id when used as an oracle;
    use minhash_lsh_pairs for the full corpus."""
    docs = documents
    if max_doc_id is not None:
        docs = docs.filter(F.col("doc_id") < max_doc_id)
    sh = doc_shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("doc_a", "doc_b", "inter", "sz_a", "sz_b", "jaccard")


MINHASH_NUM_HASHES = 32
MINHASH_BANDS = 8


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """MinHash signatures of a `doc_shingle_hashes` frame: min over shingles
    of the md5-derived permutation family hᵢ(x) = (aᵢ·x + bᵢ) mod (2³¹−1)
    (minhash_perm_constants) — pure 64-bit integer arithmetic both here and
    in the DuckDB oracle, so the signatures are engine-identical. One
    groupBy (map-side partial min); signature is an array column ordered by
    permutation index."""
    perms = minhash_perm_constants(MINHASH_NUM_HASHES)
    mins = [
        F.min(F.pmod(F.lit(a) * F.col("shingle") + F.lit(b), F.lit(MINHASH_PRIME))).alias(f"h{i}")
        for i, (a, b) in enumerate(perms)
    ]
    sig = sh.groupBy("doc_id").agg(*mins)
    return sig.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(MINHASH_NUM_HASHES)]).alias("signature")
    )


def minhash_lsh_pairs(
    documents: DataFrame,
    threshold: float = 0.5,
    verify: bool = True,
) -> DataFrame:
    """MinHash+LSH near-dup candidates: band the 32-hash signature into 8
    bands of 4 rows, meet within (band_id, band_hash) buckets, optionally verify
    with exact Jaccard on candidate pairs only (linear + bucket joins — the
    scale path; no quadratic shingle join).

    The hashed-shingle frame is localCheckpointed: the plan references it
    from FIVE subtrees (two band-join sides, two verify sides, sizes), and
    Spark re-executes the shingle scan per branch otherwise (measured ~40%
    of query wall). The production analogue is checkpointing
    shingles/signatures to cluster storage before the joins."""
    rows = MINHASH_NUM_HASHES // MINHASH_BANDS
    sh = doc_shingle_hashes(documents).localCheckpoint(eager=False)
    sig = minhash_signatures(sh)

    def band_key(b: int):
        # polynomial fold of the band's r signature values (each < 2^31, so
        # the fold stays < 2^46 for r=4) — SQL-replicable, unlike xxhash64;
        # fold collisions only ever ADD candidates, which verify filters,
        # and the oracle twins the fold anyway
        acc = F.lit(0).cast("long")
        for r in range(rows):
            acc = acc * 31 + F.col("signature")[b * rows + r]
        return acc

    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                band_key(b).alias("band_hash"),
            )
            for b in range(MINHASH_BANDS)
        ]
    )
    banded = sig.select("doc_id", F.explode(band_structs).alias("band")).select(
        "doc_id", F.col("band.band_id").alias("band_id"), F.col("band.band_hash").alias("band_hash")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    if not verify:
        return cand
    # exact-Jaccard verification restricted to candidate pairs (hashed
    # shingles: identity-equality is all Jaccard needs) over the same
    # materialized shingle frame
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingle"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingle"))
    inter = (
        cand.join(sa, "doc_a").join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")), "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("doc_a", "doc_b", "jaccard")


def simhash_table(documents: DataFrame) -> DataFrame:
    """(doc_id, simhash:int) — 16-bit md5-vote SimHash (oracle-reproducible)."""
    from ..functions.text import simhash16

    documents = _fan_out(documents)
    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"), simhash16(F.col("text")).alias("simhash")
    )


def simhash_neardup_pairs(documents: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs by Hamming distance; self-join blocked on the
    two 8-bit halves (a pair within distance<=3 must agree exactly on at
    least one half — pigeonhole), so the join is equi-key, not cross."""
    from ..functions.text import hamming16

    sh = simhash_table(documents)
    halves = sh.select(
        "doc_id",
        "simhash",
        F.col("simhash").bitwiseAND(F.lit(0xFF)).alias("lo"),
        F.shiftright("simhash", 8).bitwiseAND(F.lit(0xFF)).alias("hi"),
    )
    pairs = None
    for key in ("lo", "hi"):
        a = halves.alias("a")
        b = halves.alias("b")
        p = a.join(
            b, (F.col(f"a.{key}") == F.col(f"b.{key}")) & (F.col("a.doc_id") < F.col("b.doc_id"))
        ).select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    out = (
        pairs.distinct()
        .withColumn("hamming", hamming16(F.col("sim_a"), F.col("sim_b")))
        .filter(F.col("hamming") <= max_hamming)
    )
    return out.select("doc_a", "doc_b", "hamming")


def simhash64_table(documents: DataFrame) -> DataFrame:
    """(doc_id, b0..b3) — PRODUCTION-width 64-bit SimHash as four 16-bit
    bands. Bit j (0..63) of a token's hash is bit (j mod 4) of hex digit
    (j div 4) of md5(token) — identical derivation in the DuckDB oracle.

    Execution shape — ONE exchange, count-weighted hashing:
      1. hash-repartition the DOCUMENT rows by doc_id (compact — whole
         documents cross the wire once; every later aggregate clusters on
         doc_id and is exchange-free under that partitioning);
      2. explode tokens → groupBy(doc_id, tok) counts — md5 then runs once
         per DISTINCT token, lane sums weighted by the count (identical
         votes: Σ cnt·bit == Σ_occurrences bit — the signature is
         hash-identical to occurrence hashing, so the oracle is unchanged),
         cutting md5+conv work by the corpus' repetition factor;
      3. per hex digit TWO packed 2-lane counter words (bit r of the digit,
         times cnt, in a 32-bit lane) → 32 codegen'd SUMs + Σcnt in ONE
         groupBy(doc_id); per-bit vote is 2·lane − n.
    Catalyst higher-order lambdas (aggregate/transform) are INTERPRETED per
    element — a 64-counter fold ran ~50× slower than this whole-stage-
    codegen aggregate at corpus scale; lane packing keeps the plan at 32
    aggregates instead of 64 (codegen compile time is plan-sized).

    Lane width is 32 BITS BY CONSTRUCTION (not 16): a lane accumulates
    Σcnt ≤ n tokens, so carry would need a 2^32-token document — and a
    single Spark string value caps at 2 GB, two orders of magnitude below
    that, so overflow is structurally unreachable rather than guarded.
    (The earlier 16-bit-lane layout carried at 2^16 ≈ one 300-page
    document — a real 100 TB-corpus hazard; a routed narrow/wide split was
    tried first and its doc-length join re-executed the token pipeline per
    branch, costing more than the 16 extra SUM columns do.) Correctness at
    70k tokens is pinned in tests/test_dedup_similarity.py."""
    from ..functions.text import tokens

    spark = documents.sparkSession
    parts = 2 * spark.sparkContext.defaultParallelism
    docs = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    ).repartition(parts, "doc_id")
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    counted = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("cnt"))
    return _simhash64_arrow(counted)


def _simhash64_arrow(counted: DataFrame) -> DataFrame:
    """(doc_id, b0..b3) from the distinct-token count relation via ONE
    Arrow stage (guide §4.2): md5 runs in C (hashlib) once per distinct
    (doc, token); the nibble→bit spread, cnt-weighted lane sums and the
    2·lane−n>0 votes are all vectorized numpy integer math — bit-identical
    to the 33-codegen-SUM packed-lane aggregate this replaces (same votes
    over the same md5-over-UTF-8 hex digits; hexdigest char d is exactly
    Spark's conv(substring(md5(tok), d+1, 1), 16, 10)).

    `counted`'s partitions are doc-complete — the groupBy(doc_id, tok)
    rides the explicit doc_id repartition, so its final aggregate adds no
    exchange and keeps doc_id clustering — which lets the per-task
    accumulator emit each signature exactly once, with no post-stage
    groupBy. Lane sums are plain int64 (no packing), so overflow needs a
    2^63-token document: structurally unreachable."""
    import pyarrow as pa

    def fn(batches):
        import hashlib

        acc: dict[int, list] = {}
        r4 = np.arange(4, dtype=np.uint8)[None, None, :]
        for batch in batches:
            n_rows = batch.num_rows
            if n_rows == 0:
                continue
            doc_ids = batch.column("doc_id").to_numpy(zero_copy_only=False)
            cnts = batch.column("cnt").to_numpy(zero_copy_only=False)
            toks_l = batch.column("tok").to_pylist()
            dig = b"".join(
                hashlib.md5(t.encode("utf-8")).digest()[:8] for t in toks_l)
            dd = np.frombuffer(dig, np.uint8).reshape(n_rows, 8)
            digits = np.empty((n_rows, 16), np.uint8)
            digits[:, 0::2] = dd >> 4
            digits[:, 1::2] = dd & 15
            bits = ((digits[:, :, None] >> r4) & 1).reshape(n_rows, 64)
            w = bits.astype(np.int64) * cnts[:, None]
            order = np.argsort(doc_ids, kind="stable")
            sd = doc_ids[order]
            starts = np.nonzero(
                np.concatenate(([True], sd[1:] != sd[:-1])))[0]
            sums = np.add.reduceat(w[order], starts, axis=0)
            nsum = np.add.reduceat(cnts[order], starts)
            for i, d in enumerate(sd[starts]):
                a = acc.get(int(d))
                if a is None:
                    acc[int(d)] = [sums[i].copy(), int(nsum[i])]
                else:
                    a[0] += sums[i]
                    a[1] += int(nsum[i])
        if not acc:
            return
        ids = np.fromiter(acc.keys(), np.int64, len(acc))
        lane = np.stack([v[0] for v in acc.values()])
        n = np.fromiter((v[1] for v in acc.values()), np.int64, len(acc))
        votes = ((2 * lane - n[:, None]) > 0).astype(np.int64)
        pows = 1 << np.arange(16, dtype=np.int64)
        cols = [pa.array(ids, pa.int64())] + [
            pa.array((votes[:, 16 * b:16 * (b + 1)] @ pows).astype(np.int32),
                     pa.int32())
            for b in range(4)
        ]
        yield pa.record_batch(cols, names=["doc_id", "b0", "b1", "b2", "b3"])

    return counted.mapInArrow(
        fn, "doc_id long, b0 int, b1 int, b2 int, b3 int")


def simhash64_neardup_pairs(documents: DataFrame) -> DataFrame:
    """64-bit SimHash near-dup pairs, band-blocked self-join: a pair within
    Hamming distance <= 3 must agree EXACTLY on at least one of the 4
    16-bit bands (pigeonhole — so unlike the 16-bit toy form, this blocking
    is COMPLETE: recall 1.0 by construction).

    One (band_id, band_value)-exploded self-join — the same shape as the
    MinHash band join. Candidate volume note (measured): simhash band values
    of topically-similar documents COLLIDE heavily (shared vocabulary drives
    the votes — top sf0.1 bucket holds ~3% of docs), so candidates ≫ final
    pairs. The verify is therefore pushed BEFORE the distinct (popcount is a
    per-row filter; distinct then sees only true pairs), and the four band
    values travel as ONE packed 64-bit word whose XOR popcount IS the
    64-bit Hamming distance (lanes are disjoint) — one bit_count per
    candidate instead of a 64-term popcount expression."""
    sh = simhash64_table(documents)
    packed = sum(
        F.shiftleft(F.col(f"b{b}").cast("long"), 16 * b) for b in range(4)
    ).alias("pk")
    bands = F.array(*[
        F.struct(F.lit(b).alias("band_id"), F.col(f"b{b}").alias("bv")) for b in range(4)
    ])
    banded = sh.select("doc_id", packed, F.explode(bands).alias("band")).select(
        "doc_id", "pk", F.col("band.band_id").alias("band_id"), F.col("band.bv").alias("bv")
    )
    a = banded.select(F.col("doc_id").alias("doc_a"), F.col("pk").alias("pa"),
                      "band_id", "bv")
    b_ = banded.select(F.col("doc_id").alias("doc_b"), F.col("pk").alias("pb"),
                       "band_id", "bv")
    cand = (
        a.join(b_, ["band_id", "bv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b",
            F.bit_count(F.col("pa").bitwiseXOR(F.col("pb"))).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
    )
    return cand.distinct()


def neardup_clusters(pairs: DataFrame) -> DataFrame:
    """Resolve near-dup PAIRS into connected-component CLUSTERS —
    (doc_id, cluster_id = min doc_id of the component). The op a dedup
    pipeline actually needs downstream of any pair generator (exact, LSH,
    SimHash): keep one representative per cluster, drop the rest.

    Distributed shape: iterative min-label propagation — each round every
    vertex takes min(own label, neighbors' labels) via one equi-join + one
    map-side-partial groupBy, until a round changes no label. Each round ends
    in localCheckpoint(eager) — mandatory for iterative Spark algorithms: it
    cuts the exponentially-growing lineage AND gives the convergence test a
    materialized frame. At 10^12 docs the same loop runs with the labels
    frame persisted on cluster storage.

    The loop always stops: a label never increases and never falls below
    its component's minimum doc_id, and that minimum reaches every vertex
    of the component along a shortest path, one hop per round — so after
    at most diameter + 1 rounds (the last one changing nothing) every label
    is final. Near-dup components are small chains/cliques, so a handful."""
    edges = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    edges = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    labels = (
        edges.select(F.col("a").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    while True:
        nbr_min = (
            edges.join(labels.withColumnRenamed("doc_id", "b"), "b")
            .groupBy("a")
            .agg(F.min("cluster_id").alias("nbr_min"))
            .withColumnRenamed("a", "doc_id")
        )
        new_labels = (
            labels.join(nbr_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("cluster_id"), F.coalesce("nbr_min", F.col("cluster_id"))).alias("cluster_id"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels


def contamination_flags(documents: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Benchmark DECONTAMINATION — the training-data op that catches eval-set
    leakage before pretraining: flag every corpus document sharing at least
    one word 8-gram with a benchmark/eval corpus (the published n-gram
    overlap rule; n is typically 8-13).

    100 TB shape: the benchmark side is SMALL (eval suites are 10^3-10^5
    documents) → its distinct n-gram set is BROADCAST, and the corpus side
    explodes grams and meets the broadcast hash relation map-side — the
    corpus never shuffles; the per-doc hit count is one map-side-partial
    aggregate keyed by doc_id. Grams travel as strings here so the DuckDB
    oracle can replay the op exactly; at petabyte scale hash each gram to
    64 bits first (xxhash64 — the same one-line swap the MinHash base hash
    documents).

    Returns (doc_id, n_hits = number of DISTINCT contaminated grams,
    contaminated: bool) for every corpus document."""
    b = benchmark.select(
        F.explode(word_shingles(F.col("text"), 8)).alias("gram")).distinct()
    d = _fan_out(documents).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(word_shingles(F.col("text"), 8)).alias("gram"))
    hits = (
        d.join(F.broadcast(b), "gram")
        .groupBy("doc_id").agg(F.count("*").alias("n_hits"))
    )
    base = documents.select(F.col("doc_id").cast("long").alias("doc_id"))
    return base.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# Corpus-wide line/sentence dedup (C4 / CCNet style)
# ---------------------------------------------------------------------------


def line_dedup(documents: DataFrame) -> DataFrame:
    """Corpus-WIDE sentence-level dedup — the C4/CCNet "discard any line
    seen elsewhere" pass: every sentence that occurs more than once in the
    whole corpus survives only at its FIRST occurrence (min (doc_id, pos)
    — a deterministic total order, reproducible across runs and engines);
    all later occurrences are dropped and each document is re-assembled
    from its kept sentences in original order.

    Returns (doc_id, clean_text, n_kept, n_removed) for every input doc
    (a doc whose every sentence was removed still comes out, with
    clean_text = '' — collect_list drops the NULLed removed rows but the
    groupBy sees them).

    Shape at 100 TB — deliberately min-agg + join, NOT a row_number
    window: the keeper per sentence is min(struct(doc_id, pos)), which
    partial-aggregates MAP-SIDE, so a boilerplate sentence occurring a
    billion times ("Click here to subscribe.") contributes one row per map
    task to the first shuffle instead of forcing a billion-row sort in one
    window partition. The flag join back (occurrences x per-sentence
    keeper) is an equi-join on the sentence key that AQE's skew-join can
    split freely — a window's sort-per-partition cannot be split. Three
    exchanges total: keeper agg, flag join, per-doc reassembly (the last
    reuses the flagged frame's output directly)."""
    from ..functions.text import split_sentences

    sents = _fan_out(documents).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode(split_sentences(F.col("text"))).alias("pos", "sent"),
    )
    keepers = sents.groupBy("sent").agg(
        F.min(F.struct("doc_id", "pos")).alias("keeper"))
    flagged = sents.join(keepers, "sent").select(
        "doc_id", "pos", "sent",
        (F.struct("doc_id", "pos") == F.col("keeper")).alias("kept"),
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.when(F.col("kept"),
                               F.struct("pos", "sent")))),
                    lambda s: s["sent"]),
                " ").alias("clean_text"),
            F.sum(F.col("kept").cast("long")).alias("n_kept"),
            F.sum((~F.col("kept")).cast("long")).alias("n_removed"),
        )
    )


# ---------------------------------------------------------------------------
# Exact substring (repeated k-token span) dedup — Lee et al. 2021 style
# ---------------------------------------------------------------------------


def substring_dedup(documents: DataFrame, k: int = 8) -> DataFrame:
    """Exact substring dedup ("Deduplicating Training Data Makes Language
    Models Better", Lee et al. 2021): any k-token span whose exact word
    sequence occurs more than once ANYWHERE in the corpus survives only at
    its first occurrence (min (doc_id, start) — a deterministic total
    order); every token covered by a later duplicate occurrence is removed
    and the document is re-assembled from its surviving tokens in order.
    Token-level union semantics: a token is dropped iff ANY non-keeper
    duplicated-gram occurrence covers it (a keeper span does not shield
    tokens that an overlapping removed span covers — positions are
    removed, not spans).

    Returns (doc_id, clean_text, n_tokens, n_removed, n_dup_spans) for
    every input document.

    Shape at 100 TB — the reference design is a suffix array; the
    distributed equivalent here is gram-keyed aggregation:
      - keeper per gram = min(struct(doc_id, start)) + count(*), which
        partial-aggregates MAP-SIDE — a boilerplate span occurring a
        billion times contributes one row per map task, never a
        billion-row window sort.
      - only NON-KEEPER occurrences of duplicated grams (a tiny fraction
        of the corpus) fan out into per-position rows; clean documents
        produce nothing past the gram agg.
      - reassembly is ARRAY-NATIVE: the per-doc removal-position set
        (usually empty/small, AQE-broadcastable) joins the compact
        (doc_id, token-array) frame and tokens are filtered in place —
        corpus tokens never explode through a shuffle, unlike the
        line_dedup collect_list path.
    Grams travel as strings so the DuckDB oracle can replay the op
    exactly; at petabyte scale hash each gram to 64 bits first (xxhash64
    — the same one-line swap decontaminate documents)."""
    from ..functions.text import token_ngrams, tokens

    base = _fan_out(documents).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        tokens(F.col("text")).alias("ts"),
    )
    grams = base.select(
        "doc_id",
        F.posexplode(token_ngrams(F.col("ts"), k)).alias("start", "gram"),
    )
    keepers = grams.groupBy("gram").agg(
        F.min(F.struct("doc_id", "start")).alias("keeper"),
        F.count("*").alias("cnt"),
    ).filter(F.col("cnt") > 1)
    removals = (
        grams.join(keepers, "gram")
        .filter(F.struct("doc_id", "start") != F.col("keeper"))
        .select("doc_id", "start")
    )
    rm = removals.groupBy("doc_id").agg(
        F.collect_list("start").alias("starts"))
    rm = rm.select(
        "doc_id",
        F.array_sort(F.array_distinct(F.flatten(F.transform(
            F.col("starts"),
            lambda s: F.sequence(s, s + F.lit(k - 1)))))).alias("rmpos"),
        F.size("starts").cast("long").alias("n_dup_spans"),
    )
    joined = base.join(rm, "doc_id", "left").select(
        "doc_id", "ts",
        F.coalesce(F.col("rmpos"),
                   F.expr("CAST(array() AS ARRAY<INT>)")).alias("rmpos"),
        F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
    )
    return joined.select(
        "doc_id",
        F.array_join(
            F.filter(F.col("ts"),
                     lambda t, i: ~F.array_contains(F.col("rmpos"), i)),
            " ").alias("clean_text"),
        F.size("ts").cast("long").alias("n_tokens"),
        F.size("rmpos").cast("long").alias("n_removed"),
        F.col("n_dup_spans"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter membership dedup against a history corpus
# ---------------------------------------------------------------------------


def _bloom_positions(fp: Column, k: int, m_bits: int) -> list[Column]:
    """k md5-derived bit positions in [0, m_bits) for a fingerprint —
    position i = first 60 bits of md5(fp || '_' || i) mod m_bits. md5 (not
    xxhash64) so the DuckDB oracle derives identical positions in SQL; the
    at-scale swap is xxhash64(fp, i) with the oracle downgraded to
    rows-only, as for decontaminate's gram hashing."""
    return [
        F.pmod(
            F.conv(F.substring(F.md5(F.concat(fp, F.lit(f"_{i}"))), 1, 15),
                   16, 10).cast("long"),
            F.lit(m_bits),
        )
        for i in range(k)
    ]


def _bloom_member(history: DataFrame, probe: DataFrame, key: Column,
                  k: int, m_bits: int):
    """Bloom membership of every probe row against history's filter: the
    filter is the DISTINCT set of history's set-bit positions of `key`,
    broadcast and left-joined to each probe row's k positions. Returns the
    probe grouped by its own columns and the aggregate that is 1 when all k
    positions are set, else 0."""
    bits = (
        history.select(F.explode(F.array(
            *_bloom_positions(key, k, m_bits))).alias("pos"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    tested = probe.select(
        *probe.columns,
        F.explode(F.array(*_bloom_positions(key, k, m_bits))).alias("pos"))
    return (tested.join(F.broadcast(bits), "pos", "left")
            .groupBy(*probe.columns),
            F.min(F.coalesce(F.col("hit"), F.lit(0))))


def bloom_history_dedup(new_docs: DataFrame, history_docs: DataFrame,
                        m_bits: int = 4096, k: int = 3) -> DataFrame:
    """Incremental-crawl dedup via a Bloom filter over the HISTORY corpus:
    yesterday's corpus is summarized into an m-bit filter; today's batch
    tests membership WITHOUT joining the full history — the pattern that
    makes daily dedup of a 100 TB archive affordable (the filter for 10^10
    fingerprints at ~1% FPR is ~12 GB: executor-broadcastable, vs re-reading
    the archive).

    Representation here: the filter is the DISTINCT set of set bit
    positions, broadcast to the probe side; a fingerprint "maybe" matches
    when ALL k of its positions are present (duplicate positions within one
    fingerprint need no special-casing under all-present semantics). False
    positives are possible BY DESIGN (that is the Bloom trade); false
    negatives are not — a test pins both directions and the oracle replays
    the identical positions, so equality holds at any FPR.

    Returns (doc_id, fingerprint, maybe_in_history, in_history):
    `in_history` is the exact semi-join answer, included for FPR auditing —
    at scale you drop it (it IS the join the filter exists to avoid)."""
    fp_new = new_docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        fingerprint_md5(F.col("text")).alias("fingerprint"))
    fp_hist = history_docs.select(
        fingerprint_md5(F.col("text")).alias("fingerprint")).distinct()
    grouped, member = _bloom_member(fp_hist, fp_new, F.col("fingerprint"), k, m_bits)
    tested = grouped.agg(member.cast("long").alias("maybe_in_history"))
    exact = fp_hist.withColumn("exact", F.lit(1))
    return (
        tested.join(F.broadcast(exact), "fingerprint", "left")
        .select(
            "doc_id", "fingerprint", "maybe_in_history",
            F.coalesce(F.col("exact"), F.lit(0)).cast("long")
            .alias("in_history"),
        )
    )


def winnow_fingerprints(documents: DataFrame, k: int = 4,
                        w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS local fingerprinting algorithm): hash every
    k-token gram, slide a w-gram window, and in each window select the
    minimum hash, breaking ties by the RIGHTMOST position; the distinct
    selections are the document's fingerprints. Guarantees: any shared
    run of w+k-1 tokens between two documents yields at least one shared
    fingerprint (the paper's coverage property) at an expected density of
    2/(w+1) — position-robust near-dup evidence that survives insertions,
    unlike global MinHash sketches.

    Engine-exact trick: the (min hash, rightmost pos) argmin is encoded as
    ONE integer key = h * 2^20 + (2^20-1-pos) so the whole selection is a
    windowed integer MIN — no struct ordering semantics to align between
    engines (positions per doc bounded < 2^20 by contract; documents
    longer than a million grams would shard first). Hashes are 40-bit
    md5 prefixes (oracle-replayable; xxhash64 is the at-scale swap, which
    would downgrade the oracle — same contract as bloom_history_dedup).

    Returns (doc_id, pos, gram_hash) — the selected fingerprints.
    Documents with fewer than w grams select their single overall min
    (the least(w-1, n_grams-1) window-start rule), so every document with
    at least k tokens fingerprints; shorter documents have no k-grams and
    emit nothing.

    Shape at 100 TB: gram hashing is a pure codegen map; the windowed min
    + distinct share ONE doc-keyed exchange (the window sort and the
    distinct's partial aggregation both run under it) — per-doc work,
    embarrassingly parallel over documents."""
    from ..functions.text import tokens

    toks = tokens(F.col("text"))
    n = F.size(toks)
    # guard: Spark's sequence(1, 0) DESCENDS, so short docs need an
    # explicit empty-array branch, not a clamped bound
    grams = F.when(n >= k, F.transform(
        F.sequence(F.lit(1), n - k + 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
    ).otherwise(F.array().cast("array<string>"))
    g = _fan_out(documents).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode(grams).alias("pos", "gram"),
    ).select(
        "doc_id", F.col("pos").cast("long").alias("pos"),
        F.conv(F.substring(F.md5(F.col("gram")), 1, 10), 16, 10)
        .cast("long").alias("h"),
    )
    key = F.col("h") * F.lit(1 << 20) + (F.lit((1 << 20) - 1) - F.col("pos"))
    win = (Window.partitionBy("doc_id").orderBy("pos")
           .rowsBetween(-(w - 1), 0))
    doc_win = Window.partitionBy("doc_id")
    sel = (
        g.select("doc_id", "pos", key.alias("key"),
                 F.count("*").over(doc_win).alias("n_grams"))
        .select("doc_id", "pos", "n_grams",
                F.min("key").over(win).alias("wkey"))
        .where(F.col("pos") >= F.least(F.lit(w - 1), F.col("n_grams") - 1))
        .select("doc_id", F.col("wkey").alias("key"))
        .distinct()
    )
    return sel.select(
        "doc_id",
        (F.lit((1 << 20) - 1) - F.col("key") % F.lit(1 << 20))
        .cast("long").alias("pos"),
        F.shiftrightunsigned(F.col("key"), 20).cast("long")
        .alias("gram_hash"),
    )


def _prefix_filter_sets(documents: DataFrame) -> DataFrame:
    """Persisted (doc_id, ts, n) base relation for the prefix-filter joins:
    ONE tokenize+md5 pass whose per-doc distinct shingle array feeds the df
    census, the prefix postings and the verify step. Registered in
    pipeline._PERSISTED so bench/extract_documents reclaim it."""
    from pyspark import StorageLevel

    from .pipeline import _PERSISTED

    sets = (
        doc_shingle_sets(documents)
        .withColumn("n", F.size("ts").cast("long"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    _PERSISTED.append(sets)
    return sets


def _sorted_postings(sets: DataFrame) -> DataFrame:
    """(doc_id, term, pos, n) — every doc's shingles with their 1-based rank
    under the (df asc, term asc) global rarity order, computed as an in-row
    sort of the per-doc (df, term) struct array (one groupBy; the
    row_number-window form this replaces re-shuffled the full relation).
    `pos` carries the PPJoin positional information the candidate filters
    need; the prefix relation is just `pos <= L`.

    PERSISTED (like the sets relation): both prefix-join sides derive from
    this frame, and without the persist each side re-ran the census join +
    sorted-array groupBy — a fixed cost that dominated at small SF."""
    from pyspark import StorageLevel

    from .pipeline import _PERSISTED

    toks = sets.select("doc_id", F.explode("ts").alias("term"))
    df_census = toks.groupBy("term").agg(
        F.count("*").cast("long").alias("df"))
    postings = (
        toks.join(df_census, "term")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "term"))).alias("dts"))
        .select(
            "doc_id", F.size("dts").cast("long").alias("n"),
            F.posexplode(F.transform("dts", lambda s: s.term))
            .alias("p0", "term"),
        )
        .select("doc_id", "term",
                (F.col("p0") + 1).cast("long").alias("pos"), "n")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    _PERSISTED.append(postings)
    return postings


def _prefix_postings(postings: DataFrame, t_num: int, t_den: int) -> DataFrame:
    """Per-doc first L = n - ceil(t*n) + 1 postings under the rarity order
    (the Bayardo prefix): exactly the rows the old row_number-window form
    kept ((doc, term) is unique, so the (df, term) order is total)."""
    return postings.where(
        F.col("pos") <= F.col("n")
        - F.expr(f"({t_num} * n + {t_den} - 1) DIV {t_den}") + 1)


def _attach_sets(cand: DataFrame, sets: DataFrame) -> DataFrame:
    """Attach both docs' shingle arrays to verified-candidate pairs WITHOUT
    shuffling the arrays per pair (guide §8: move heavy payloads once,
    decide on light proxies): the (doc_id, ts) relation is broadcast when
    the corpus is broadcast-size (<= _BROADCAST_SETS_MAX_DOCS docs; the
    arrays then meet the pair stream map-side), else the original
    doc-keyed shuffle joins apply. Candidate pruning has already happened
    on (doc_a, doc_b, n) rows only, so at either size nothing pair-scaled
    carries an array through an exchange twice."""
    arrays = sets.select("doc_id", "ts")
    if sets.count() <= _BROADCAST_SETS_MAX_DOCS:
        arrays = F.broadcast(arrays)
    out = cand.join(
        arrays.select(F.col("doc_id").alias("doc_a"),
                      F.col("ts").alias("ts_a")), "doc_a").join(
        arrays.select(F.col("doc_id").alias("doc_b"),
                      F.col("ts").alias("ts_b")), "doc_b")
    return out


# Above this corpus size the per-doc shingle-array relation stops being
# broadcastable (~500 B/doc -> ~150 MB at the cap) and the verify joins fall
# back to doc-keyed shuffles — the same plan the operator always had.
_BROADCAST_SETS_MAX_DOCS = 300_000


def setsim_join(documents: DataFrame) -> DataFrame:
    """All-pairs set-similarity join with prefix filtering (Bayardo,
    Ma & Srikant, WWW 2007 "Scaling Up All Pairs Similarity Search" /
    the PPJoin candidate rule): emit every document pair whose distinct
    3-gram shingle sets (doc_shingle_hashes — md5-derived 32-bit ids,
    the MinHash pipeline's base) have Jaccard >= t = t_num/t_den = 3/5,
    EXACTLY — no probabilistic recall gap (the deterministic complement of
    minhash_lsh_pairs; same guarantees as ngram_jaccard_pairs but
    without its quadratic shingle join).

    Prefix-filter theorem: under ANY global total order on elements,
    keeping each set's first L = |d| - ceil(t*|d|) + 1 elements
    guarantees that every pair with J >= t shares a prefix element. The
    order used is (df asc, shingle asc) — rarest first, so prefix
    posting lists are the smallest possible — applied DIRECTLY as a sort
    key (no dense global rank: a materialized rank would need a
    single-partition window over the whole shingle vocabulary, a scale
    killer; the composite key needs only the df join). ceil is exact
    integer ((t_num*|d| + t_den - 1) DIV t_den) and the verify is
    cross-multiplied (t_den*|inter| >= t_num*|union|), so the DuckDB
    oracle is exact equality end to end.

    Shape at 100 TB: df census = one shingle-keyed shuffle with map-side
    partials; per-doc prefix positions = one doc-keyed window; the
    candidate self-join shuffles ONLY prefix postings keyed by RARE
    shingles (the paper's point — boilerplate shingles with huge posting
    lists are never in a prefix unless the doc is tiny); verification
    joins candidates back to the per-doc shingle ARRAYS (two doc-keyed
    equi-joins) and intersects in-row. Quadratic work survives only
    inside shared-prefix-shingle groups — the algorithm's own bound.

    Returns (doc_a, doc_b, n_inter, n_union) for verified pairs,
    doc_a < doc_b.

    One tokenize+md5 pass (doc_shingle_sets, persisted — census, prefix
    postings and verify arrays all derive from it), plus the two PPJoin
    candidate filters (Xiao et al., WWW 2008), both result-preserving:

    - LENGTH filter in the join condition: J(A,B) <= min/max sizes, so
      t_num*max(n_a,n_b) > t_den*min(n_a,n_b) pairs can never pass.
    - POSITIONAL filter on the grouped matches: both docs' shingle arrays
      are sorted by the SAME global order, so every shared term <= the
      largest prefix-prefix match w1 (positions pa1/pb1) is itself a
      prefix-prefix match (a smaller shared term sits at smaller positions
      in BOTH prefixes), and shared terms > w1 number at most
      min(n_a-pa1, n_b-pb1). Hence |A∩B| <= cnt + min(n_a-pa1, n_b-pb1);
      pairs where that bound, cross-multiplied, misses the required
      overlap ceil(t*(n_a+n_b)/(1+t)) are pruned BEFORE any array is
      attached. Only survivors pay the array_intersect verify, and the
      arrays meet them broadcast (see _attach_sets) — the old plan
      shuffled both ~n-element arrays per CANDIDATE pair."""
    t_num, t_den = 3, 5
    sets = _prefix_filter_sets(documents)
    prefix = _prefix_postings(_sorted_postings(sets), t_num, t_den)
    tsum = t_num + t_den
    # Per-MATCH positional filter, applied before anything shuffles to the
    # pair groupBy: the minimum shared term w0 of a qualifying pair bounds
    # |A∩B| <= 1 + min(n_a-pa0, n_b-pb0) (every other shared term sits at
    # higher positions in both sorted arrays), and w0's own match row
    # always satisfies the row test when the pair does — so dropping rows
    # that fail it can never lose a qualifying pair, only shrink cnt for
    # pairs whose w0 bound then decides (which is why the grouped filter
    # below uses the MIN-struct w0 bound, sound under partial counts,
    # rather than the cnt+max bound, which is not).
    row_ok = ((F.lit(1) + F.least(F.col("x.n") - F.col("x.pos"),
                                  F.col("y.n") - F.col("y.pos")))
              * F.lit(tsum)
              >= F.lit(t_num) * (F.col("x.n") + F.col("y.n")))
    raw = (
        prefix.alias("x").join(prefix.alias("y"), "term")
        .where((F.col("x.doc_id") < F.col("y.doc_id"))
               & (F.lit(t_num) * F.greatest("x.n", "y.n")
                  <= F.lit(t_den) * F.least("x.n", "y.n"))
               & row_ok)
        .select(F.col("x.doc_id").alias("doc_a"),
                F.col("y.doc_id").alias("doc_b"),
                "term", F.col("x.pos").alias("pa"),
                F.col("y.pos").alias("pb"),
                F.col("x.n").alias("n_a"), F.col("y.n").alias("n_b"))
    )
    cand = (
        raw.groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.min(F.struct("term", "pa", "pb")).alias("w0"))
        .where((F.lit(1)
                + F.least(F.col("n_a") - F.col("w0.pa"),
                          F.col("n_b") - F.col("w0.pb"))) * F.lit(tsum)
               >= F.lit(t_num) * (F.col("n_a") + F.col("n_b")))
        .select("doc_a", "doc_b", "n_a", "n_b")
    )
    return (
        _attach_sets(cand, sets)
        .select(
            "doc_a", "doc_b",
            F.size(F.array_intersect("ts_a", "ts_b")).cast("long")
            .alias("n_inter"),
            (F.col("n_a") + F.col("n_b")).alias("_sum"),
        )
        .select("doc_a", "doc_b", "n_inter",
                (F.col("_sum") - F.col("n_inter")).cast("long")
                .alias("n_union"))
        .where(F.lit(t_den) * F.col("n_inter")
               >= F.lit(t_num) * F.col("n_union"))
    )


def containment_join(documents: DataFrame) -> DataFrame:
    """Asymmetric set-CONTAINMENT join (Broder 1997's containment
    coefficient; the JOSIE/overlap-join family): emit every ORDERED pair
    (doc_a, doc_b) with |A ∩ B| >= t * |A|, t = t_num/t_den = 4/5, over
    distinct 3-gram shingle sets — doc_a's content substantially inside doc_b.
    This is the quotation/subsumption detector that Jaccard misses by
    construction: a 12-token quote inside a 300-token page has Jaccard
    ~0.03 but containment 1.0 (setsim_join and this operator are
    complements, sharing the shingle base and the prefix-filter frame).

    Asymmetric prefix rule: if |A∩B| >= t|A|, then A's first
    L = |A| - ceil(t*|A|) + 1 elements under ANY global order meet B's
    FULL set — so only the PROBE side prunes to its prefix; the indexed
    side keeps every posting. Under the (df asc, shingle asc)
    rarity-first order the prefix holds each doc's rarest shingles, so
    candidate volume = rare-shingle posting lists (small by the same
    df that put them in the prefix) — boilerplate shingles with huge
    posting lists enter a prefix only for tiny docs, the same bound
    Bayardo's symmetric filter gives setsim_join. ceil is exact integer
    and the verify is cross-multiplied (t_den * |A∩B| >= t_num * |A|),
    so the DuckDB oracle is exact equality end to end.

    Returns (doc_a, doc_b, n_inter, n_a), doc_a != doc_b, both
    directions evaluated independently (A-in-B and B-in-A are different
    claims).

    Same single-pass restructure as setsim_join, with the asymmetric
    PPJoin-style filters (both result-preserving): a LENGTH filter in the
    join condition (|A∩B| <= n_b, so t_num*n_a > t_den*n_b pairs can never
    reach containment t), and a POSITIONAL filter on the grouped matches —
    the probe side's prefix meets the indexed side's FULL postings, so
    every shared term <= the largest match w1 has A-position <= pa1 <= La
    and is itself matched; shared terms beyond w1 number at most
    min(n_a-pa1, n_b-pb1), giving |A∩B| <= cnt + min(n_a-pa1, n_b-pb1).
    Pairs whose bound misses ceil(t*n_a) are pruned before the verify, and
    the verify arrays meet the survivors broadcast (_attach_sets) instead
    of shuffling per candidate pair."""
    t_num, t_den = 4, 5
    sets = _prefix_filter_sets(documents)
    postings = _sorted_postings(sets)
    prefix = _prefix_postings(postings, t_num, t_den)
    # per-match w0 bound (see setsim_join): |A∩B| <= 1 + min(n_a-pa,
    # n_b-pb) at the minimum shared term; rows failing it for the
    # containment requirement ceil(t*n_a) can be dropped pre-shuffle, and
    # the grouped filter re-applies the bound at the surviving minimum.
    row_ok = ((F.lit(1) + F.least(F.col("x.n") - F.col("x.pos"),
                                  F.col("y.n") - F.col("y.pos")))
              * F.lit(t_den)
              >= F.lit(t_num) * F.col("x.n"))
    raw = (
        prefix.alias("x").join(postings.alias("y"), "term")
        .where((F.col("x.doc_id") != F.col("y.doc_id"))
               & (F.lit(t_num) * F.col("x.n") <= F.lit(t_den) * F.col("y.n"))
               & row_ok)
        .select(F.col("x.doc_id").alias("doc_a"),
                F.col("y.doc_id").alias("doc_b"),
                "term", F.col("x.pos").alias("pa"),
                F.col("y.pos").alias("pb"),
                F.col("x.n").alias("n_a"), F.col("y.n").alias("n_b"))
    )
    cand = (
        raw.groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.min(F.struct("term", "pa", "pb")).alias("w0"))
        .where((F.lit(1)
                + F.least(F.col("n_a") - F.col("w0.pa"),
                          F.col("n_b") - F.col("w0.pb"))) * F.lit(t_den)
               >= F.lit(t_num) * F.col("n_a"))
        .select("doc_a", "doc_b", "n_a")
    )
    return (
        _attach_sets(cand, sets)
        .select(
            "doc_a", "doc_b",
            F.size(F.array_intersect("ts_a", "ts_b")).cast("long")
            .alias("n_inter"),
            "n_a",
        )
        .where(F.lit(t_den) * F.col("n_inter")
               >= F.lit(t_num) * F.col("n_a"))
    )


def dedup_weights(documents: DataFrame, pairs: DataFrame) -> DataFrame:
    """Soft dedup: per-doc LOSS WEIGHT 1/cluster_size instead of hard
    removal — keep every document but down-weight near-dup clusters so
    a 40x-syndicated article contributes one article's worth of
    gradient. The practical alternative to drop-based dedup when
    repeated data still carries value (data-constrained regimes); hard
    dedup is this ledger with weight_den thresholding at 1.

    Takes any pair generator's output (doc_a, doc_b) — exact, MinHash,
    SimHash — resolves components with neardup_clusters, and emits one
    row for EVERY input doc: (doc_id, cluster_id, weight_num,
    weight_den) with weight = 1/csize as an exact integer pair
    (never an IEEE division) and singletons self-clustered at weight
    1/1. Shapes: component resolution as neardup_clusters; the size
    census is a cluster-keyed map-side-partial groupBy; both joins back
    to the corpus are doc/cluster equi-joins."""
    clusters = neardup_clusters(pairs)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("csize"))
    labeled = clusters.join(sizes, "cluster_id")
    d = documents.select(F.col("doc_id").cast("long").alias("doc_id"))
    return d.join(labeled, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).cast("long")
        .alias("cluster_id"),
        F.lit(1).cast("long").alias("weight_num"),
        F.coalesce("csize", F.lit(1)).cast("long").alias("weight_den"),
    )


def template_lines(documents: DataFrame, urls: DataFrame) -> DataFrame:
    """DOMAIN-scoped template removal — the boilerplate pass CCNet/C4
    run per SITE, strictly stronger than line_dedup's keep-first rule:
    a sentence appearing on >= 2 DISTINCT pages of the SAME
    registered domain is a template (nav, footer, legal notice) and is
    removed from EVERY page of that domain — including the first
    occurrence, which keep-first dedup would preserve. The same
    sentence on another domain is independent evidence and untouched
    (cross-domain repetition is line_dedup's job; the two passes
    compose).

    Returns (doc_id, registered_domain, clean_text, n_kept, n_removed)
    for every input doc. Shape at 100 TB: sentence explode + URL domain
    join (doc_id equi-join); the template census is a
    (domain, sentence)-keyed two-phase distinct-count (partials
    map-side); the flag join is an equi-join on the same composite key
    (AQE skew-splittable — a window sort could not be); reassembly is
    the line_dedup array_sort/collect pattern, arrival-order-free."""
    from ..functions.text import split_sentences
    from ..functions.url import parse_urls

    dom = parse_urls(urls).select(
        F.col("doc_id").cast("long").alias("doc_id"), "registered_domain")
    sents = _fan_out(documents).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode(split_sentences(F.col("text"))).alias("pos", "sent"),
    ).join(dom, "doc_id")
    census = sents.groupBy("registered_domain", "sent").agg(
        F.countDistinct("doc_id").alias("n_pages"))
    boiler = census.where(F.col("n_pages") >= 2).select(
        "registered_domain", "sent", F.lit(True).alias("is_template"))
    flagged = sents.join(boiler, ["registered_domain", "sent"], "left") \
        .select("doc_id", "registered_domain", "pos", "sent",
                F.coalesce("is_template", F.lit(False)).alias("tpl"))
    return (
        flagged.groupBy("doc_id", "registered_domain")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.when(~F.col("tpl"), F.struct("pos", "sent")))),
                    lambda s: s["sent"]),
                " ").alias("clean_text"),
            F.sum(F.when(~F.col("tpl"), 1).otherwise(0)).cast("long")
            .alias("n_kept"),
            F.sum(F.when(F.col("tpl"), 1).otherwise(0)).cast("long")
            .alias("n_removed"),
        )
    )


SEAM_TOKENS = 6


def stitch_pages(documents: DataFrame) -> DataFrame:
    """Pagination stitching — find split articles: a crawler stores a
    multi-page article as separate docs whose text overlaps at the seam
    (page N ends with the teaser/paragraph page N+1 starts with). Emit
    every ordered pair (doc_a, doc_b) where doc_a's LAST SEAM_TOKENS (6)
    tokens equal doc_b's FIRST 6 tokens (doc_a != doc_b) — the
    continuation evidence a reconstruction pass chains into full articles
    (each pair is one edge of the next-page graph; chains follow by the
    neardup_clusters machinery on demand).

    Shape at 100 TB: head/tail keys are O(1) per doc (slice of the
    token array — no explode); the meet is ONE equi-join on the seam
    string keyed map-side by md5 would be overkill: the 6-token seam
    string is already selective. Docs shorter than 6 tokens emit no
    keys. Returns (doc_a, doc_b, seam)."""
    from ..functions.text import tokens

    toks = _fan_out(documents).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        tokens(F.col("text")).alias("ts"),
    ).where(F.size("ts") >= SEAM_TOKENS)
    tail = toks.select(
        F.col("doc_id").alias("doc_a"),
        F.concat_ws(" ", F.slice(F.col("ts"), -SEAM_TOKENS, SEAM_TOKENS)).alias("seam"))
    head = toks.select(
        F.col("doc_id").alias("doc_b"),
        F.concat_ws(" ", F.slice(F.col("ts"), 1, SEAM_TOKENS)).alias("seam"))
    return (
        tail.join(head, "seam")
        .where(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b", "seam")
    )


def stitch_chains(documents: DataFrame) -> DataFrame:
    """Assemble stitch_pages seams into ordered article CHAINS: each
    reconstructed multi-page article becomes rows (doc_id, chain_id =
    the head page's doc_id, chain_pos = 0,1,2,...). Disambiguation is
    deterministic two-sided min-matching — a page's successor is its
    MIN-id seam match, kept only if the page is that successor's MIN-id
    predecessor — so the next-page relation is a partial bijection in
    both engines. Chains start at heads (pages that are nobody's
    successor) and walk forward; pure seam CYCLES have no head and are
    deliberately emitted as nothing (pathological boilerplate seams),
    and the walk caps at 64 hops so a rho-shaped graph cannot
    recurse unboundedly — both rules mirrored in the recursive-CTE
    oracle. Iterative frontier join, localCheckpoint per hop (the
    neardup_clusters discipline); chains are short, so rounds ~ article
    page counts, not diameter of anything corpus-sized."""
    pairs = stitch_pages(documents)
    succ0 = pairs.groupBy("doc_a").agg(F.min("doc_b").alias("doc_b"))
    pred_min = succ0.groupBy("doc_b").agg(F.min("doc_a").alias("min_a"))
    succ = (succ0.join(pred_min, "doc_b")
            .where(F.col("doc_a") == F.col("min_a"))
            .select("doc_a", "doc_b")
            .localCheckpoint(eager=True))
    heads = (succ.select(F.col("doc_a").alias("doc_id"))
             .join(succ.select(F.col("doc_b").alias("doc_id")),
                   "doc_id", "left_anti"))
    labels = heads.select(
        "doc_id", F.col("doc_id").alias("chain_id"),
        F.lit(0).cast("long").alias("chain_pos"))
    frontier = labels.localCheckpoint(eager=True)
    out = [frontier]
    for _ in range(64):
        nxt = (
            frontier.join(succ, frontier["doc_id"] == succ["doc_a"])
            .select(F.col("doc_b").alias("doc_id"), "chain_id",
                    (F.col("chain_pos") + 1).alias("chain_pos"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        out.append(nxt)
        frontier = nxt
    acc = out[0]
    for f in out[1:]:
        acc = acc.unionByName(f)
    return acc


def novelty_score(new_docs: DataFrame, history_docs: DataFrame) -> DataFrame:
    """Continual-pretraining NOVELTY scoring: what fraction of each new
    document's content is genuinely new versus the training history?
    Per new doc, the fraction of its distinct 3-gram shingles NOT
    (probably) present in the history corpus — the signal that decides
    whether a fresh crawl snapshot is worth a training run, and the
    gram-granular upgrade of bloom_history_dedup's whole-doc test.

    The history is summarized as a Bloom filter over shingle hashes
    (md5-derived positions, the bloom_history_dedup representation:
    distinct set-bit positions, BROADCAST; membership = all 3 positions
    present). False positives DEFLATE novelty slightly by design (the
    Bloom trade, sized by the 262,144-bit filter — at sf0.01 history
    load the FPR is well under 1%); false negatives cannot occur, so
    truly-historical grams never count as new. The oracle derives
    identical positions, so equality holds at ANY false-positive rate.

    Returns (doc_id, n_grams, n_known, novelty_milli) with
    novelty_milli = ((n_grams - n_known) * 1000) DIV n_grams — exact
    integer, n_grams >= 1 by the shingle rule. Shape at 100 TB: history
    pass = one distinct-gram shuffle + a filter-sized distinct; probe =
    per-gram broadcast lookups and ONE doc-keyed partial-agg groupBy —
    the new batch never joins the history corpus itself."""
    grams_new = doc_shingle_hashes(new_docs)
    grams_hist = doc_shingle_hashes(history_docs) \
        .select("shingle").distinct()
    grouped, member = _bloom_member(grams_hist, grams_new, F.col("shingle").cast("string"),
                                    k=3, m_bits=262_144)
    per_gram = grouped.agg(member.alias("known"))
    return (
        per_gram.groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_grams"),
             F.sum("known").cast("long").alias("n_known"))
        .select(
            "doc_id", "n_grams", "n_known",
            F.expr("((n_grams - n_known) * 1000) DIV n_grams")
            .cast("long").alias("novelty_milli"),
        )
    )
