"""Dedup + similarity operators on constructed near-dup corpora."""

import pytest
from pyspark.sql import functions as F

from api_ocr_spark.operators import dedup, similarity

BASE = ("the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep dark forest tonight")


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, BASE.replace("lazy", "sleepy")),  # near-dup of 0
        (3, "completely different words about spark dataframes and shuffles "
            "partitions join broadcast aggregate window functions watermark"),
        (4, "another unrelated document mentioning parquet files and columnar "
            "storage formats with predicate pushdown and column pruning"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup_groups(corpus):
    out = {r.fingerprint: r for r in dedup.exact_dedup(corpus).collect()}
    groups = sorted((r.keeper_doc_id, r.n_docs) for r in out.values())
    assert (0, 2) in groups  # docs 0 and 1 collapse, keeper = min id
    assert len(groups) == 4


def test_ngram_jaccard_finds_near_dup(corpus):
    pairs = {(r.doc_a, r.doc_b): r.jaccard
             for r in dedup.ngram_jaccard_pairs(corpus, threshold=0.3).collect()}
    assert pairs[(0, 1)] == 1.0
    assert 0.5 < pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs


def test_minhash_lsh_finds_near_dup(corpus):
    pairs = {(r.doc_a, r.doc_b): r.jaccard
             for r in dedup.minhash_lsh_pairs(corpus, threshold=0.3).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs
    assert (0, 3) not in pairs and (3, 4) not in pairs


def test_minhash_candidates_without_verify(corpus):
    cand = dedup.minhash_lsh_pairs(corpus, verify=False)
    got = {(r.doc_a, r.doc_b) for r in cand.collect()}
    assert (0, 1) in got


def test_simhash_identical_docs_hamming_zero(corpus):
    sh = {r.doc_id: r.simhash for r in dedup.simhash_table(corpus).collect()}
    assert sh[0] == sh[1]
    assert 0 <= sh[0] < 2**16
    pairs = {(r.doc_a, r.doc_b): r.hamming
             for r in dedup.simhash_neardup_pairs(corpus, max_hamming=3).collect()}
    assert pairs[(0, 1)] == 0


@pytest.fixture(scope="module")
def vectors(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=64)
    rows = []
    for i in range(20):
        if i == 1:
            v = base + rng.normal(scale=0.01, size=64)  # near-dup of vec 0
        elif i == 0:
            v = base
        else:
            v = rng.normal(size=64)
        v = v / np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


def test_brute_force_topk(vectors):
    out = similarity.brute_force_topk(vectors, k=3, n_queries=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1}
    top0 = sorted(by_q[0], key=lambda r: r.rank)[0]
    assert top0.neighbor_id == 1 and top0.cos > 0.99
    for rs in by_q.values():
        assert [r.rank for r in sorted(rs, key=lambda r: r.rank)] == [1, 2, 3]


def test_neardup_pairs_threshold(vectors):
    pairs = {(r.vec_a, r.vec_b): r.cos
             for r in similarity.neardup_pairs(vectors, threshold=0.95).collect()}
    assert set(pairs) == {(0, 1)}


def test_lsh_neardup_finds_close_pair(vectors):
    pairs = {(r.vec_a, r.vec_b) for r in
             similarity.lsh_neardup_pairs(vectors, threshold=0.95).collect()}
    # near-identical vectors land in the same sign-LSH bucket w.p. ~1
    assert (0, 1) in pairs


def test_lsh_bucket_determinism(vectors):
    q = similarity.quantized(vectors)
    planes = similarity.lsh_hyperplanes(64)
    a = q.withColumn("b", similarity.lsh_bucket(F.col("qvec"), planes)).collect()
    b = q.withColumn("b", similarity.lsh_bucket(F.col("qvec"), planes)).collect()
    assert [r.b for r in a] == [r.b for r in b]
    assert all(0 <= r.b < 256 for r in a)


def test_neardup_clusters_connected_components(spark):
    # two chains and a singleton-free pair graph: {1-2-3}, {7-9}, {20-21-22}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (20, 21), (21, 22), (20, 22)],
        "doc_a long, doc_b long")
    got = {r.doc_id: r.cluster_id for r in dedup.neardup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7, 20: 20, 21: 20, 22: 20}


def test_neardup_clusters_long_chain_converges(spark):
    # a 12-node path needs label propagation over the full diameter
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 112)], "doc_a long, doc_b long")
    got = {r.doc_id: r.cluster_id for r in dedup.neardup_clusters(pairs).collect()}
    assert set(got.values()) == {100} and len(got) == 13


def test_subword_count(spark):
    from api_ocr_spark.functions import text as T
    df = spark.createDataFrame(
        [("hello world",),            # 2 pieces, ceil(5/4)*2 = 4
         ("internationalization",),   # 1 piece of 20 chars -> 5
         ("a b, c 1234 99",),         # a(1) b(1) ,(1) c(1) 1234(1) 99(1) = 6
         ("",)],
        "t string")
    got = [r.n for r in df.select(T.subword_count(F.col("t")).alias("n")).collect()]
    assert got == [4, 5, 6, 0]


def test_simhash64_band_completeness_on_planted_dups(spark):
    """Pigeonhole contract: any pair within Hamming <= 3 of 64 bits agrees on
    >= 1 of the 4 bands, so the banded join finds EVERY such pair (recall 1.0
    by construction). Planted: exact dup (hamming 0) + one-token-appended
    near-dup (small hamming)."""
    rows = [(0, BASE), (1, BASE), (2, BASE + " zz"),
            (3, "totally different content about shuffle partitions and very "
                "long documents with many distinct tokens in them today")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = {r.doc_id: (r.b0, r.b1, r.b2, r.b3)
          for r in dedup.simhash64_table(docs).collect()}
    assert all(0 <= v < 65536 for bands in sh.values() for v in bands)
    assert sh[0] == sh[1]  # identical text -> identical 64-bit simhash

    def hamming(x, y):
        return sum(bin(a ^ b).count("1") for a, b in zip(x, y))

    pairs = {(r.doc_a, r.doc_b): r.hamming
             for r in dedup.simhash64_neardup_pairs(docs).collect()}
    assert pairs[(0, 1)] == 0
    # the banded join result == the exact <=3 pair set (completeness)
    ids = sorted(sh)
    exact = {(a, b): hamming(sh[a], sh[b]) for a in ids for b in ids
             if a < b and hamming(sh[a], sh[b]) <= 3}
    assert pairs == exact
    # near-dup pair must be within a few bits (one appended token)
    assert hamming(sh[0], sh[2]) <= 10


def _simhash64_py(text):
    """Pure-Python simhash64 reference (count-weighted votes — identical to
    occurrence-weighted by linearity): bit j of a token's hash is bit (j%4)
    of hex digit (j//4) of md5(token)."""
    import collections
    import hashlib
    import re

    toks = re.sub(r"\s+", " ", text.lower().strip()).split(" ")
    n = len(toks)
    votes = [0] * 64
    for tok, cnt in collections.Counter(toks).items():
        h = hashlib.md5(tok.encode()).hexdigest()
        for j in range(64):
            votes[j] += cnt * ((int(h[j // 4], 16) >> (j % 4)) & 1)
    bands = []
    for b in range(4):
        v = 0
        for k in range(16):
            if 2 * votes[16 * b + k] - n > 0:
                v |= 1 << k
        bands.append(v)
    return tuple(bands)


def test_simhash64_matches_python_reference(spark):
    docs = spark.createDataFrame(
        [(0, BASE), (1, BASE + " zz"), (2, "one two two three three three")],
        "doc_id long, text string")
    got = {r.doc_id: (r.b0, r.b1, r.b2, r.b3)
           for r in dedup.simhash64_table(docs).collect()}
    for i, (_, text) in enumerate([(0, BASE), (1, BASE + " zz"),
                                   (2, "one two two three three three")]):
        assert got[i] == _simhash64_py(text), i


def test_simhash64_no_lane_carry_on_long_doc(spark):
    """A 70k-token document exceeds the OLD 16-bit lane-carry bound (2^16,
    which silently corrupted all four bands); the 32-bit-lane layout must
    produce CORRECT bands for it — pinned against the pure-Python
    reference."""
    long_text = " ".join(f"w{i % 37}" for i in range(70_000))
    docs = spark.createDataFrame(
        [(0, long_text), (1, BASE)], "doc_id long, text string")
    got = {r.doc_id: (r.b0, r.b1, r.b2, r.b3)
           for r in dedup.simhash64_table(docs).collect()}
    assert got[0] == _simhash64_py(long_text)
    assert got[1] == _simhash64_py(BASE)


def test_contamination_flags(spark):
    """Decontamination: a doc copying an 8-gram from the benchmark flags
    (with the right distinct-hit count); clean docs don't; benchmark docs in
    the corpus flag themselves."""
    bench_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, bench_text),                                   # the benchmark doc
        (1, "prefix words then alpha beta gamma delta epsilon zeta eta theta tail"),
        (2, "totally different content with no overlapping gram sequences here"),
        (3, bench_text + " and an extra suffix of words"),  # superset: many hits
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    benchmark = docs.filter(F.col("doc_id") == 0)
    got = {r.doc_id: (r.n_hits, r.contaminated)
           for r in dedup.contamination_flags(docs, benchmark).collect()}
    assert got[0] == (3, True)      # 10 words -> 3 distinct 8-grams, all self-hit
    assert got[1] == (1, True)      # exactly one copied 8-gram window
    assert got[2] == (0, False)
    assert got[3][1] and got[3][0] >= 3  # contains every benchmark 8-gram


def _clusters(df):
    return sorted((r.doc_id, r.cluster_id) for r in df.collect())


def _union_find_clusters(edges):
    """Driver-side connected components: (doc_id, component min) per node."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return sorted((n, find(n)) for n in parent)


def test_neardup_clusters_equals_union_find(spark, corpus):
    """neardup_clusters labels every doc with its component min — the same
    labeling a driver-side union-find gives — on seeded random graphs, a
    long path, duplicate/reversed edges, a self-pair and real near-dup
    pairs."""
    import numpy as np

    cases = []
    rng = np.random.default_rng(11)
    for _ in range(3):  # sparse random graphs: several non-trivial components
        n_nodes, n_edges = 40, 30
        es = {(int(a), int(b)) for a, b in rng.integers(0, n_nodes, (n_edges, 2)) if a != b}
        cases.append(sorted(es))
    cases.append([(i, i + 1) for i in range(60)])       # 61-node path, diameter 60
    cases.append([(0, 1), (1, 0), (2, 3), (3, 2)])      # duplicate/reversed edges
    cases.append([(0, 1), (7, 7)])                      # self-pair-only doc stays
    for edges in cases:
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        # label propagation runs diameter + 1 rounds (61 on the path case)
        got = _clusters(dedup.neardup_clusters(pairs))
        assert got == _union_find_clusters(edges), edges[:8]
    pairs = dedup.ngram_jaccard_pairs(corpus, threshold=0.3)
    edges = [(r.doc_a, r.doc_b) for r in pairs.collect()]
    assert _clusters(dedup.neardup_clusters(pairs)) == _union_find_clusters(edges)


def test_lsh_hyperplanes_match_duckdb_derivation():
    """The md5-derived planes must be re-derivable in DuckDB SQL — the
    property the full lsh_embedding_neardup oracle rests on."""
    import duckdb

    planes = similarity.lsh_hyperplanes(dim=16, bits=4)
    sql = duckdb.sql(f"""
      SELECT j, list_transform(range(0, 16), i ->
               CASE WHEN substr(md5('p{similarity.LSH_SEED}_' || CAST(j AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 1)
                         IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS plane
      FROM (SELECT unnest(range(4)) AS j) ORDER BY j
    """).fetchall()
    assert [list(r[1]) for r in sql] == planes


def test_augment_with_planted_creates_neardups(vectors, spark):
    """Planted negated-coordinate copies score cosine >= 0.8 vs their source
    (the de-vacuation contract), and the LSH path's measured recall on them
    is logged."""
    aug = similarity.augment_with_planted(vectors, every=2, id_offset=1000)
    exact = {(r.vec_a, r.vec_b): r.cos
             for r in similarity.neardup_pairs(aug, threshold=0.8).collect()}
    planted = {(v, v + 1000) for v in range(0, vectors.count(), 2)}
    assert planted <= set(exact), "every planted pair must clear 0.8 exactly"
    found = {(r.vec_a, r.vec_b) for r in
             similarity.lsh_neardup_pairs(aug, threshold=0.8).collect()}
    assert found <= set(exact)  # soundness: LSH emits only true near-dups
    recall = len(found & planted) / len(planted)
    print(f"sign-LSH recall on planted negated-coordinate pairs: {recall:.2f}")
    assert recall > 0  # ANN path finds a nonempty subset; exactness is the
    # oracle's job (the DuckDB twin recomputes the same buckets)


def test_lsh_bucket_table_matches_literal_form(vectors):
    q = similarity.quantized(vectors)
    planes = similarity.lsh_hyperplanes(64)
    lit = {r.vec_id: r.b for r in
           q.withColumn("b", similarity.lsh_bucket(F.col("qvec"), planes)).collect()}
    arrow = {r.vec_id: r.bucket for r in
             similarity._bucket_arrow(q, planes).collect()}
    assert lit == arrow


def test_ivf_table_matches_literal_assignments(vectors):
    lit, _ = similarity.ivf_assign(vectors, n_centroids=4, iters=2)
    tab, _ = similarity.ivf_assign_table(vectors, n_centroids=4, iters=2)
    a = {r.vec_id: r.centroid_id for r in lit.collect()}
    b = {r.vec_id: r.centroid_id for r in tab.collect()}
    assert a == b


def test_ivf_topk_table_matches_literal(vectors):
    lit = {(r.query_id, r.rank): r.neighbor_id
           for r in similarity.ivf_topk(vectors, k=3, n_queries=4, n_centroids=4).collect()}
    tab = {(r.query_id, r.rank): r.neighbor_id
           for r in similarity.ivf_topk_table(vectors, k=3, n_queries=4, n_centroids=4).collect()}
    assert lit == tab


def test_ivf_caches_reclaimed(spark, vectors):
    """ivf_assign/ivf_assign_table register their quantized cache in
    pipeline._PERSISTED so release_persisted() reclaims it — no cached
    frames accumulate across a long-lived session (round-4 verdict #5)."""
    from api_ocr_spark.operators.pipeline import release_persisted

    vectors.count()  # materialize the module fixture's own cache first
    release_persisted()  # drain leftovers from earlier ivf tests
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    before = jmap.size()
    similarity.ivf_topk_table(vectors, k=3, n_queries=2, n_centroids=4).collect()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() > before
    assert release_persisted() >= 1
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_md5_bucket_and_rolling_fingerprint(spark):
    from api_ocr_spark.functions import text as T
    df = spark.createDataFrame(
        [("a b c",), ("c b a",), ("a b c",), ("totally different words",)],
        "t string")
    rows = df.select(
        T.md5_bucket(F.col("t"), 100).alias("b"),
        T.rolling_fingerprint(F.col("t")).alias("fp"),
    ).collect()
    assert all(0 <= r.b < 100 for r in rows)
    fps = [r.fp for r in rows]
    assert fps[0] == fps[2]          # deterministic
    assert fps[0] != fps[1]          # ORDER-sensitive (same tokens reordered)
    assert fps[0] != fps[3]
    assert all(0 <= f < 2147483647 for f in fps)


def test_md5_bucket_roughly_uniform(spark):
    from api_ocr_spark.functions import text as T
    df = spark.range(2000).select(F.col("id").cast("string").alias("t"))
    counts = (df.select(T.md5_bucket(F.col("t"), 10).alias("b"))
              .groupBy("b").count().collect())
    assert len(counts) == 10
    ns = [r["count"] for r in counts]
    assert min(ns) > 2000 / 10 * 0.7 and max(ns) < 2000 / 10 * 1.3


def test_semdedup_drops_higher_id_neardup(vectors):
    out = {r.vec_id: r for r in
           similarity.semdedup(vectors, threshold=0.95, n_centroids=4).collect()}
    assert len(out) == 20
    # vec 1 is a near-identical copy of vec 0 (cos > 0.99): same argmax
    # centroid by construction, so the min-id policy keeps 0 and drops 1
    assert out[0].centroid_id == out[1].centroid_id
    assert out[0].keep == 1 and out[1].keep == 0
    assert all(r.keep == 1 for i, r in out.items() if i != 1)


def test_semdedup_planted_corpus(vectors):
    aug = similarity.augment_with_planted(vectors, every=5)
    out = {r.vec_id: r for r in
           similarity.semdedup(aug, threshold=0.8, n_centroids=4).collect()}
    assert len(out) == 24  # 20 + planted replicas of 0, 5, 10, 15
    co_clustered_drops = 0
    for src in (0, 5, 10, 15):
        rep = out[500_000 + src]
        if rep.centroid_id == out[src].centroid_id:
            # source is the lower id inside the threshold ball -> replica drops
            assert rep.keep == 0
            co_clustered_drops += 1
    # Lloyd must actually co-cluster at least one planted pair, else the
    # keep flags are vacuous
    assert co_clustered_drops >= 1


def test_bloom_history_dedup_no_false_negatives(spark):
    rows = [(i, f"document number {i} with unique words w{i}") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    hist = docs.filter(F.col("doc_id") % 2 == 0)
    out = {r.doc_id: r for r in
           dedup.bloom_history_dedup(docs, hist, m_bits=4096, k=3).collect()}
    assert len(out) == 40
    for i in range(0, 40, 2):  # every history member must hit the filter
        assert out[i].maybe_in_history == 1 and out[i].in_history == 1
    for r in out.values():  # Bloom can over-approximate, never under
        assert r.maybe_in_history >= r.in_history


def test_bloom_false_positives_at_tiny_m(spark):
    # with m=8 bits and 20 history fingerprints the filter saturates: some
    # non-member must collide — the FPR trade is observable and exact
    docs = spark.createDataFrame(
        [(i, f"texto {i} palabras distintas x{i}") for i in range(40)],
        "doc_id long, text string")
    hist = docs.filter(F.col("doc_id") < 20)
    out = dedup.bloom_history_dedup(docs, hist, m_bits=8, k=2).collect()
    fp_rows = [r for r in out if r.maybe_in_history == 1 and r.in_history == 0]
    assert fp_rows, "a saturated 8-bit filter must produce false positives"
    assert all(r.maybe_in_history == 1 for r in out if r.in_history == 1)


def test_bloom_exact_membership_is_textual(spark):
    # same normalized text under a different doc_id is a TRUE member
    docs = spark.createDataFrame(
        [(0, "shared body"), (1, "  SHARED   body "), (2, "other thing")],
        "doc_id long, text string")
    hist = docs.filter(F.col("doc_id") == 0)
    out = {r.doc_id: r for r in
           dedup.bloom_history_dedup(docs, hist, m_bits=4096, k=3).collect()}
    assert out[1].in_history == 1 and out[1].maybe_in_history == 1
    assert out[2].in_history == 0


def test_substring_dedup_exact_spans(spark):
    """Hand-computed Lee-et-al substring dedup at k=3: cross-doc span
    (keeper = first (doc_id,start)), overlapping removed spans union their
    positions, intra-doc repeat drops only the later copy, short docs
    (< k tokens) pass through untouched."""
    rows = [(0, "a b c d e f g"), (1, "x y a b c d z"),
            (2, "p q r s t u"), (3, "m n o w m n o"), (4, "hi there")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.substring_dedup(df, k=3).collect()}
    assert out[0].clean_text == "a b c d e f g"
    assert (out[0].n_removed, out[0].n_dup_spans) == (0, 0)
    # d1 contains d0's "a b c d": grams (a b c),(b c d) are non-keepers at
    # starts 2,3 -> removed positions {2,3,4,5}
    assert out[1].clean_text == "x y z"
    assert (out[1].n_tokens, out[1].n_removed, out[1].n_dup_spans) == (7, 4, 2)
    assert out[2].clean_text == "p q r s t u"
    # intra-doc repeat: second "m n o" (start 4) removed, first kept
    assert out[3].clean_text == "m n o w"
    assert (out[3].n_removed, out[3].n_dup_spans) == (3, 1)
    assert out[4].clean_text == "hi there"


def test_winnow_fingerprints_matches_python_reference(spark):
    """Pin the windowed-argmin encoding against a direct implementation of
    Schleimer et al.'s winnowing (min hash per window, rightmost tie)."""
    import hashlib

    from api_ocr_spark.operators.dedup import winnow_fingerprints

    texts = {
        1: "a b c d e f g h i j",
        2: "a b c d",                 # exactly one gram
        3: "x y z",                   # shorter than k: no grams
        4: "r r r r r r r r",         # all-equal hashes: rightmost ties
    }
    k, w = 4, 4
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {(r.doc_id, r.pos, r.gram_hash)
           for r in winnow_fingerprints(df, k=k, w=w).collect()}

    expect = set()
    for doc, text in texts.items():
        toks = text.split()
        grams = [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
        hs = [int(hashlib.md5(g.encode()).hexdigest()[:10], 16)
              for g in grams]
        if not hs:
            continue
        sel = set()
        for end in range(min(w, len(hs)) - 1, len(hs)):
            window = hs[max(0, end - w + 1):end + 1]
            m = min(window)
            # rightmost occurrence of the min within the window
            off = max(i for i, v in enumerate(window) if v == m)
            sel.add((max(0, end - w + 1) + off, m))
        expect |= {(doc, p, h) for p, h in sel}
    assert got == expect


def test_winnow_shared_run_guarantee(spark):
    """Coverage property: documents sharing a run of >= w+k-1 tokens share
    at least one fingerprint."""
    from api_ocr_spark.operators.dedup import winnow_fingerprints

    shared = "uno dos tres cuatro cinco seis siete"  # 7 = w+k-1 tokens
    df = spark.createDataFrame(
        [(1, "p q " + shared + " r s"), (2, shared + " m n o")],
        "doc_id long, text string")
    out = winnow_fingerprints(df, k=4, w=4).collect()
    fp = {d: set() for d in (1, 2)}
    for r in out:
        fp[r.doc_id].add(r.gram_hash)
    assert fp[1] & fp[2]


def test_setsim_join_equals_bruteforce_exact_jaccard(spark):
    """The prefix filter must be lossless: setsim_join's verified pairs
    equal brute-force exact Jaccard over the same shingle sets."""
    import hashlib

    from api_ocr_spark.operators.dedup import setsim_join

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon")
    texts = {
        1: base,
        2: base + " extra",                    # near-identical
        3: "totally different words here now then when why how what who",
        4: base.replace("gamma", "qqq"),       # mid-edit
        5: "alpha beta gamma",                 # tiny doc
        6: base,                               # exact dup of 1
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {(r.doc_a, r.doc_b, r.n_inter, r.n_union)
           for r in setsim_join(df).collect()}

    def shingles(text):
        ws = text.lower().split()
        n = max(len(ws) - 2, 1)
        return {int(hashlib.md5(" ".join(ws[i:i + 3]).encode())
                    .hexdigest()[:8], 16) for i in range(n)}

    expect = set()
    ids = sorted(texts)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            sa, sb = shingles(texts[a]), shingles(texts[b])
            inter, union = len(sa & sb), len(sa | sb)
            if 5 * inter >= 3 * union:
                expect.add((a, b, inter, union))
    assert got == expect
    assert (1, 2, 18, 21) in got or any(p[:2] == (1, 2) for p in got)
    assert any(p[:2] == (1, 6) for p in got)          # exact dup found
    assert not any(p[:2] == (1, 3) for p in got)      # dissimilar pruned


def test_hard_negatives_exclude_own_cluster(spark):
    """Two well-separated direction groups: each query's negatives all
    come from the OTHER group (its own cluster holds the likely
    positives), ranked by cosine with exact integer dots."""
    from api_ocr_spark.operators.similarity import hard_negatives, ivf_assign_table

    rows = []
    for i in range(6):
        rows.append((i, [1.0, 0.001 * i, 0.0, 0.0]))        # group A
    for i in range(6, 12):
        rows.append((i, [0.0, 0.0, 1.0, 0.001 * i]))        # group B
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = hard_negatives(emb, k=3, n_centroids=2, iters=2, query_mod=6)
    out = got.collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 6}
    # verify the exclusion against the actual clustering (not just the
    # intended A/B split): no neighbor shares its query's centroid
    assigned, _ = ivf_assign_table(emb, n_centroids=2, iters=2)
    cent = {r.vec_id: r.centroid_id for r in assigned.collect()}
    for q, rs in by_q.items():
        assert len(rs) == 3
        ranks = sorted(r.rank for r in rs)
        assert ranks == [1, 2, 3]
        for r in rs:
            assert cent[r.neighbor_id] != cent[q]
    # if Lloyd separated the two direction groups (expected for this
    # geometry), negatives are exactly the other group's members
    if cent[0] != cent[6]:
        assert all(r.neighbor_id >= 6 for r in by_q[0])
        assert all(r.neighbor_id < 6 for r in by_q[6])
    # exact integer dots: group A query vs group B vectors -> dot == 0
    for r in by_q[0]:
        if r.neighbor_id >= 6:
            assert r.dot == 0


def test_containment_join_finds_quotes_jaccard_misses(spark):
    """A 12-token quote inside a 30-token page: containment(Q->A)=1.0
    (10 of 10 shingles) surfaces the ordered pair; the reverse direction
    and Jaccard (10/28 < 3/5) both reject it."""
    from api_ocr_spark.operators.dedup import containment_join, setsim_join

    words = [f"w{i}" for i in range(30)]
    rows = [(1, " ".join(words)),          # source page: 28 shingles
            (2, " ".join(words[:12])),     # quote: 10 shingles, all in A
            (3, "alpha beta gamma delta epsilon")]  # unrelated
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = {(r.doc_a, r.doc_b): (r.n_inter, r.n_a)
             for r in containment_join(df).collect()}
    assert (2, 1) in pairs and pairs[(2, 1)] == (10, 10)
    assert (1, 2) not in pairs          # asymmetric: A is not inside Q
    assert all(3 not in p for p in pairs)
    # the same pair is invisible to the Jaccard join at its threshold
    jac = {(r.doc_a, r.doc_b)
           for r in setsim_join(df).collect()}
    assert (1, 2) not in jac and (2, 1) not in jac


def test_dedup_weights_soft_ledger(spark):
    """Every doc keeps a row; clustered docs get 1/csize, singletons 1/1;
    weight mass per cluster sums to exactly 1 (as a rational)."""
    from api_ocr_spark.operators.dedup import dedup_weights

    docs = spark.createDataFrame([(i, f"t{i}") for i in range(6)],
                                 "doc_id bigint, text string")
    pairs = spark.createDataFrame([(0, 1), (1, 2), (4, 5)],
                                  "doc_a bigint, doc_b bigint")
    got = {r.doc_id: r for r in dedup_weights(docs, pairs).collect()}
    assert len(got) == 6
    for i in (0, 1, 2):
        assert got[i].cluster_id == 0 and got[i].weight_den == 3
    assert got[3].cluster_id == 3 and got[3].weight_den == 1  # singleton
    for i in (4, 5):
        assert got[i].cluster_id == 4 and got[i].weight_den == 2
    assert all(r.weight_num == 1 for r in got.values())


def test_stitch_pages_seam_match(spark):
    """Tail-of-A == head-of-B yields the ordered pair (and only that
    direction); short docs emit no keys; identical docs never self-pair."""
    from api_ocr_spark.operators.dedup import stitch_pages

    art1 = "uno dos tres cuatro cinco seis siete ocho"      # tail: tres..ocho
    art2 = "tres cuatro cinco seis siete ocho nueve diez"   # head matches
    rows = [(1, art1), (2, art2), (3, "corto texto"), (4, art1)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = {(r.doc_a, r.doc_b): r.seam
             for r in stitch_pages(df).collect()}
    assert (1, 2) in pairs
    assert pairs[(1, 2)] == "tres cuatro cinco seis siete ocho"
    assert (2, 1) not in pairs            # directionality
    assert all(3 not in p for p in pairs)  # short doc filtered
    # duplicate docs 1 and 4 share both seams -> cross pairs, no self
    assert (1, 1) not in pairs and (4, 4) not in pairs
    assert (4, 2) in pairs


def test_stitch_chains_walk_and_cycle(spark):
    """A 3-page article reconstructs with positions 0..2 under the head
    page's id; a pure 2-cycle has no head and emits nothing."""
    from api_ocr_spark.operators.dedup import stitch_chains

    p1 = "a1 a2 a3 a4 a5 a6 s1 s2 s3 s4 s5 s6"
    p2 = "s1 s2 s3 s4 s5 s6 t1 t2 t3 t4 t5 t6"
    p3 = "t1 t2 t3 t4 t5 t6 fin del articulo aqui mismo ya"
    # pure cycle: C tail == D head and D tail == C head
    c = "x1 x2 x3 x4 x5 x6 y1 y2 y3 y4 y5 y6"
    d = "y1 y2 y3 y4 y5 y6 x1 x2 x3 x4 x5 x6"
    rows = [(10, p1), (11, p2), (12, p3), (20, c), (21, d),
            (30, "pagina suelta sin relacion alguna con nada")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {(r.doc_id): (r.chain_id, r.chain_pos)
           for r in stitch_chains(df).collect()}
    assert got == {10: (10, 0), 11: (10, 1), 12: (10, 2)}


def test_novelty_score_bloom_fractions(spark):
    """Identical-to-history docs score 0, disjoint docs 1000, and a half
    -overlap doc lands in between; no false negatives by construction."""
    from api_ocr_spark.operators.dedup import novelty_score

    hist = spark.createDataFrame(
        [(100, "uno dos tres cuatro cinco seis siete ocho")],
        "doc_id bigint, text string")
    new = spark.createDataFrame(
        [(1, "uno dos tres cuatro cinco seis siete ocho"),   # all known
         (2, "nueve diez once doce trece catorce quince"),   # all new
         (3, "uno dos tres cuatro nueve diez once doce")],   # mixed
        "doc_id bigint, text string")
    got = {r.doc_id: r for r in novelty_score(new, hist).collect()}
    assert got[1].novelty_milli == 0
    assert got[1].n_known == got[1].n_grams
    assert got[2].novelty_milli == 1000 and got[2].n_known == 0
    assert 0 < got[3].novelty_milli < 1000
    # exact ledger arithmetic
    r3 = got[3]
    assert r3.novelty_milli == (r3.n_grams - r3.n_known) * 1000 // r3.n_grams


def test_embedding_drift_exact_pairs(spark):
    """Hand-computed drift pairs on 2-dim vectors; zero drift when the
    distributions match, exact cross-multiplied diff otherwise."""
    from api_ocr_spark.operators.similarity import embedding_drift

    hist = spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, [0.3, 0.2])],
        "vec_id bigint, embedding array<double>")
    new = spark.createDataFrame(
        [(10, [0.2, 0.2]), (11, [0.2, 0.2]), (12, [0.2, 0.2])],
        "vec_id bigint, embedding array<double>")
    got = {r.dim: r for r in embedding_drift(new, hist).collect()}
    d0, d1 = got[0], got[1]
    # dim0: hist_sum=100+300=400 (n=2), new_sum=600 (n=3):
    # |400*3 - 600*2| = 0 -> identical means
    assert (d0.hist_sum, d0.new_sum, d0.drift_num, d0.drift_den) == \
        (400, 600, 0, 6)
    # dim1: hist 400 over 2 vs new 600 over 3 -> also equal means
    assert d1.drift_num == 0
    # shift the new batch -> nonzero exact drift
    new2 = spark.createDataFrame(
        [(10, [0.5, 0.2])], "vec_id bigint, embedding array<double>")
    got2 = {r.dim: r for r in embedding_drift(new2, hist).collect()}
    # dim0: |400*1 - 500*2| = 600, den = 2 -> mean diff 300 milli-units
    assert (got2[0].drift_num, got2[0].drift_den) == (600, 2)
