"""Similarity search over the embeddings table (array<float> column).

Embeddings are quantized to integers (round(x*1000)) before any arithmetic so
dot products are exact integer sums — bit-identical between Spark and the
DuckDB oracle regardless of float summation order. Cosine then divides by
integer-exact norms under IEEE-754 (correctly-rounded sqrt/divide), keeping
both engines in agreement.

Scale notes: brute-force top-k is the correctness baseline (broadcast the
query set; linear scan of the corpus — embarrassingly parallel). The scale
path is sign-LSH bucketing: 8 deterministic ±1 hyperplanes → 256 buckets;
candidates meet only within a bucket, then exact cosine verifies. All
JVM-side (zip_with/aggregate folds; the hyperplanes are literal arrays).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .pipeline import _PERSISTED

QUANT = 1000
LSH_BITS = 8
LSH_SEED = 7

# Safety margin for Arrow-side candidate pre-pruning against the 6-dp-rounded
# cosine the JVM ranks/filters by: rounding moves a value by <= 0.5e-6, so two
# unrounded cosines more than 2e-6 apart can never swap or tie after rounding.
# Pruning at (local kth best - GEMM_MARGIN) therefore keeps a provable
# superset of every global winner; the JVM re-verifies with the exact rounded
# cosine, so results are bit-identical to the unpruned plan.
GEMM_MARGIN = 5e-6

# All integer dot products in this module are exact in float64 GEMM: the
# quantized components are |q| <= ~1000 (embeddings are unit-scale floats),
# so dots are < 64 * 1e6 ~ 2^26 and every partial sum is an integer far below
# 2^53 — float64 addition of exactly-representable integers with an exactly
# representable sum is exact regardless of order, so BLAS reordering cannot
# change a single bit. _DOT_EXACT_BOUND guards the assumption at runtime.
_DOT_EXACT_BOUND = float(2**52)


def _batch_matrix(batch, col: str, n_rows: int) -> np.ndarray:
    """(n_rows, d) float64 matrix from an Arrow list<int64> column — one
    flatten + reshape (the list values are contiguous), no per-row Python."""
    flat = batch.column(col).flatten().to_numpy(zero_copy_only=False)
    if n_rows == 0:
        return np.empty((0, 0), np.float64)
    d = flat.size // n_rows
    assert flat.size == n_rows * d, "ragged qvec lists"
    return flat.astype(np.float64).reshape(n_rows, d)


def quantized(emb: DataFrame) -> DataFrame:
    """(vec_id:long, qvec:array<long>, norm2:long).

    The x -> double cast is LOAD-BEARING: the parquet embedding column is
    float32, and an engine multiplying in float32 sees a different value
    at the rounding boundary than one multiplying in double (measured:
    0.3195f * 1000 = 319.5f rounds to 320, while the same bits widened
    to double give 319.4999992847 -> 319). Spark already widens
    float*int to double; the explicit cast pins that, and every DuckDB
    oracle mirrors it with CAST(x AS DOUBLE) * 1000 — DuckDB would
    otherwise multiply FLOAT * INT in float and diverge (caught by the
    sf1 sweep on hard_negatives' exact dot column)."""
    qvec = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * QUANT, 0).cast("long"))
    df = emb.select(F.col("vec_id").cast("long").alias("vec_id"), qvec.alias("qvec"))
    norm2 = F.aggregate(F.col("qvec"), F.lit(0).cast("long"), lambda acc, v: acc + v * v)
    return df.withColumn("norm2", norm2)


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, v: acc + v
    )


def cosine(dot_col: Column, norm_a: Column, norm_b: Column) -> Column:
    return F.round(dot_col / F.sqrt((norm_a * norm_b).cast("double")), 6)


def brute_force_topk(
    emb: DataFrame, k: int = 5, n_queries: int = 8
) -> DataFrame:
    """Exact cosine top-k: queries (vec_id < n_queries) against the corpus.
    The query side is broadcast — the big side never shuffles."""
    q = quantized(emb)
    queries = F.broadcast(
        q.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"),
            F.col("qvec").alias("q_qvec"),
            F.col("norm2").alias("q_norm2"),
        )
    )
    corpus = q.select(
        F.col("vec_id").alias("neighbor_id"), F.col("qvec"), F.col("norm2")
    )
    scored = queries.join(corpus, F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        cosine(dot(F.col("q_qvec"), F.col("qvec")), F.col("q_norm2"), F.col("norm2")).alias("cos"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def neardup_pairs(emb: DataFrame, threshold: float = 0.9) -> DataFrame:
    """All pairs (a < b) with cosine >= threshold — quadratic, the exact
    reference; the LSH-bucketed variant is the full-corpus path."""
    q = quantized(emb)
    a = q.select(F.col("vec_id").alias("vec_a"), F.col("qvec").alias("qa"), F.col("norm2").alias("na"))
    b = q.select(F.col("vec_id").alias("vec_b"), F.col("qvec").alias("qb"), F.col("norm2").alias("nb"))
    pairs = a.join(b, F.col("vec_a") < F.col("vec_b")).select(
        "vec_a", "vec_b", cosine(dot(F.col("qa"), F.col("qb")), F.col("na"), F.col("nb")).alias("cos")
    )
    return pairs.filter(F.col("cos") >= threshold)


def lsh_hyperplanes(dim: int = 64, bits: int = LSH_BITS) -> list[list[int]]:
    """Deterministic ±1 hyperplanes, md5-DERIVED (not RNG-seeded): component
    (j, i) is +1 iff the first hex digit of md5('p{LSH_SEED}_{j}_{i}') has its
    high bit set. md5 is the one hash all three engines share (Python
    hashlib here, F.md5 in Spark, md5() in DuckDB), so the ORACLE can
    re-derive the planes in SQL and replicate the whole sign-LSH pipeline —
    the md5_bucket sampling trick generalized to geometry (a seeded numpy
    RNG would make the bucketing engine-private, i.e. only rows-checkable).
    """
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"p{LSH_SEED}_{j}_{i}".encode()).hexdigest()[0], 16) >= 8
            else -1
            for i in range(dim)
        ]
        for j in range(bits)
    ]


def augment_with_planted(emb: DataFrame, every: int = 20, id_offset: int = 500_000) -> DataFrame:
    """Union the corpus with deterministic planted NEAR-duplicates: every
    `every`-th vector is copied to vec_id + id_offset with its first
    coordinate negated — cosine vs the source is 1 − 2·x₀²/‖v‖² ≈ 0.95-0.99,
    comfortably above the 0.8 near-dup threshold while no natural pair
    reaches it (measured max natural cosine: 0.51 at sf0.01, 0.60 at sf0.1).
    The synthetic embeddings fixture has no near-dup pairs at all, which made
    the near-dup oracles vacuously green (0 == 0 rows); this augmentation is
    expressed identically in the DuckDB oracle SQL (negation is float-exact,
    so both engines quantize the same values) and makes them discriminating.
    """
    e = emb.select(F.col("vec_id").cast("long").alias("vec_id"), "embedding")
    planted = e.filter(F.col("vec_id") % every == 0).select(
        (F.col("vec_id") + id_offset).alias("vec_id"),
        F.concat(
            F.array(-F.col("embedding")[0]),
            F.slice(F.col("embedding"), 2, F.size("embedding") - 1),
        ).alias("embedding"),
    )
    return e.unionByName(planted)


def lsh_bucket(qvec: Column, planes: list[list[int]]) -> Column:
    """Sign-LSH bucket id: bit j = sign(qvec · plane_j)."""
    bucket = F.lit(0)
    for j, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(int(v)) for v in plane])
        proj = dot(qvec, lit_plane)
        bucket = bucket + F.when(proj > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket


def _init_rows(q: DataFrame, n_centroids: int, seed: int) -> list:
    """Deterministic Lloyd seeding: the n_centroids rows with smallest
    md5('ivf{seed}_{vec_id}'), centroid_id = rank in that order. md5 (not
    xxhash64) so the DuckDB oracle can re-derive the same seeding in SQL —
    the init is the only non-SQL step Lloyd had; with it md5-derived the
    WHOLE iteration unrolls into the oracle (ORACLE_IVF_ANN_TOPK)."""
    return (
        q.withColumn(
            "h", F.md5(F.concat(F.lit(f"ivf{seed}_"), F.col("vec_id").cast("string")))
        )
        .orderBy("h").limit(n_centroids).select("qvec").collect()
    )


def ivf_assign(emb: DataFrame, n_centroids: int = 16, iters: int = 3, seed: int = 11) -> tuple[DataFrame, list[list[float]]]:
    """IVF coarse quantizer: distributed Lloyd iterations over the quantized
    vectors. Centroids are seeded from deterministic corpus rows (vec_id
    hashing), refined with `iters` assign/average rounds — each round is one
    broadcast (centroid literals) + one groupBy. Returns (assignments df
    (vec_id, qvec, norm2, centroid_id), centroids).

    The cached quantized frame is registered in pipeline._PERSISTED (the
    returned assignments still reference it, so it cannot be unpersisted
    here); release_persisted() reclaims it — bench.py does so per query and
    extract_documents drains the registry on entry."""
    q = quantized(emb).cache()
    _PERSISTED.append(q)
    centroids = [[int(v) for v in r.qvec] for r in _init_rows(q, n_centroids, seed)]

    def assign(cents: list[list[int]]) -> DataFrame:
        # nearest centroid by maximum cosine against literal centroid arrays
        best_id = F.lit(0)
        best_cos = F.lit(-2.0)
        for cid, c in enumerate(cents):
            lit_c = F.array(*[F.lit(int(v)).cast("long") for v in c])
            n_c = sum(v * v for v in c) or 1.0
            cos = dot(F.col("qvec"), lit_c) / F.sqrt((F.col("norm2") * F.lit(n_c)).cast("double"))
            best_id = F.when(cos > best_cos, F.lit(cid)).otherwise(best_id)
            best_cos = F.greatest(best_cos, cos)
        return q.withColumn("centroid_id", best_id)

    for _ in range(iters):
        assigned = assign(centroids)
        agg = assigned.groupBy("centroid_id").agg(
            *[F.avg(F.col("qvec")[d]).alias(f"d{d}") for d in range(len(centroids[0]))]
        ).collect()
        # integer centroids keep the dot-product fold in the bigint domain
        new = {r.centroid_id: [int(round(r[f"d{d}"])) for d in range(len(centroids[0]))] for r in agg}
        centroids = [new.get(i, centroids[i]) for i in range(len(centroids))]
    return assign(centroids), centroids


def ivf_topk(emb: DataFrame, k: int = 5, n_queries: int = 8, n_centroids: int = 16,
             n_probe: int = 4) -> DataFrame:
    """IVF approximate top-k: queries probe only their `n_probe` nearest
    centroids' inverted lists — candidate set shrinks ~n_centroids/n_probe
    fold vs brute force (the 100 TB path; recall measured in tests)."""
    assigned, centroids = ivf_assign(emb, n_centroids)
    # per-vector distances to every centroid → probe sets for the query side
    probes = None
    queries = assigned.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("qvec").alias("q_qvec"),
        F.col("norm2").alias("q_norm2"))
    cos_cols = []
    for cid, c in enumerate(centroids):
        lit_c = F.array(*[F.lit(int(v)).cast("long") for v in c])
        n_c = sum(v * v for v in c) or 1.0
        cos_cols.append(
            F.struct(
                (dot(F.col("q_qvec"), lit_c) / F.sqrt((F.col("q_norm2") * F.lit(n_c)).cast("double"))).alias("cos"),
                F.lit(cid).alias("cid"),
            )
        )
    probe_arr = F.slice(F.reverse(F.array_sort(F.array(*cos_cols))), 1, n_probe)
    # One row per (query, probed centroid): the probe membership test becomes
    # an EQUI-join on centroid_id (hash join; each vector lives in exactly one
    # inverted list, so no dedup is needed) instead of an
    # array_contains theta-join, which planned as a CartesianProduct pairing
    # every query with every corpus vector — at scale that enumeration is
    # |Q|×|corpus| and the inverted-file saving evaporates.
    probed = queries.select(
        "query_id", "q_qvec", "q_norm2",
        F.explode(F.transform(probe_arr, lambda s: s.cid)).alias("centroid_id"),
    )
    _ = probes
    cand = F.broadcast(probed).join(
        assigned.select(F.col("vec_id").alias("neighbor_id"), "qvec", "norm2", "centroid_id"),
        "centroid_id",
    ).filter(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id", "neighbor_id",
        cosine(dot(F.col("q_qvec"), F.col("qvec")), F.col("q_norm2"), F.col("norm2")).alias("cos"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def _bucket_arrow(q: DataFrame, planes: list[list[int]]) -> DataFrame:
    """(vec_id, qvec, norm2) + sign-LSH bucket via one exact GEMM against
    the ±1 plane matrix in an Arrow stage (integer projections, so the
    `> 0` sign test is exact) — bit-identical to lsh_bucket's interpreted
    per-plane fold, with zero shuffles."""
    import pyarrow as pa

    pmat = np.asarray(planes, dtype=np.float64)
    pows = (1 << np.arange(len(planes), dtype=np.int64))

    def fn(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            qm = _batch_matrix(batch, "qvec", n)
            bucket = (((qm @ pmat.T) > 0) @ pows).astype(np.int32)
            yield batch.append_column("bucket", pa.array(bucket, pa.int32()))

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in q.schema.fields
    ) + ", bucket int"
    return q.mapInArrow(fn, out_schema)


def lsh_neardup_pairs(emb: DataFrame, threshold: float = 0.9) -> DataFrame:
    """Scale path: bucket by sign-LSH, meet within buckets, verify exact
    cosine. Misses cross-bucket pairs by design (ANN semantics).

    Both stages run as exact vectorized Arrow passes (guide §4.2): bucketing
    is one GEMM against the ±1 plane matrix, and the within-bucket meet is a
    per-bucket gram matrix emitting a margin-pruned candidate superset that
    the JVM re-filters with the exact 6-dp-rounded cosine — output identical
    to the bucket-equi-join + interpreted-fold plan this replaces."""
    planes = lsh_hyperplanes()
    bucketed = _bucket_arrow(quantized(emb), planes)
    return (
        _group_pair_candidates(bucketed, "bucket", threshold)
        .select("vec_a", "vec_b",
                cosine(F.col("dp"), F.col("na"), F.col("nb")).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def centroid_table(spark, centroids: list[list[int]]) -> DataFrame:
    """Centroids as a (centroid_id, cvec, cnorm2) DataFrame — the k >= 256
    path: literal centroid expressions grow the plan O(k·d); a broadcast
    TABLE join keeps the plan constant-size at any codebook size."""
    rows = [(cid, [int(v) for v in c], int(sum(v * v for v in c)) or 1)
            for cid, c in enumerate(centroids)]
    return spark.createDataFrame(
        rows, "centroid_id int, cvec array<bigint>, cnorm2 bigint")


def _assign_arrow(q: DataFrame, book: list[list[int]]) -> DataFrame:
    """(vec_id, qvec, norm2) + centroid_id via exact GEMM against the k×d
    codebook in one Arrow stage — no shuffle at all (the old shape paid a
    broadcast join + max_by groupBy + re-join per round). Exactness: dots
    and norm products are integers < 2^53 (asserted), so the float64 GEMM,
    sqrt and divide are the same IEEE ops the JVM fold computed; argmax
    returns the FIRST max = smallest centroid_id, identical to
    max_by(centroid_id, struct(ccos, -cid)) incl. the all-NaN zero-norm
    row case (both engines then pick centroid 0)."""
    import pyarrow as pa

    cmat = np.asarray(book, dtype=np.float64)
    cn = (cmat * cmat).sum(axis=1)
    cn[cn == 0.0] = 1.0  # centroid_table's zero-norm guard
    assert float(np.abs(cmat).sum(axis=1).max() ** 2) < _DOT_EXACT_BOUND

    def fn(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            qm = _batch_matrix(batch, "qvec", n)
            n2 = batch.column("norm2").to_numpy(
                zero_copy_only=False).astype(np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (qm @ cmat.T) / np.sqrt(n2[:, None] * cn[None, :])
            cid = cos.argmax(axis=1).astype(np.int32)
            yield batch.append_column(
                "centroid_id", pa.array(cid, pa.int32()))

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in q.schema.fields
    ) + ", centroid_id int"
    return q.mapInArrow(fn, out_schema)


def ivf_assign_table(emb: DataFrame, n_centroids: int = 16,
                     iters: int = 3) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer with the centroid codebook as a broadcast TABLE
    (vs ivf_assign's literal expressions — same math, plan size independent
    of k·d, so it scales to production codebooks of 256-65536 centroids).

    Each Lloyd round: centroid assignment runs as ONE Arrow stage doing an
    exact float64 GEMM of the batch against the k×d codebook (guide §4.2 —
    whole batches through native vectorized code; integer dots < 2^53 are
    exact in float64, so this is bit-identical to the per-pair Catalyst fold
    it replaced, which evaluated an INTERPRETED zip_with/aggregate per
    (vector, centroid) pair). argmax-with-min-id tie-break is numpy argmax
    (first max), matching max_by(centroid_id, struct(ccos, -cid)). The
    per-(centroid, dim) mean stays a posexplode + one codegen'd groupBy.
    Returns (assignments(vec_id, qvec, norm2, centroid_id), codebook df).

    As in ivf_assign, the cached quantized frame goes into
    pipeline._PERSISTED for reclamation via release_persisted()."""
    spark = emb.sparkSession
    q = quantized(emb).cache()
    _PERSISTED.append(q)
    seed_rows = _init_rows(q, n_centroids, 11)
    # the codebook list stays driver-side across rounds (k rows — tiny), so
    # empty-centroid carry-forward needs no collect of the cents frame
    book = [[int(v) for v in r.qvec] for r in seed_rows]
    cents = centroid_table(spark, book)

    def assign(codebook: list[list[int]]) -> DataFrame:
        return _assign_arrow(q, codebook)

    dim = len(seed_rows[0].qvec)
    for _ in range(iters):
        assigned = assign(book)
        means = (
            assigned.select("centroid_id", F.posexplode("qvec").alias("d", "v"))
            .groupBy("centroid_id", "d")
            .agg(F.avg("v").alias("m"))
            .groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("d", "m"))).alias("dm"))
            .select(
                "centroid_id",
                # bround = HALF_EVEN, matching python round() in ivf_assign
                F.transform(F.col("dm"), lambda s: F.bround(s.m, 0).cast("bigint")).alias("cvec"),
            )
            .collect()
        )
        new = {r.centroid_id: list(r.cvec) for r in means}
        book = [new.get(i, book[i]) for i in range(n_centroids)]
        cents = centroid_table(spark, book)
        _ = dim
    return assign(book), cents


def ivf_topk_table(emb: DataFrame, k: int = 5, n_queries: int = 8,
                   n_centroids: int = 16, n_probe: int = 4) -> DataFrame:
    """IVF approximate top-k over the TABLE codebook: the query side scores
    all centroids via a broadcast join (not k literal expressions), keeps
    its n_probe nearest, then candidates meet only inside probed inverted
    lists — identical shape to ivf_topk but plan-size-safe for big k."""
    from pyspark.sql.window import Window

    assigned, cents = ivf_assign_table(emb, n_centroids)
    queries = assigned.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("qvec").alias("q_qvec"),
        F.col("norm2").alias("q_norm2"))
    ccos = dot(F.col("q_qvec"), F.col("cvec")) / F.sqrt(
        (F.col("q_norm2") * F.col("cnorm2")).cast("double"))
    wq = Window.partitionBy("query_id").orderBy(F.desc("ccos"), F.asc("centroid_id"))
    # One row per (query, probed centroid) straight off the window filter —
    # no collect_set round-trip — so the probe test is an EQUI-join on
    # centroid_id (BroadcastHashJoin; each vector is in exactly one inverted
    # list, so the join emits each candidate once). The previous
    # array_contains theta-join planned as a CartesianProduct over the whole
    # corpus, defeating the inverted-file pruning at production query counts.
    probes = (
        queries.crossJoin(F.broadcast(cents))
        .select("query_id", "q_qvec", "q_norm2", "centroid_id", ccos.alias("ccos"))
        .withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= n_probe)
        .select("query_id", "q_qvec", "q_norm2", "centroid_id")
    )
    cand = F.broadcast(probes).join(
        assigned.select(F.col("vec_id").alias("neighbor_id"), "qvec", "norm2", "centroid_id"),
        "centroid_id",
    ).filter(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id", "neighbor_id",
        cosine(dot(F.col("q_qvec"), F.col("qvec")), F.col("q_norm2"), F.col("norm2")).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def _group_pair_candidates(grouped: DataFrame, key_col: str,
                           threshold: float) -> DataFrame:
    """Within-group near-dup pair CANDIDATES (vec_a < vec_b) via one exact
    gram matrix per group (Q @ Qᵀ — guide §4.2), pre-pruned at
    (threshold - GEMM_MARGIN) on the UNROUNDED cosine: a provable superset
    of every pair whose 6-dp-rounded cosine passes `threshold` (rounding
    moves a cosine by <= 0.5e-6 < GEMM_MARGIN). The caller re-applies the
    exact rounded-cosine filter JVM-side on the emitted exact integer
    (dp, na, nb), so results are bit-identical to the pairwise-join form
    this replaces — which evaluated an interpreted 64-element fold per
    candidate pair, quadratic per group. NaN cosines (zero-norm vectors)
    are kept: Spark ranks NaN above every double, so they must reach the
    JVM filter."""
    import pandas as pd

    def pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        qm = np.stack(pdf["qvec"].to_numpy()[order]).astype(np.float64)
        n2 = pdf["norm2"].to_numpy()[order].astype(np.float64)
        gram = qm @ qm.T
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = gram / np.sqrt(n2[:, None] * n2[None, :])
        iu, ju = np.triu_indices(len(ids), k=1)
        c = cos[iu, ju]
        keep = (c >= threshold - GEMM_MARGIN) | np.isnan(c)
        iu, ju = iu[keep], ju[keep]
        return pd.DataFrame({
            "vec_a": ids[iu], "vec_b": ids[ju],
            "dp": gram[iu, ju].astype(np.int64),
            "na": n2[iu].astype(np.int64),
            "nb": n2[ju].astype(np.int64),
        })

    return grouped.select("vec_id", "qvec", "norm2", key_col).groupBy(
        key_col).applyInPandas(
        pairs, schema="vec_a long, vec_b long, dp long, na long, nb long")


def semdedup(emb: DataFrame, threshold: float = 0.8, n_centroids: int = 16) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al. 2023, arXiv:2303.09540):
    cluster the corpus with the md5-seeded Lloyd coarse quantizer
    (ivf_assign_table — broadcast codebook, so the codebook can grow to
    production sizes without bloating the plan), then prune WITHIN each
    cluster: a vector is dropped iff a lower-id member of its own cluster
    sits inside the cosine-`threshold` ball. Min-id keep policy — fully
    deterministic and SQL-replicable; the paper keeps a random exemplar (or
    the one farthest from the centroid), a pinned deviation documented here.
    Cross-cluster near-dups are NOT found — that approximation is the
    algorithm's published trade (recall vs the quadratic global meet).

    Returns (vec_id, centroid_id, keep) for every corpus vector.

    Shape at 100 TB: the pair meet is an EQUI-join on centroid_id (shuffle
    hash/SMJ — never a cartesian), quadratic only inside one inverted list,
    which is the published algorithm's own cost model; cluster size is
    bounded by scaling n_centroids with the corpus (k ≈ N / target cluster
    size) so each list stays executor-sized. The drop set is distinct'd
    BEFORE the flag join, so boilerplate-heavy clusters cannot fan the join
    out."""
    assigned, _ = ivf_assign_table(emb, n_centroids=n_centroids)
    # per-cluster gram-matrix candidates (exact superset; see
    # _group_pair_candidates), then the SAME exact rounded-cosine filter
    # this operator always applied — on the exact integer (dp, na, nb)
    dropped = (
        _group_pair_candidates(assigned, "centroid_id", threshold)
        .filter(cosine(F.col("dp"), F.col("na"), F.col("nb")) >= threshold)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("dropped", F.lit(1))
    )
    return assigned.join(dropped, "vec_id", "left").select(
        "vec_id", "centroid_id",
        F.when(F.col("dropped").isNull(), F.lit(1)).otherwise(F.lit(0))
        .cast("long").alias("keep"),
    )


def hard_negatives(emb: DataFrame, k: int = 5, n_centroids: int = 16,
                   iters: int = 3, query_mod: int = 101) -> DataFrame:
    """Hard-negative mining for contrastive retrieval training (the DPR /
    Contriever recipe, Karpukhin et al. 2020 §3.2: negatives that are
    similar but NOT positives train the encoder hardest). For each query
    vector (vec_id % query_mod == 0 — a deterministic stand-in for the
    labeled query set), return the k highest-cosine corpus vectors from
    OUTSIDE the query's own Lloyd cluster: same-cluster vectors are the
    likely positives/near-dups (the SemDeDup ball), so excluding the
    cluster is the published 'filter likely positives' step expressed
    with the engine's own coarse quantizer.

    Exactness: clustering is the md5-seeded Lloyd of ivf_assign_table
    (oracle unrolls it); ranking uses the 6-dp-rounded cosine over
    integer-quantized dots (both engines compute the identical double),
    ties break by neighbor_id; the emitted `dot` column is the exact
    int64 inner product.

    Shape at 100 TB: the query matrix is SHIPPED INSIDE the Arrow stage's
    closure (the brute_force_topk pattern — the corpus never shuffles to
    meet the queries) and each batch is scored with one exact float64 GEMM
    (guide §4.2; the previous broadcast theta-join evaluated an interpreted
    64-element fold per (query, corpus) pair). Each batch keeps only a
    margin-pruned per-query top-k superset (GEMM_MARGIN proof: a candidate
    beaten by >= k batch-mates whose unrounded cosine exceeds it by more
    than 2e-6 is beaten strictly after 6-dp rounding too), so the only
    exchange after assignment is the per-query top-k window over a
    batch-count × query-count bounded candidate set. The JVM recomputes
    the exact rounded cosine from the exact integer (dp, norms) and ranks —
    results bit-identical to the unpruned plan. For query sets too big to
    ship, route per-cluster: IVF-probe the nearest non-own clusters
    (ivf_topk_table's equi-join shape) — the documented scale fallback."""
    import pyarrow as pa
    from pyspark.sql.window import Window

    assigned, _ = ivf_assign_table(emb, n_centroids=n_centroids, iters=iters)
    qrows = (
        assigned.where(F.col("vec_id") % query_mod == 0)
        .select("vec_id", "qvec", "norm2", "centroid_id").collect()
    )  # query-cardinality-bounded, same contract as the broadcast it replaces
    if not qrows:
        return emb.sparkSession.createDataFrame(
            [], "query_id long, rank int, neighbor_id long, dot long")
    qmat = np.asarray([list(r.qvec) for r in qrows], dtype=np.float64)
    qn2 = np.asarray([r.norm2 for r in qrows], dtype=np.float64)
    qcid = np.asarray([r.centroid_id for r in qrows], dtype=np.int64)
    qids = np.asarray([r.vec_id for r in qrows], dtype=np.int64)
    qn2_long = qn2.astype(np.int64)

    def fn(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            qm = _batch_matrix(batch, "qvec", n)
            n2 = batch.column("norm2").to_numpy(
                zero_copy_only=False).astype(np.float64)
            vid = batch.column("vec_id").to_numpy(zero_copy_only=False)
            cid = batch.column("centroid_id").to_numpy(zero_copy_only=False)
            dots = qm @ qmat.T                                   # n × nq
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots / np.sqrt(n2[:, None] * qn2[None, :])
            valid = ((cid[:, None] != qcid[None, :])
                     & (vid[:, None] != qids[None, :]))
            cm = np.where(valid, cos, -np.inf)
            if n > k:
                kth = np.partition(cm, n - k, axis=0)[n - k, :]
            else:
                kth = np.full(cm.shape[1], -np.inf)
            keep = valid & ((cm >= kth[None, :] - GEMM_MARGIN)
                            | np.isnan(cm))
            rows, qcols = np.nonzero(keep)
            yield pa.record_batch(
                [pa.array(qids[qcols], pa.int64()),
                 pa.array(vid[rows].astype(np.int64), pa.int64()),
                 pa.array(dots[rows, qcols].astype(np.int64), pa.int64()),
                 pa.array(n2[rows].astype(np.int64), pa.int64()),
                 pa.array(qn2_long[qcols], pa.int64())],
                names=["query_id", "neighbor_id", "dp", "norm2", "q_norm2"])

    cand = assigned.mapInArrow(
        fn,
        "query_id long, neighbor_id long, dp long, norm2 long, q_norm2 long",
    ).select(
        "query_id", "neighbor_id", "dp",
        cosine(F.col("dp"), F.col("q_norm2"), F.col("norm2")).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id",
                F.col("rank").cast("int").alias("rank"),
                "neighbor_id",
                F.col("dp").cast("long").alias("dot"))
    )


def embedding_drift(new_emb: DataFrame, hist_emb: DataFrame) -> DataFrame:
    """Per-dimension embedding-distribution drift between a history
    corpus and a new batch — the continual-training monitor that decides
    whether an embedding space (and everything calibrated against it:
    IVF codebooks, SemDeDup thresholds, ANN recall) is still valid after
    a crawl refresh. For each dimension d:

        (dim, hist_sum, new_sum, n_hist, n_new, drift_num, drift_den)

    over integer-quantized coordinates, where drift_num/drift_den is the
    EXACT |mean_new - mean_hist| as a cross-multiplied pair
    (|hist_sum*n_new - new_sum*n_hist|, n_hist*n_new) — no IEEE mean
    ever materializes, so the DuckDB twin is an equality check.
    Thresholding (e.g. re-train the codebook when any dim drifts past
    epsilon) cross-multiplies downstream.

    Shape at 100 TB: ONE posexplode + dim-keyed map-side-partial
    groupBy per side (dims are the reduce keys — output is d rows
    regardless of corpus size), then a d-row join. Nothing corpus-sized
    shuffles beyond the two dimension censuses."""
    def dim_sums(emb: DataFrame, sum_name: str, cnt_name: str) -> DataFrame:
        q = quantized(emb)
        return (
            q.select(F.posexplode("qvec").alias("dim", "v"))
            .groupBy("dim")
            .agg(F.sum("v").cast("long").alias(sum_name),
                 F.count("*").cast("long").alias(cnt_name))
        )

    h = dim_sums(hist_emb, "hist_sum", "n_hist")
    n = dim_sums(new_emb, "new_sum", "n_new")
    return h.join(n, "dim").select(
        F.col("dim").cast("long").alias("dim"),
        "hist_sum", "new_sum", "n_hist", "n_new",
        F.abs(F.col("hist_sum") * F.col("n_new")
              - F.col("new_sum") * F.col("n_hist"))
        .cast("long").alias("drift_num"),
        (F.col("n_hist") * F.col("n_new")).cast("long").alias("drift_den"),
    )
