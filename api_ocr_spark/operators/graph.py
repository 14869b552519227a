"""Host-level link-graph centrality (crawl prioritization).

The web-graph leg of a crawl pipeline: aggregate page-level outlinks into a
weighted host→host graph, then rank hosts by PageRank power iteration —
what CommonCrawl-scale crawls use to decide fetch priority (harmonic/
PageRank host rankings; Brin & Page 1998 for the recurrence).

Arithmetic is INTEGER throughout, deliberately: ranks start at R0, each
round a node sends `(r * 85 * w) DIV (100 * out_w)` (damping 85/100) along
each out-edge (floored integer division — positive operands, so Spark's
DIV and DuckDB's // agree bit-for-bit) and collects `BASE + Σ shares`.
Floating-point PageRank sums in engine-dependent order; the floored-integer
twin is deterministic across engines, which is what makes the oracle an
equality check rather than a tolerance check. Dangling mass (hosts with no
out-edges) is dropped, as in the plain formulation — documented deviation
from the redistribute-everywhere variant.

Shape at 100 TB: the page→host-pair extraction is the heavy stage (one
map-side-partial groupBy over the corpus); the graph itself is ~10^7 hosts
— the rank/edge frames stay distributed DataFrames and each round is two
equi-joins + one aggregation on host keys, so the same code runs whether
the graph fits one executor or a thousand.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def aggregate_edges(pairs: DataFrame) -> DataFrame:
    """(src, dst) page-level pairs -> weighted host graph (src, dst, w).
    Map-side partial counts absorb boilerplate fan-in before the shuffle."""
    return pairs.groupBy("src", "dst").agg(F.count("*").alias("w"))


# The recurrence pagerank_int and trustrank_int share: RANK_ROUNDS rounds,
# damping DAMPING_NUM/DAMPING_DEN, start mass R0 and per-round base mass
# BASE. R0 * DAMPING_NUM * max(w) stays below 2^63 (~5 orders of magnitude
# of headroom at corpus scale); DuckDB would raise on overflow while Spark
# wraps, so the bound is what keeps the twin exact.
RANK_ROUNDS = 3
DAMPING_NUM, DAMPING_DEN = 85, 100
R0 = 1_000_000
BASE = 150_000


def _rank_rounds(edges: DataFrame, outw: DataFrame, nodes: DataFrame,
                 ranks: DataFrame, base: Column) -> DataFrame:
    """RANK_ROUNDS rounds of the floored-integer rank recurrence: every
    node sends (r * DAMPING_NUM * w) DIV (DAMPING_DEN * out_w) along each
    out-edge, then takes `base` plus the shares it received."""
    for _ in range(RANK_ROUNDS):
        contrib = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .join(outw, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr(f"(r * {DAMPING_NUM} * w) "
                       f"DIV ({DAMPING_DEN} * out_w)").alias("share"),
            )
            .groupBy("node").agg(F.sum("share").alias("s"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            (base + F.coalesce(F.col("s"), F.lit(0))).cast("long").alias("r"),
        )
    return ranks


def pagerank_int(edges: DataFrame) -> DataFrame:
    """Integer PageRank over a weighted edge frame (src, dst, w) —
    returns (host, pagerank, out_w, in_w) after RANK_ROUNDS rounds."""
    # materialize the aggregated graph ONCE: every rank round and the
    # degree joins reference it, and without the cut each unrolled round
    # would re-run the corpus-wide pair extraction (the minhash shingle-
    # frame lesson — localCheckpoint, not cache, so the lineage is cut and
    # the plan shows a single source pass)
    edges = edges.localCheckpoint(eager=True)
    nodes = (edges.select(F.col("src").alias("node"))
             .unionByName(edges.select(F.col("dst").alias("node")))
             .distinct())
    outw = edges.groupBy("src").agg(F.sum("w").alias("out_w"))
    inw = edges.groupBy("dst").agg(F.sum("w").alias("in_w"))
    ranks = nodes.select("node", F.lit(R0).cast("long").alias("r"))
    ranks = _rank_rounds(edges, outw, nodes, ranks, F.lit(BASE))
    return (
        ranks.join(outw, ranks["node"] == outw["src"], "left")
        .join(inw, ranks["node"] == inw["dst"], "left")
        .select(
            F.col("node").alias("host"),
            F.col("r").alias("pagerank"),
            F.coalesce(F.col("out_w"), F.lit(0)).cast("long").alias("out_w"),
            F.coalesce(F.col("in_w"), F.lit(0)).cast("long").alias("in_w"),
        )
    )


def anchor_text_index(pages: DataFrame) -> DataFrame:
    """Anchor-text index — what a page's INBOUND link text says about it,
    the classic off-page relevance/quality signal (Brin & Page 1998 §2.2
    store anchor text with the target, not the source; search and
    quality-classifier pipelines over CommonCrawl do the same): extract
    outlinks, resolve each href against its source page's host
    (path-relative hrefs join the source host; absolute hrefs keep their
    own), drop intra-host links, and aggregate per TARGET host: inbound
    link count, distinct linking hosts, and the most frequent anchor term
    (ties broken toward the lexicographically larger term — max-struct
    order, mirrored in the oracle).

    Shape at 100 TB: link extraction + href resolution never shuffle
    (codegen'd map, source URL carried through the posexplode); the term
    census is one map-side-partial groupBy on (dst_host, term) — anchor
    spam ("click here" a billion times) collapses per map task — followed
    by a per-host max-struct argmax and an equi-join with the host stats
    frame, both keyed on dst_host so AQE can plan/skew-split them."""
    from ..functions.html import extract_links
    from ..functions.text import tokens
    from ..functions.url import SCHEME_CI_PATTERN, url_host

    links = extract_links(pages, carry=("url",))
    dst = F.when(F.col("href").rlike(SCHEME_CI_PATTERN), F.col("href")) \
        .otherwise(F.concat(F.lit("https://"), url_host(F.col("url")),
                            F.col("href")))
    edges = links.select(
        url_host(F.col("url")).alias("src_host"),
        url_host(dst).alias("dst_host"),
        F.col("anchor_text"),
    ).filter(F.col("dst_host") != F.col("src_host"))
    stats = edges.groupBy("dst_host").agg(
        F.count("*").cast("long").alias("n_links"),
        F.countDistinct("src_host").cast("long").alias("n_src_hosts"),
    )
    terms = (
        edges.select("dst_host",
                     F.explode(tokens(F.col("anchor_text"))).alias("term"))
        .filter(F.length("term") > 0)
        .groupBy("dst_host", "term").agg(F.count("*").alias("n"))
    )
    top = terms.groupBy("dst_host").agg(
        F.max(F.struct("n", "term")).alias("m"))
    return stats.join(top, "dst_host", "left").select(
        "dst_host", "n_links", "n_src_hosts",
        F.coalesce(F.col("m.term"), F.lit("")).alias("top_anchor_term"),
        F.coalesce(F.col("m.n"), F.lit(0)).cast("long")
        .alias("top_term_count"),
    )


HITS_ROUNDS = 2
HITS_SCALE = 1_000_000


def hits_int(edges: DataFrame) -> DataFrame:
    """Integer HITS (Kleinberg, JACM 1999 — "Authoritative Sources in a
    Hyperlinked Environment") over a weighted host edge frame
    (src, dst, w): authority(j) = Σ_{i→j} w·hub(i) (the I operation),
    then hub(i) = Σ_{i→j} w·authority(j) (the O operation, using the
    ROUND'S NEW authorities), repeated HITS_ROUNDS rounds. The complement of
    pagerank_int for crawl prioritization: authorities are where content
    concentrates, hubs are the directory pages that find it.

    The paper normalizes by L2 after each half-step; this engine
    floor-rescales to HITS_SCALE (v * HITS_SCALE DIV max(v)) — an exact-integer,
    ranking-equivalent analogue (both are positive scalar multiples
    modulo the floor; pinned vs a float reference in tests), so the
    DuckDB oracle is exact equality like pagerank_int's. max(v) is a
    1-row collect per half-step (centroid pattern). Keep
    HITS_SCALE * max(w) * max_in_degree below 2^63 — ~5 orders of
    headroom; DuckDB raises on overflow while Spark wraps, so the twin
    guards the bound.

    Shape at 100 TB: rounds are host-keyed equi-joins + map-side-partial
    aggregations on the localCheckpointed edge frame — the pagerank_int
    shuffle story; no per-round corpus pass."""
    edges = edges.localCheckpoint(eager=True)
    nodes = (edges.select(F.col("src").alias("node"))
             .unionByName(edges.select(F.col("dst").alias("node")))
             .distinct().localCheckpoint(eager=True))

    def rescale(df: DataFrame, col: str) -> DataFrame:
        mx = df.agg(F.max(col)).collect()[0][0] or 1
        return df.select(
            "node",
            F.expr(f"{col} * {HITS_SCALE} DIV {max(mx, 1)}").alias(col))

    hubs = nodes.select("node", F.lit(HITS_SCALE).cast("long").alias("h"))
    auth = nodes.select("node", F.lit(HITS_SCALE).cast("long").alias("a"))
    for _ in range(HITS_ROUNDS):
        a_in = (
            edges.join(hubs, edges["src"] == hubs["node"])
            .select(F.col("dst").alias("node"),
                    (F.col("w") * F.col("h")).alias("x"))
            .groupBy("node").agg(F.sum("x").alias("s"))
        )
        auth = rescale(
            nodes.join(a_in, "node", "left").select(
                "node", F.coalesce(F.col("s"), F.lit(0)).cast("long")
                .alias("a")), "a")
        h_out = (
            edges.join(auth, edges["dst"] == auth["node"])
            .select(F.col("src").alias("node"),
                    (F.col("w") * F.col("a")).alias("x"))
            .groupBy("node").agg(F.sum("x").alias("s"))
        )
        hubs = rescale(
            nodes.join(h_out, "node", "left").select(
                "node", F.coalesce(F.col("s"), F.lit(0)).cast("long")
                .alias("h")), "h")
    return (
        nodes.join(auth, "node").join(hubs, "node")
        .select(F.col("node").alias("host"),
                F.col("a").alias("authority"), F.col("h").alias("hub"))
    )


def trustrank_int(edges: DataFrame, seeds: DataFrame) -> DataFrame:
    """Integer TrustRank (Gyongyi et al., VLDB 2004): PageRank whose
    teleport mass lands ONLY on a curated trusted seed set, so trust
    attenuates with link distance from the seeds — the classic crawl
    spam-demotion signal (a reputable-looking host that no trusted host
    reaches transitively scores ~0 regardless of raw in-degree, which
    plain PageRank cannot express).

    Same exact-integer recurrence as pagerank_int (floored shares, the
    oracle is an equality unroll); the only deltas are the seed-indicator
    initial vector (R0 on seeds, 0 elsewhere) and the per-round base mass
    (BASE on seeds, 0 elsewhere). The seed table is broadcast — trusted
    lists are small by definition (ODP-style curation in the paper).
    Returns (host, trustrank, is_seed)."""
    edges = edges.localCheckpoint(eager=True)
    seed_marks = F.broadcast(
        seeds.select(F.col("node")).distinct()
        .withColumn("is_seed_m", F.lit(True)))
    # host-cardinality frame referenced by every round AND the final join:
    # checkpoint once so the unrolled plan doesn't re-derive the
    # union+distinct+seed-join subtree per round (82 -> ~40 plan exchanges)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .join(seed_marks, "node", "left")
        .select("node",
                F.coalesce("is_seed_m", F.lit(False)).alias("is_seed"))
    ).localCheckpoint(eager=True)
    outw = edges.groupBy("src").agg(F.sum("w").alias("out_w"))
    ranks = nodes.select(
        "node",
        F.when(F.col("is_seed"), F.lit(R0)).otherwise(F.lit(0))
        .cast("long").alias("r"))
    ranks = _rank_rounds(
        edges, outw, nodes, ranks,
        F.when(F.col("is_seed"), F.lit(BASE)).otherwise(F.lit(0)))
    return nodes.join(ranks, "node").select(
        F.col("node").alias("host"),
        F.col("r").alias("trustrank"),
        "is_seed",
    )


def link_reciprocity(edges: DataFrame) -> DataFrame:
    """Per-host link-reciprocity — the classic link-farm signal (link
    exchanges reciprocate; editorial links mostly don't — Fetterly et
    al. 2004 spam statistics family, the degree-side complement of
    trustrank_int's propagation view). For each host:

        recip_w = Σ over out-edges min(w(u->v), w(v->u))   (0 if no
                  back-edge), an EXACT integer reciprocated mass
        out_w   = Σ w(u->v)

    reported as the integer pair (recip_w, out_w) — never an IEEE
    ratio; flag hosts by cross-multiplying against a policy threshold
    downstream. ONE self-equi-join on the reversed key pair plus one
    map-side-partial groupBy; hub hosts are one row per out-edge, so
    no skew beyond the edge list itself."""
    rev = edges.select(F.col("dst").alias("src"),
                       F.col("src").alias("dst"),
                       F.col("w").alias("w_back"))
    return (
        edges.join(rev, ["src", "dst"], "left")
        .select(
            "src",
            "w",
            F.least(F.col("w"), F.coalesce("w_back", F.lit(0)))
            .alias("r"),
        )
        .groupBy(F.col("src").alias("host"))
        .agg(F.sum("r").cast("long").alias("recip_w"),
             F.sum("w").cast("long").alias("out_w"))
    )
