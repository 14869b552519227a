"""Integer PageRank vs a hand-rolled Python reference."""

from collections import defaultdict

from api_ocr_spark.operators import graph


def _py_pagerank(edges, iters=3, r0=1_000_000, base=150_000):
    nodes = {u for u, _, _ in edges} | {v for _, v, _ in edges}
    outw = defaultdict(int)
    for u, _, w in edges:
        outw[u] += w
    r = {n: r0 for n in nodes}
    for _ in range(iters):
        s = defaultdict(int)
        for u, v, w in edges:
            s[v] += (r[u] * 85 * w) // (100 * outw[u])
        r = {n: base + s[n] for n in nodes}
    return r


def test_pagerank_int_matches_python_reference(spark):
    edges = [("a", "b", 2), ("b", "c", 1), ("c", "a", 1), ("a", "c", 1)]
    df = spark.createDataFrame(edges, "src string, dst string, w long")
    got = {x.host: x for x in graph.pagerank_int(df).collect()}
    assert {h: x.pagerank for h, x in got.items()} == _py_pagerank(edges)
    assert got["a"].out_w == 3 and got["a"].in_w == 1
    assert got["b"].in_w == 2


def test_pagerank_dangling_node_keeps_base_plus_inflow(spark):
    # d receives mass but has no out-edges: its inflow is dropped (plain
    # formulation), and it must still appear with base + share each round
    edges = [("a", "d", 1), ("a", "b", 1), ("b", "a", 1)]
    df = spark.createDataFrame(edges, "src string, dst string, w long")
    got = {x.host: x for x in graph.pagerank_int(df).collect()}
    assert set(got) == {"a", "b", "d"}
    assert {h: x.pagerank for h, x in got.items()} == _py_pagerank(edges)
    assert got["d"].out_w == 0


def test_aggregate_edges_counts_multiplicity(spark):
    pairs = spark.createDataFrame(
        [("h1", "h2"), ("h1", "h2"), ("h1", "h3")], "src string, dst string")
    got = {(r.src, r.dst): r.w for r in graph.aggregate_edges(pairs).collect()}
    assert got == {("h1", "h2"): 2, ("h1", "h3"): 1}


def test_anchor_text_index(spark):
    """Relative hrefs resolve to the source host (and drop as intra-host);
    absolute cross-host links aggregate per target with distinct-source
    counts; top term = max count with max-struct (lexicographically larger)
    tie-break."""
    from api_ocr_spark.operators.graph import anchor_text_index
    rows = [
        (0, "https://a.com/x",
         '<body><a href="/in">self link</a>'
         '<a href="https://t.org/1">spark guide</a>'
         '<a href="https://t.org/2">spark tips</a></body>'),
        (1, "https://b.net/y",
         '<body><a href="https://t.org/3">spark intro</a>'
         '<a href="https://a.com/z">alpha beta</a></body>'),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, html string")
    out = {r.dst_host: r for r in anchor_text_index(df).collect()}
    assert set(out) == {"t.org", "a.com"}
    t = out["t.org"]
    assert (t.n_links, t.n_src_hosts) == (3, 2)
    assert (t.top_anchor_term, t.top_term_count) == ("spark", 3)
    a = out["a.com"]
    assert (a.n_links, a.n_src_hosts) == (1, 1)
    # 'alpha' and 'beta' tie at 1 -> max-struct picks the larger term
    assert (a.top_anchor_term, a.top_term_count) == ("beta", 1)


def test_hits_int_ranking_matches_float_reference(spark):
    # star-ish asymmetric graph: p is a pure hub, a/b/c pure authorities
    # with different in-weights; q a secondary hub
    edges = [("p", "a", 4), ("p", "b", 2), ("p", "c", 1),
             ("q", "a", 1), ("q", "b", 1), ("d", "p", 1)]
    df = spark.createDataFrame(edges, "src string, dst string, w long")
    out = {r.host: (r.authority, r.hub)
           for r in graph.hits_int(df).collect()}

    # float HITS, L2-normalized, same I-then-O schedule
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    h = {n: 1.0 for n in nodes}
    a = {}
    for _ in range(2):
        a = {n: sum(w * h[s] for s, d, w in edges if d == n) for n in nodes}
        norm = sum(v * v for v in a.values()) ** 0.5 or 1
        a = {n: v / norm for n, v in a.items()}
        h = {n: sum(w * a[d] for s, d, w in edges if s == n) for n in nodes}
        norm = sum(v * v for v in h.values()) ** 0.5 or 1
        h = {n: v / norm for n, v in h.items()}

    def ranking(scores):
        return [n for n, _ in sorted(scores.items(),
                                     key=lambda kv: (-kv[1], kv[0]))]

    assert ranking({n: out[n][0] for n in nodes}) == ranking(a)
    assert ranking({n: out[n][1] for n in nodes}) == ranking(h)
    # structural sanity: a node with no in-edges has zero authority;
    # leaves (no out-edges) have zero hub score
    assert out["d"][0] == 0 and out["a"][1] == 0
    # the dominant hub holds the rescale ceiling
    assert out["p"][1] == 1_000_000


def test_trustrank_spam_island_gets_zero(spark):
    """A heavily self-linked cluster unreachable from the seed set scores
    exactly 0 (plain PageRank would give it base mass); trust decays along
    the seed chain with hand-computed floored-integer values."""
    from api_ocr_spark.operators.graph import trustrank_int

    edges = spark.createDataFrame(
        [("s", "a", 1), ("a", "b", 1), ("c", "d", 5), ("d", "c", 5)],
        "src string, dst string, w long")
    seeds = spark.createDataFrame([("s",)], "node string")
    got = {r.host: r for r in trustrank_int(edges, seeds).collect()}
    assert got["s"].is_seed and not got["a"].is_seed
    # t3: s keeps only its per-round base; a = (150000*85)//100;
    # b = (127500*85)//100; the c/d island never receives trust
    assert got["s"].trustrank == 150000
    assert got["a"].trustrank == 127500
    assert got["b"].trustrank == 108375
    assert got["c"].trustrank == 0 and got["d"].trustrank == 0


def test_link_reciprocity_min_mass(spark):
    """recip_w = sum of min(w_uv, w_vu): a pure exchange pair is fully
    reciprocal, an asymmetric pair reciprocates the smaller mass, and
    one-way links contribute zero."""
    from api_ocr_spark.operators.graph import link_reciprocity

    edges = spark.createDataFrame(
        [("a", "b", 5), ("b", "a", 5),      # full exchange
         ("a", "c", 4), ("c", "a", 1),      # partial: min = 1
         ("a", "d", 7)],                     # one-way
        "src string, dst string, w long")
    got = {r.host: r for r in link_reciprocity(edges).collect()}
    assert (got["a"].recip_w, got["a"].out_w) == (5 + 1 + 0, 16)
    assert (got["b"].recip_w, got["b"].out_w) == (5, 5)
    assert (got["c"].recip_w, got["c"].out_w) == (1, 1)
    assert "d" not in got  # no out-edges -> no row
