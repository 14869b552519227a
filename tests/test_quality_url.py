"""Repetition-filter (Gopher-style) and URL/domain operator tests."""

from pyspark.sql import functions as F

from api_ocr_spark.functions import text as T
from api_ocr_spark.functions import url as U


def test_word_ngrams(spark):
    df = spark.createDataFrame([("a b c d",), ("solo",), ("x y",)],
                               "t string")
    got = df.select(
        T.word_ngrams(F.col("t"), 2).alias("g2"),
        T.word_ngrams(F.col("t"), 3).alias("g3"),
    ).collect()
    assert got[0].g2 == ["a b", "b c", "c d"]
    assert got[0].g3 == ["a b c", "b c d"]
    assert got[1].g2 == [] and got[1].g3 == []
    assert got[2].g2 == ["x y"] and got[2].g3 == []


def test_repetition_stats_planted(spark):
    """A doc that is one sentence repeated 3x must be flagged; a
    no-repetition doc keeps. Fractions follow the documented rules."""
    rows = [
        (0, "uno dos tres. uno dos tres. uno dos tres."),
        (1, "cada palabra aqui es distinta de verdad."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in T.repetition_stats(df).collect()}
    r0 = got[0]
    # all 3 sentence occurrences share one value -> frac 1.0
    assert r0.dup_sent_frac == 1.0 and r0.dup_sent_char_frac == 1.0
    # highest-coverage 2-gram is "dos tres." (9 chars x 3); tot_chars = 41
    assert abs(r0.top2_char_frac - 3 * 9 / 41.0) < 1e-12
    assert r0.dup3_char_frac > 0.6 and r0.keep == 0
    r1 = got[1]
    assert r1.dup_sent_frac == 0.0 and r1.dup3_char_frac == 0.0
    # nothing repeats -> the repeated-2-gram coverage is zero by definition
    assert r1.top2_char_frac == 0.0
    assert r1.keep == 1


def test_repetition_single_sentence_doc(spark):
    """No boundary -> one sentence, never 'duplicate'; top2 still counted."""
    df = spark.createDataFrame([(0, "w w w w")], "doc_id long, text string")
    r = T.repetition_stats(df).first()
    assert r.dup_sent_frac == 0.0
    # "w w" occurs 3 times, 3 chars each, tot 7
    assert abs(r.top2_char_frac - 9 / 7.0) < 1e-12
    assert r.keep == 0  # top2 coverage over threshold


def test_parse_urls_fields(spark):
    rows = [
        (0, "https://www.blog.example.com/a/b/c?x=1#frag"),
        (1, "http://example.org"),
        (2, "not a url"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r.doc_id: r for r in U.parse_urls(df).collect()}
    r0 = got[0]
    assert r0.scheme == "https" and r0.host == "www.blog.example.com"
    assert r0.registered_domain == "example.com"
    assert r0.path == "/a/b/c" and r0.path_depth == 3 and r0.has_query == 1
    r1 = got[1]
    assert r1.host == "example.org" and r1.registered_domain == "example.org"
    assert r1.path == "" and r1.path_depth == 0 and r1.has_query == 0
    assert got[2].host == "" and got[2].registered_domain == ""


def test_domain_cap_sample(spark):
    """Cap keeps exactly cap docs per domain, ranks 1..cap, deterministic
    across runs; blocklisted domains vanish entirely."""
    rows = [(i, f"https://h{i % 2}.dom{i % 3}.com/p/{i}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = U.domain_cap_sample(df, cap=2).collect()
    by_dom = {}
    for r in out:
        by_dom.setdefault(r.registered_domain, []).append(r)
    assert set(by_dom) == {"dom0.com", "dom1.com", "dom2.com"}
    for dom, rs in by_dom.items():
        assert sorted(r.domain_rank for r in rs) == [1, 2]
    again = U.domain_cap_sample(df, cap=2).collect()
    assert sorted((r.doc_id, r.domain_rank) for r in again) == \
        sorted((r.doc_id, r.domain_rank) for r in out)

    block = spark.createDataFrame([("dom1.com",)],
                                  "registered_domain string")
    blocked = U.domain_cap_sample(df, cap=2, blocklist=block).collect()
    assert {r.registered_domain for r in blocked} == {"dom0.com", "dom2.com"}


def test_host_stats(spark):
    rows = [
        (0, "https://a.x.com/p"),
        (1, "https://b.x.com/p/q?z=1"),
        (2, "https://a.x.com/"),
        (3, "https://y.org/only"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r.registered_domain: r for r in U.host_stats(df).collect()}
    x = got["x.com"]
    assert x.n_docs == 3 and x.n_hosts == 2 and x.n_query == 1
    assert x.max_path_depth == 2
    y = got["y.org"]
    assert y.n_docs == 1 and y.n_hosts == 1 and y.n_query == 0


def test_line_dedup_cross_and_intra_doc(spark):
    from api_ocr_spark.operators import dedup

    rows = [
        (0, "alpha uno. comun a todos. beta dos."),
        (1, "comun a todos. gamma tres."),
        # intra-doc repeat: second occurrence dropped
        (2, "delta cuatro. delta cuatro. comun a todos."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in dedup.line_dedup(df).collect()}
    assert got[0].clean_text == "alpha uno. comun a todos. beta dos."
    assert got[0].n_kept == 3 and got[0].n_removed == 0
    assert got[1].clean_text == "gamma tres."
    assert got[1].n_kept == 1 and got[1].n_removed == 1
    assert got[2].clean_text == "delta cuatro."
    assert got[2].n_kept == 1 and got[2].n_removed == 2


def test_line_dedup_all_removed_doc_survives(spark):
    from api_ocr_spark.operators import dedup

    rows = [(0, "unico contenido aqui."), (1, "unico contenido aqui.")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in dedup.line_dedup(df).collect()}
    assert got[0].clean_text == "unico contenido aqui."
    assert got[1].clean_text == "" and got[1].n_kept == 0
    assert got[1].n_removed == 1


def test_redact_pii(spark):
    rows = [
        (0, "escribe a maria.lopez+x@uni-mx.edu.mx hoy"),
        (1, "servidor en 192.168.1.250 responde"),
        (2, "llama al +52 55-2310-1234 manana"),
        (3, "sin datos personales aqui"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in T.redact_pii(df).collect()}
    assert got[0].clean_text == "escribe a <EMAIL> hoy"
    assert (got[0].n_emails, got[0].n_ips, got[0].n_phones) == (1, 0, 0)
    assert got[1].clean_text == "servidor en <IP> responde"
    assert (got[1].n_emails, got[1].n_ips, got[1].n_phones) == (0, 1, 0)
    assert got[2].clean_text == "llama al <PHONE> manana"
    assert (got[2].n_emails, got[2].n_ips, got[2].n_phones) == (0, 0, 1)
    assert got[3].clean_text == "sin datos personales aqui"
    assert (got[3].n_emails, got[3].n_ips, got[3].n_phones) == (0, 0, 0)


def test_tfidf_top_terms(spark):
    from api_ocr_spark.operators import keywords

    rows = [
        (0, "manzana manzana pera uva"),
        (1, "pera uva kiwi"),
        (2, "uva uva uva banana"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = keywords.tfidf_top_terms(df, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 0: manzana tf=2/4 df=1 -> (0.5)*(3/1)=1.5 beats pera/uva
    top0 = sorted(by_doc[0], key=lambda r: r.rank)
    assert top0[0].term == "manzana" and abs(top0[0].score - 1.5) < 1e-12
    assert top0[0].tf == 2 and top0[0].df == 1
    # doc 2: uva tf=3/4 but df=3 -> 0.75*1=0.75; banana 0.25*3=0.75 ->
    # tie broken by term asc: banana first
    top2 = sorted(by_doc[2], key=lambda r: r.rank)
    assert [r.term for r in top2] == ["banana", "uva"]
    assert all(len(v) == 2 for v in by_doc.values())


def test_vocab_topk(spark):
    from api_ocr_spark.operators import keywords

    rows = [(0, "a b a c"), (1, "b a d"), (2, "a e")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = keywords.vocab_topk(df, k=3).collect()
    assert [(r.term, r.n_occurrences, r.n_docs) for r in got] == [
        ("a", 4, 3), ("b", 2, 2), ("c", 1, 1)]


def test_hashed_linear_score_matches_python_reference(spark):
    import hashlib

    def bucket(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 1024

    def w(t):
        return int(hashlib.md5(f"w7_{bucket(t)}".encode()).hexdigest()[:8],
                   16) % 2001 - 1000

    docs = spark.createDataFrame(
        [(0, "alpha beta alpha"), (1, "gamma"), (2, "  Alpha   GAMMA ")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in T.hashed_linear_score(docs).collect()}
    assert out[0].score == 2 * w("alpha") + w("beta")
    assert out[0].n_tokens == 3
    assert out[1].score == w("gamma")
    # normalization: case/whitespace collapse before tokenizing
    assert out[2].score == w("alpha") + w("gamma")
    for r in out.values():
        assert r.keep == (1 if r.score > 0 else 0)
        assert abs(r.norm_score - round(r.score / r.n_tokens, 6)) < 1e-12


def test_canonicalize_url_rules(spark):
    """Each RFC-3986/scrub rule asserted on a handcrafted URL."""
    from api_ocr_spark.functions import url as U
    cases = [
        # lowercase scheme+host, strip default https port, fragment gone
        ("HTTPS://Ex.COM:443/Path/#frag", "https://ex.com/Path"),
        # non-default port kept; dup slashes collapse; trailing strip
        ("https://ex.com:8080//a//b//", "https://ex.com:8080/a/b"),
        # http default port; empty path -> '/'
        ("http://ex.com:80", "http://ex.com/"),
        # tracking scrub + param sort; case in values preserved
        ("https://ex.com/p?utm_source=x&b=B&fbclid=1&a=A",
         "https://ex.com/p?a=A&b=B"),
        # all params scrubbed -> no '?'
        ("https://ex.com/p?utm_campaign=9&gclid=z&ref=r", "https://ex.com/p"),
        # root path stays root
        ("https://ex.com/", "https://ex.com/"),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)],
                               "doc_id long, url string")
    out = df.select("doc_id",
                    U.canonicalize_url(df.url).alias("c")).collect()
    for row, (_, want) in zip(sorted(out, key=lambda r: r.doc_id), cases):
        assert row.c == want, (row.doc_id, row.c, want)


def test_url_dedup_groups(spark):
    from api_ocr_spark.functions import url as U
    rows = [(0, "https://ex.com/p?b=2&a=1#x"),
            (1, "HTTPS://EX.com:443/p/?utm_source=t&a=1&b=2"),
            (2, "https://other.net/q")]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r.doc_id: r for r in U.url_dedup(df).collect()}
    assert out[0].canonical_url == out[1].canonical_url
    assert out[0].is_keeper and not out[1].is_keeper
    assert out[1].keeper_doc_id == 0 and out[1].n_urls == 2
    assert out[2].n_urls == 1 and out[2].is_keeper


def test_tier_extract_quotas_and_monotonicity(spark):
    """Tier sizes hit their quotas, ranks are 1-based, and tier score
    ranges are monotone (high >= mid >= low) — tie-sharing keeps the
    boundary inside one tier so ranges never interleave."""
    from api_ocr_spark.operators import tiering
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = [(i, " ".join(words[: 1 + (i * 7) % 10] * (1 + i % 13)))
            for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tiering.tier_extract(
        df, quotas={"high": 5, "mid": 3, "low": 2}).collect()
    by_tier = {}
    for r in out:
        by_tier.setdefault(r.tier, []).append(r)
    assert {t: len(v) for t, v in by_tier.items()} == {
        "high": 5, "mid": 3, "low": 2}
    for rs in by_tier.values():
        assert sorted(r.tier_rank for r in rs) == list(range(1, len(rs) + 1))
    assert min(r.score for r in by_tier["high"]) >= max(
        r.score for r in by_tier["mid"])
    assert min(r.score for r in by_tier["mid"]) >= max(
        r.score for r in by_tier["low"])


def test_robots_filter_rules(spark):
    from api_ocr_spark.functions import url as U
    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /private\nDisallow:\n"
                   "Allow: /private/ok\nCrawl-delay: 3"),
         ("b.net", "User-agent: *\nDisallow: /")],
        "host string, robots_txt string")
    pages = spark.createDataFrame(
        [(0, "https://a.com/private/x"), (1, "https://a.com/public"),
         (2, "https://b.net/anything"), (3, "https://c.org/no/robots")],
        "doc_id long, url string")
    out = {r.doc_id: r for r in U.robots_filter(pages, robots).collect()}
    assert out[0].blocked and out[0].n_rules == 1   # empty Disallow ignored
    assert not out[1].blocked
    assert out[2].blocked                            # full block
    assert not out[3].blocked and out[3].n_rules == 0  # no robots row


def test_c4_doc_stats_rules(spark):
    from api_ocr_spark.functions.text import c4_doc_stats
    rows = [
        (0, "One fine day. Two more things. Three at last."),
        (1, "Bad { code inside. More here. And more after."),
        (2, "lorem IPSUM classic. Second sentence. Third one."),
        (3, "Only one sentence here."),
        (4, "First part. Second part. third fragment with no punct at all"),
        (5, "No punct one. no punct two three four. then a b. c trailing "
            "x y. but wait here comes a very long unterminated tail part"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in c4_doc_stats(df).collect()}
    assert out[0].keep and out[0].n_sentences == 3 and out[0].n_terminal == 3
    assert not out[1].keep and out[1].has_brace
    assert not out[2].keep and out[2].has_bad_snippet
    assert not out[3].keep and out[3].n_sentences == 1
    assert out[4].keep and (out[4].n_sentences, out[4].n_terminal) == (3, 2)
    assert out[5].keep  # 5 sentences, 4 terminal: majority holds


def test_rarity_buckets_ordering(spark):
    """Buckets are monotone in mean rarity and the corpus-thirds rule
    assigns all three buckets on a 3-doc corpus with distinct means."""
    from api_ocr_spark.operators.keywords import rarity_buckets
    rows = [(0, "aa aa aa aa aa aa"),
            (1, "aa aa aa bb cc dd"),
            (2, "ee ff gg hh ii jj")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(rarity_buckets(df).collect(), key=lambda r: r.mean_rarity)
    assert [r.bucket for r in out] == ["head", "middle", "tail"]
    assert [r.doc_id for r in out] == [0, 1, 2]
    assert all(r.n_tokens == 6 for r in out)


def test_collocations_pmi_ranking(spark):
    """A bigram whose words appear ONLY together outranks one whose words
    are common; bigrams seen fewer than 3 times drop out."""
    from api_ocr_spark.operators.keywords import collocations_topk
    phrase = "san francisco is big and the weather " \
             "in san francisco stays mild since san francisco faces sea"
    common = "the cat and the dog and the bird and the fish and the cow"
    df = spark.createDataFrame(
        [(0, phrase), (1, common), (2, common)],
        "doc_id long, text string")
    out = collocations_topk(df, k=10).collect()
    by = {r.bigram: r for r in out}
    assert "san francisco" in by and by["san francisco"].c_ab == 3
    top = max(out, key=lambda r: (r.score, r.bigram))
    assert top.bigram == "san francisco"
    assert all(r.c_ab >= 3 for r in out)


def test_bm25_ranking_and_set_semantics(spark):
    """Doc saturated with the query term outranks a longer doc with one
    mention; duplicate query terms score once; absent terms contribute 0."""
    from api_ocr_spark.operators.retrieval import bm25_topk
    docs = spark.createDataFrame(
        [(0, "spark spark spark spark engine"),
         (1, "spark " + "filler " * 40),
         (2, "nothing relevant here at all")],
        "doc_id long, text string")
    qs = spark.createDataFrame(
        [(1, "spark spark"), (2, "zzzabsent")],
        "query_id long, query_text string")
    out = bm25_topk(docs, qs, k=5).collect()
    q1 = sorted([r for r in out if r.query_id == 1], key=lambda r: r.rank)
    assert [r.doc_id for r in q1] == [0, 1]          # doc 2 never matches
    assert q1[0].score > q1[1].score
    assert all(r.n_terms_hit == 1 for r in q1)       # 'spark spark' = set
    assert not [r for r in out if r.query_id == 2]   # absent term -> no rows


def test_bm25_integer_score_matches_reference_formula(spark):
    """Spot-check one (query, doc) score against a pure-Python replay of
    the two-stage floor arithmetic."""
    from api_ocr_spark.operators.retrieval import bm25_topk, SCALE
    texts = [(0, "alpha beta gamma alpha"), (1, "beta beta delta"),
             (2, "alpha epsilon")]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    qs = spark.createDataFrame([(1, "alpha beta")],
                               "query_id long, query_text string")
    rows = {r.doc_id: r for r in bm25_topk(docs, qs, k=10).collect()}

    lens = {i: len(t.split()) for i, t in texts}
    n, tl = 3, sum(lens.values())
    df = {"alpha": 2, "beta": 2}
    tf = {(0, "alpha"): 2, (0, "beta"): 1, (1, "beta"): 2, (2, "alpha"): 1}

    def term_score(doc, term):
        t = tf[(doc, term)]
        s1 = (22 * t * tl * SCALE) // (10 * t * tl + 3 * tl
                                       + 9 * lens[doc] * n)
        return (s1 * (2 * n - 2 * df[term] + 1)) // (2 * df[term] + 1)

    assert rows[0].score == term_score(0, "alpha") + term_score(0, "beta")
    assert rows[1].score == term_score(1, "beta")
    assert rows[2].score == term_score(2, "alpha")


def test_snapshot_diff_statuses(spark):
    from api_ocr_spark.operators.snapshot import snapshot_diff
    old = spark.createDataFrame(
        [(1, "same"), (2, "before"), (3, "will vanish")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "same"), (2, "after"), (4, "brand new")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in snapshot_diff(old, new).collect()}
    assert len(out) == 4
    assert out[1].status == "unchanged" and out[1].fp_old == out[1].fp_new
    assert out[2].status == "changed" and out[2].fp_old != out[2].fp_new
    assert out[3].status == "gone" and out[3].fp_new is None
    assert out[4].status == "added" and out[4].fp_old is None


def test_topic_tag_argmax_tiebreak_none(spark):
    from api_ocr_spark.operators.topics import topic_tag
    lex = spark.createDataFrame(
        [("a", "apple"), ("a", "avocado"), ("b", "banana")],
        "topic string, term string")
    docs = spark.createDataFrame(
        [(0, "apple apple banana"),     # a wins 2-1
         (1, "apple banana"),           # tie -> 'a' (topic asc)
         (2, "banana banana avocado"),  # b wins 2-1
         (3, "cherry mango")],          # no hits -> none
        "doc_id long, text string")
    out = {r.doc_id: r for r in topic_tag(docs, lex).collect()}
    assert (out[0].topic, out[0].n_hits) == ("a", 2)
    assert (out[1].topic, out[1].n_hits) == ("a", 1)
    assert (out[2].topic, out[2].n_hits) == ("b", 2)
    assert (out[3].topic, out[3].n_hits) == ("none", 0)


def test_crawl_schedule_spacing_and_default(spark):
    """Ranks are 1..n per host, offsets spaced by the host's delay;
    hosts without a Crawl-delay line fall back to the default."""
    from api_ocr_spark.functions.url import crawl_schedule
    pages = spark.createDataFrame(
        [(1, "https://a.com/x"), (2, "https://a.com/y"),
         (3, "https://a.com/z"), (4, "https://b.com/only")],
        "doc_id long, url string")
    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\nCrawl-delay: 3\nDisallow: /p"),
         ("b.com", "User-agent: *\nDisallow: /p")],  # no delay line
        "host string, robots_txt string")
    out = crawl_schedule(pages, robots, default_delay_s=7).collect()
    a = sorted([r for r in out if r.host == "a.com"],
               key=lambda r: r.fetch_rank)
    assert [r.fetch_rank for r in a] == [1, 2, 3]
    assert [r.offset_s for r in a] == [0, 3, 6]
    assert all(r.delay_s == 3 for r in a)
    b = [r for r in out if r.host == "b.com"][0]
    assert (b.fetch_rank, b.delay_s, b.offset_s) == (1, 7, 0)


def test_pack_sequences_manifest_invariants(spark):
    """Slices tile each document exactly, sequences fill to cap, a doc
    longer than cap spans sequences, empty docs are skipped, and the
    two-level prefix sum (tiny blocks) equals the global order."""
    from api_ocr_spark.operators.packing import pack_sequences
    docs = spark.createDataFrame(
        [(0, "w " * 5), (1, ""), (2, "w " * 9), (3, "w " * 3),
         (4, "w " * 4), (5, "w " * 2)],
        "doc_id long, text string")
    out = sorted(pack_sequences(docs, cap=8, block_size=2).collect(),
                 key=lambda r: (r.seq_id, r.seq_tok_start))
    assert not [r for r in out if r.doc_id == 1]          # empty skipped
    # total = 5+9+3+4+2 = 23 tokens -> seqs 0,1 full (8), tail seq 2 = 7
    per_seq = {}
    for r in out:
        per_seq.setdefault(r.seq_id, 0)
        per_seq[r.seq_id] += r.n_toks
        assert r.n_toks == r.doc_tok_end - r.doc_tok_start
    assert per_seq == {0: 8, 1: 8, 2: 7}
    # doc 2 (len 9, global [5,14)) spans seq 0 and 1
    d2 = sorted([r for r in out if r.doc_id == 2], key=lambda r: r.seq_id)
    assert [(r.seq_id, r.doc_tok_start, r.doc_tok_end, r.seq_tok_start)
            for r in d2] == [(0, 0, 3, 5), (1, 3, 9, 0)]
    # each doc's slices tile [0, len)
    for did, ln in [(0, 5), (2, 9), (3, 3), (4, 4), (5, 2)]:
        sl = sorted([r for r in out if r.doc_id == did],
                    key=lambda r: r.doc_tok_start)
        assert sl[0].doc_tok_start == 0 and sl[-1].doc_tok_end == ln
        for a, b in zip(sl, sl[1:]):
            assert a.doc_tok_end == b.doc_tok_start


def test_curation_funnel_first_failing_stage(spark):
    from api_ocr_spark.operators.funnel import curation_funnel

    long_good = ("uno dos tres cuatro. cinco seis siete ocho. "
                 "nueve diez once doce.")
    docs = spark.createDataFrame(
        [(1, long_good),
         (2, long_good),                       # exact dup of 1
         (3, "too short."),                    # fails token floor
         (4, long_good + " {config}"),         # fails c4 (brace)
         (5, "uno dos tres cuatro cinco seis siete ocho nueve "
             "diez once doce tr")],            # long enough, no sentences
        "doc_id long, text string")
    out = {r.doc_id: r.stage for r in curation_funnel(docs).collect()}
    assert out == {1: "kept", 2: "exact_dup", 3: "too_short",
                   4: "c4_quality", 5: "c4_quality"}


def test_corpus_datasheet_counts(spark):
    from api_ocr_spark.operators.funnel import corpus_datasheet

    docs = spark.createDataFrame(
        [(1, "the a of x"), (2, "de la el y"), (3, "zz qq"),
         (4, "the a of x")],                  # dup of 1
        "doc_id long, text string")
    r = corpus_datasheet(docs).collect()[0]
    assert (r.n_docs, r.n_tokens, r.n_exact_dup_docs) == (4, 14, 1)
    assert (r.min_doc_tokens, r.max_doc_tokens) == (2, 4)
    assert (r.n_en, r.n_es, r.n_other) == (2, 1, 1)
    assert r.vocab_size == 10  # the a of x de la el y zz qq


def test_doclen_histogram_buckets(spark):
    from api_ocr_spark.operators.funnel import doclen_histogram

    docs = spark.createDataFrame(
        [(1, "w"), (2, "w w"), (3, "w w w"), (4, "w w w w"),
         (5, "w w w w w w w w")],
        "doc_id long, text string")
    rows = {(r.bucket_lo, r.bucket_hi): (r.n_docs, r.n_tokens)
            for r in doclen_histogram(docs).collect()}
    assert rows == {(1, 1): (1, 1), (2, 3): (2, 5), (4, 7): (1, 4),
                    (8, 15): (1, 8)}


def test_bigram_lm_score_exact_arithmetic(spark):
    """Hand-computed add-one-smoothed bigram milli scores on a 3-doc
    corpus: census c('a b')=2, c('b a')=1, c('b c')=2; prefixes
    c_pre(a)=2, c_pre(b)=3; V=3."""
    from api_ocr_spark.operators.keywords import bigram_lm_score

    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a"), (3, "b c")],
        "doc_id bigint, text string")
    got = {r.doc_id: r for r in bigram_lm_score(df).collect()}
    assert len(got) == 3
    # milli('a b') = 1e6*3 DIV 5 = 600000; 'b a' = 1e6*2 DIV 6 = 333333;
    # 'b c' = 1e6*3 DIV 6 = 500000
    d1 = got[1]
    assert d1.n_bigrams == 4
    assert d1.lm_sum == 600000 + 333333 + 600000 + 500000
    assert d1.lm_mean_milli == d1.lm_sum // 4
    # single-token doc -> explicit zero row
    assert (got[2].n_bigrams, got[2].lm_sum, got[2].lm_mean_milli) == (0, 0, 0)
    d3 = got[3]
    assert (d3.n_bigrams, d3.lm_sum, d3.lm_mean_milli) == (1, 500000, 500000)


def test_bigram_lm_predictable_text_scores_higher(spark):
    """A doc made of the corpus's dominant bigram pattern outscores a doc
    of one-off bigrams — the CCNet-style quality direction."""
    from api_ocr_spark.operators.keywords import bigram_lm_score

    common = "the cat sat on the mat"
    docs = [(i, common) for i in range(10)]
    docs.append((100, "zq xv wk jn pb md"))  # all singleton bigrams
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {r.doc_id: r.lm_mean_milli for r in bigram_lm_score(df).collect()}
    assert got[0] == got[9]  # identical docs, identical ledger
    assert got[0] > 2 * got[100]  # measured 456220 vs 166666


def test_blocklist_filter_weighted_gate(spark):
    """Weighted hits, zero-hit passthrough, and the strict cross-
    multiplied boundary (10*weighted < n_tokens)."""
    from api_ocr_spark.operators.funnel import blocklist_filter

    bl = spark.createDataFrame([("bad", 2), ("worse", 3)],
                               "term string, weight long")
    filler = " ".join(f"f{i}" for i in range(29))          # 29 tokens
    rows = [(1, "bad worse bad good"),                     # wh=7, n=4
            (2, "clean words only"),                       # no hits
            (3, "worse " + filler),                        # wh=3, n=30: 30<30 F
            (4, "worse " + filler + " x30")]               # wh=3, n=31: 30<31 T
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: r for r in blocklist_filter(df, bl).collect()}
    assert (got[1].hits, got[1].weighted_hits, got[1].keep) == (3, 7, False)
    assert (got[2].hits, got[2].weighted_hits, got[2].keep) == (0, 0, True)
    assert (got[3].weighted_hits, got[3].keep) == (3, False)  # exact bound
    assert (got[4].weighted_hits, got[4].keep) == (3, True)


def test_corpus_manifest_detects_any_change(spark):
    """Shard counts + commutative content hash: reordering docs leaves
    the manifest identical, while editing one doc's text or swapping two
    ids flips exactly the affected shard hashes."""
    from api_ocr_spark.operators.funnel import corpus_manifest

    rows = [(i, f"texto numero {i} con palabras") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    base = {r.shard: r for r in corpus_manifest(df).collect()}
    assert sum(r.n_docs for r in base.values()) == 40

    # row order is irrelevant (XOR commutes)
    perm = spark.createDataFrame(list(reversed(rows)),
                                 "doc_id bigint, text string")
    again = {r.shard: r for r in corpus_manifest(perm).collect()}
    assert {(s, r.n_docs, r.content_hash) for s, r in base.items()} == \
        {(s, r.n_docs, r.content_hash) for s, r in again.items()}

    # one edited doc flips only its shard's hash
    rows2 = list(rows)
    rows2[7] = (7, "texto numero 7 EDITADO con palabras")
    edited = {r.shard: r for r in corpus_manifest(
        spark.createDataFrame(rows2, "doc_id bigint, text string")).collect()}
    diff = [s for s in base if base[s].content_hash != edited[s].content_hash]
    assert len(diff) == 1 and base[diff[0]].n_docs == edited[diff[0]].n_docs

    # swapping two ids (texts unchanged as a multiset) is detected
    rows3 = list(rows)
    rows3[3], rows3[5] = (3, rows[5][1]), (5, rows[3][1])
    swapped = {r.shard: r for r in corpus_manifest(
        spark.createDataFrame(rows3, "doc_id bigint, text string")).collect()}
    assert any(base[s].content_hash != swapped[s].content_hash
               for s in base)


def test_readability_stats_hand_computed(spark):
    """Hand-computed FK milligrade: 'the cat sat on the mat. it is a
    hat.' -> W=10, S=2, vowel groups: the(1) cat(1) sat(1) on(1) the(1)
    mat(1) it(1) is(1) a(1) hat(1) = 10. fk = 390*10//2 + 11800*10//10
    - 15590 = 1950 + 11800 - 15590 = -1840 (simple text, below grade 0)."""
    from api_ocr_spark.functions.text import readability_stats

    rows = [(1, "the cat sat on the mat. it is a hat."),
            (2, "zz bcd fgh")]  # no vowels, no boundary
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: r for r in readability_stats(df).collect()}
    r1 = got[1]
    assert (r1.n_words, r1.n_sentences, r1.n_syllables) == (10, 2, 10)
    assert r1.fk_milli == 390 * 10 // 2 + 11800 * 10 // 10 - 15590
    r2 = got[2]
    assert (r2.n_words, r2.n_sentences, r2.n_syllables) == (3, 1, 0)
    assert r2.fk_milli == 390 * 3 // 1 + 0 - 15590


def test_domain_quality_prior_integer_rollup(spark):
    """Per-domain rollup keeps exact integer pairs; signed sums survive
    (the reason no mean is emitted)."""
    from api_ocr_spark.operators.tiering import domain_quality_prior

    docs = spark.createDataFrame(
        [(i, f"palabra{i} texto comun") for i in range(6)],
        "doc_id bigint, text string")
    urls = spark.createDataFrame(
        [(i, f"https://www.dom{i % 2}.com/p/{i}") for i in range(6)],
        "doc_id bigint, url string")
    got = {r.registered_domain: r
           for r in domain_quality_prior(docs, urls).collect()}
    assert set(got) == {"dom0.com", "dom1.com"}
    assert got["dom0.com"].n_docs == 3 and got["dom1.com"].n_docs == 3
    # cross-check the rollup against the per-doc scorer
    from api_ocr_spark.functions.text import hashed_linear_score
    per_doc = {r.doc_id: r for r in hashed_linear_score(docs).collect()}
    for dom, ids in (("dom0.com", (0, 2, 4)), ("dom1.com", (1, 3, 5))):
        assert got[dom].score_sum == sum(per_doc[i].score for i in ids)
        assert got[dom].n_keep == sum(per_doc[i].keep for i in ids)


def test_template_lines_domain_scoped(spark):
    """A line on every page of domain A vanishes from ALL of A's pages
    (including the first — stronger than keep-first), while the same
    line on a single page of domain B survives there."""
    from api_ocr_spark.operators.dedup import template_lines

    nav = "inicio productos contacto."
    docs = spark.createDataFrame(
        [(0, f"{nav} contenido cero unico."),
         (1, f"{nav} contenido uno distinto."),
         (2, f"{nav} contenido dos especial."),   # domain B: nav only here
         (3, "pagina tres sin plantilla.")],
        "doc_id bigint, text string")
    urls = spark.createDataFrame(
        [(0, "https://www.sitea.com/p0"), (1, "https://www.sitea.com/p1"),
         (2, "https://siteb.org/p2"), (3, "https://siteb.org/p3")],
        "doc_id bigint, url string")
    got = {r.doc_id: r for r in template_lines(docs, urls).collect()}
    assert got[0].clean_text == "contenido cero unico."
    assert got[1].clean_text == "contenido uno distinto."
    assert got[0].n_removed == 1 and got[1].n_removed == 1
    # domain B sees nav on only one page -> kept there
    assert got[2].clean_text == f"{nav} contenido dos especial."
    assert got[2].n_removed == 0
    assert got[3].clean_text == "pagina tres sin plantilla."
    assert got[0].registered_domain == "sitea.com"
    assert got[2].registered_domain == "siteb.org"
