"""URL parsing + per-domain corpus-policy operators — all JVM-side Catalyst.

The reference service has no URL layer (it is a per-request OCR API,
/root/reference/main.py routes by endpoint); these operators extend the
web-extraction tier this engine targets: host-level document caps and
domain blocklists are the standard pre-extraction steps of a web corpus
pipeline (CCNet / RefinedWeb keep at most K pages per registered domain so
template-heavy hosts cannot dominate the training mix).

Regex note: every pattern stays inside the Java ∩ RE2 ∩ DuckDB common
subset so the DuckDB oracle SQL in __spark_entry__ uses the textually
identical pattern (no lookbehind, no \\d).

Registered-domain note: the real public-suffix list is data, not grammar
(co.uk vs com); this engine pins the two-label rule `([^.]+\\.[^.]+)$` and
documents it — swapping in a PSL broadcast join is a data change, not a
shape change.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

SCHEME_PATTERN = r"^([a-z][a-z0-9+.-]*)://"
HOST_PATTERN = r"^[a-z][a-z0-9+.-]*://([^/?#]+)"
PATH_PATTERN = r"^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)"
QUERY_PATTERN = r"\?([^#]*)"
REGISTERED_PATTERN = r"([^.]+\.[^.]+)$"


def url_scheme(col: Column) -> Column:
    return F.regexp_extract(col, SCHEME_PATTERN, 1)


def url_host(col: Column) -> Column:
    return F.regexp_extract(col, HOST_PATTERN, 1)


def url_path(col: Column) -> Column:
    return F.regexp_extract(col, PATH_PATTERN, 1)


def url_query(col: Column) -> Column:
    return F.regexp_extract(col, QUERY_PATTERN, 1)


def registered_domain(col: Column) -> Column:
    """Two-label suffix of the host (pinned rule; see module docstring)."""
    return F.regexp_extract(url_host(col), REGISTERED_PATTERN, 1)


def path_depth(col: Column) -> Column:
    """Number of non-empty path segments (leading/trailing slashes ignored)."""
    return F.size(
        F.filter(F.split(url_path(col), "/"), lambda s: F.length(s) > 0)
    ).cast("long")


def parse_urls(df: DataFrame) -> DataFrame:
    """Per-doc URL census: scheme/host/registered domain/path depth/query
    flag. Absent components are '' (regexp_extract no-match convention in
    both engines). Pure codegen'd map, zero shuffle."""
    u = F.col("url")
    return df.select(
        "doc_id",
        url_scheme(u).alias("scheme"),
        url_host(u).alias("host"),
        registered_domain(u).alias("registered_domain"),
        url_path(u).alias("path"),
        path_depth(u).alias("path_depth"),
        (F.length(url_query(u)) > 0).cast("long").alias("has_query"),
    )


def domain_cap_sample(df: DataFrame, cap: int = 3,
                      blocklist: DataFrame | None = None) -> DataFrame:
    """Per-registered-domain document cap with optional blocklist — the
    host-balancing step of a web corpus pipeline: parse URLs, drop
    blocklisted registered domains (broadcast ANTI join — the corpus never
    shuffles to meet the blocklist), keep the `cap` lowest md5-ranked docs
    per domain (md5 rank = deterministic uniform sample, reproducible
    across runs and engines).

    Shape at 100 TB: `row_number() <= cap` over the domain window triggers
    Spark's WindowGroupLimit (partial per input partition, final after the
    single domain exchange) — each map task forwards at most cap rows per
    domain, so a million-page template domain contributes cap rows to the
    shuffle, not a million: the domain skew is absorbed BEFORE the wire
    (plan-asserted in tools/explain_audit.py, same shape as
    topk_orders_per_customer)."""
    u = F.col("url")
    parsed = df.select(
        "doc_id",
        url_host(u).alias("host"),
        registered_domain(u).alias("registered_domain"),
        path_depth(u).alias("path_depth"),
    )
    if blocklist is not None:
        parsed = parsed.join(F.broadcast(blocklist), "registered_domain",
                             "left_anti")
    w = Window.partitionBy("registered_domain").orderBy(
        F.md5(F.concat(F.lit("cap:"), F.col("doc_id").cast("string"))),
        "doc_id")
    return (
        parsed.withColumn("domain_rank",
                          F.row_number().over(w).cast("long"))
        .where(F.col("domain_rank") <= cap)
        .select("doc_id", "host", "registered_domain", "path_depth",
                "domain_rank")
    )


SCHEME_CI_PATTERN = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
HOSTPORT_CI_PATTERN = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)"
PATH_CI_PATTERN = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
PORT_PATTERN = r":([0-9]+)$"
TRACKING_PARAM_PATTERN = r"^(utm_[^=]*|fbclid|gclid|ref)="


def canonicalize_url(col: Column) -> Column:
    """Canonical URL form for frontier/corpus dedup (the normalization a
    crawler applies before the seen-set test — RFC 3986 §6 syntax-based
    normalization plus the standard tracking-param scrub):
      - scheme and host lowercased (case-insensitive per RFC); path and
        query values untouched (case-significant),
      - default ports stripped (http:80, https:443); others kept,
      - duplicate path slashes collapsed, trailing slash stripped (root
        stays '/'; empty path becomes '/'),
      - query params: empties and tracking params (utm_*, fbclid, gclid,
        ref) dropped, the rest sorted lexicographically (param order is
        not semantic),
      - fragment dropped (client-side only).
    Pure codegen'd Catalyst map — regexes in the Java∩RE2∩DuckDB subset
    ([0-9] not \\d), so the oracle replays it textually."""
    scheme = F.lower(F.regexp_extract(col, SCHEME_CI_PATTERN, 1))
    hostport = F.lower(F.regexp_extract(col, HOSTPORT_CI_PATTERN, 1))
    host = F.regexp_replace(hostport, r":[0-9]+$", "")
    port = F.regexp_extract(hostport, PORT_PATTERN, 1)
    keep_port = (port != F.lit("")) & ~(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443")))
    collapsed = F.regexp_replace(
        F.regexp_extract(col, PATH_CI_PATTERN, 1), "/+", "/")
    cpath = (F.when(collapsed.isin("", "/"), F.lit("/"))
             .otherwise(F.regexp_replace(collapsed, "/$", "")))
    params = F.filter(
        F.split(F.regexp_extract(col, QUERY_PATTERN, 1), "&"),
        lambda p: (F.length(p) > 0) & ~p.rlike(TRACKING_PARAM_PATTERN))
    cquery = F.array_join(F.array_sort(params), "&")
    return F.concat(
        scheme, F.lit("://"), host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        cpath,
        F.when(F.length(cquery) > 0,
               F.concat(F.lit("?"), cquery)).otherwise(F.lit("")))


def url_dedup(df: DataFrame) -> DataFrame:
    """Canonical-URL dedup: canonicalize (pure map), then one keeper (min
    doc_id) per canonical form. Returns every input doc with its canonical
    URL, the group keeper, group size, and is_keeper.

    Shape at 100 TB: canonicalization never leaves the scan's codegen
    stage; the group frame is ONE shuffle on canonical_url with map-side
    partial min/count (a link-farm URL duplicated a billion times sends
    one row per map task), and the flag join back is an equi-join AQE can
    skew-split — the exact_dedup shape lifted to the URL layer."""
    c = df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        canonicalize_url(F.col("url")).alias("canonical_url"),
    )
    groups = c.groupBy("canonical_url").agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count("*").alias("n_urls"),
    )
    return c.join(groups, "canonical_url").select(
        "doc_id", "canonical_url",
        F.col("keeper_doc_id").cast("long").alias("keeper_doc_id"),
        F.col("n_urls").cast("long").alias("n_urls"),
        (F.col("doc_id") == F.col("keeper_doc_id")).alias("is_keeper"),
    )


def host_stats(df: DataFrame) -> DataFrame:
    """Per-registered-domain census: doc count, distinct hosts, docs with a
    query string, max path depth. One shuffle on the domain key with
    map-side partial aggregation; countDistinct plans as Spark's standard
    two-phase expand."""
    u = F.col("url")
    return (
        df.select(
            registered_domain(u).alias("registered_domain"),
            url_host(u).alias("host"),
            path_depth(u).alias("path_depth"),
            (F.length(url_query(u)) > 0).cast("long").alias("has_query"),
        )
        .groupBy("registered_domain")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("host").cast("long").alias("n_hosts"),
            F.sum("has_query").cast("long").alias("n_query"),
            F.max("path_depth").alias("max_path_depth"),
        )
    )


def parse_robots(robots: DataFrame) -> DataFrame:
    """robots.txt → (host, prefixes): the non-empty 'Disallow: ' path
    prefixes, in file order. Single-agent simplification (every Disallow
    line counts, whatever User-agent block it sits in) — documented, the
    per-agent split is a grouping refinement, not a shape change. Empty
    'Disallow:' lines (allow-all convention) and non-Disallow lines are
    ignored."""
    lines = F.split(F.col("robots_txt"), "\n")
    prefixes = F.filter(
        F.transform(
            F.filter(lines, lambda ln: ln.rlike("^Disallow: ")),
            lambda ln: F.regexp_replace(ln, "^Disallow: ", "")),
        lambda p: F.length(p) > 0)
    return robots.select("host", prefixes.alias("prefixes"))


def robots_filter(pages: DataFrame, robots: DataFrame) -> DataFrame:
    """Crawl-policy gate: flag each page whose URL path falls under a
    'Disallow:' prefix of its host's robots.txt (prefix-match rule of the
    original 1994 REP; hosts without a robots row allow everything).
    Returns (doc_id, host, path, n_rules, blocked) for every page.

    Shape at 100 TB: the rule table is hosts × a handful of prefixes —
    BROADCAST; pages meet it map-side on the host key and evaluate the
    prefix test with an exists() over the tiny per-host array, so the
    corpus never shuffles for the policy decision. If the rule table ever
    outgrows broadcast, the same plan degrades gracefully to a host-keyed
    equi-join."""
    rules = parse_robots(robots)
    parsed = pages.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        url_host(F.col("url")).alias("host"),
        url_path(F.col("url")).alias("path"),
    )
    joined = parsed.join(F.broadcast(rules), "host", "left")
    return joined.select(
        "doc_id", "host", "path",
        F.when(F.col("prefixes").isNull(), F.lit(0))
        .otherwise(F.size("prefixes")).cast("long").alias("n_rules"),
        F.coalesce(
            F.exists(F.col("prefixes"),
                     lambda p: F.col("path").startswith(p)),
            F.lit(False)).alias("blocked"),
    )


def parse_crawl_delay(robots: DataFrame) -> DataFrame:
    """robots.txt → (host, delay_s): the first 'Crawl-delay: N' line
    (seconds, integer). Hosts whose file carries no such line are absent
    from the result (callers coalesce their default). Same single-agent
    simplification as parse_robots."""
    delay = F.regexp_extract(F.col("robots_txt"),
                             r"(?m)^Crawl-delay: ([0-9]+)$", 1)
    return (robots
            .select("host", delay.alias("d"))
            .filter(F.col("d") != "")
            .select("host", F.col("d").cast("long").alias("delay_s")))


def crawl_schedule(pages: DataFrame, robots: DataFrame,
                   default_delay_s: int = 10) -> DataFrame:
    """Politeness-scheduled crawl frontier: per host, URLs are fetched one
    per Crawl-delay window, so fetch k (1-based, deterministic md5 order —
    reproducible without an engine-private RNG) is scheduled at
    offset_s = (k-1) * delay_s. Returns
    (doc_id, host, fetch_rank, delay_s, offset_s).

    Shape at 100 TB: the delay table is per-host-tiny and BROADCAST; the
    frontier shuffles ONCE on host and sorts within the partition for the
    rank — irreducible, because per-host sequencing IS the politeness
    semantic (a host's queue must be totally ordered somewhere). Hot hosts
    make long partitions, not hot shuffle keys under AQE skew-split; the
    rank window carries no group limit by design (every URL gets a slot).
    """
    delays = parse_crawl_delay(robots)
    parsed = pages.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        url_host(F.col("url")).alias("host"),
        F.col("url").alias("_url"),
    )
    w = Window.partitionBy("host").orderBy(
        F.md5(F.concat(F.lit("sched:"), F.col("_url"))), F.col("_url"),
        F.col("doc_id"))
    ranked = parsed.withColumn("fetch_rank",
                               F.row_number().over(w).cast("long"))
    return (
        ranked.join(F.broadcast(delays), "host", "left")
        .select(
            "doc_id", "host", "fetch_rank",
            F.coalesce(F.col("delay_s"), F.lit(default_delay_s))
            .cast("long").alias("delay_s"),
            ((F.col("fetch_rank") - 1)
             * F.coalesce(F.col("delay_s"), F.lit(default_delay_s)))
            .cast("long").alias("offset_s"),
        )
    )
