"""HTML boilerplate stripping + main-content extraction (DOM heuristics),
JVM-side.

The north-rule tier for this engine is main-content extraction over
interleaved documents; alongside the OCR path this module covers the HTML
side: strip non-content machinery (scripts/styles/comments), split the
markup into block-level fragments, score each block by visible-text length
minus anchor-text length (the classic boilerplate discriminator — link-dense
nav/footer blocks score near zero even when wordy; cf. Kohlschütter et al.,
"Boilerplate Detection Using Shallow Text Features", WSDM 2010), and keep
the argmax block per document.

Everything compiles to Catalyst expressions (regexp_replace / split /
posexplode / one per-doc window) — no Python in the loop, so the path
whole-stage-codegens and scales like any other string pipeline. Patterns
stay inside the Java-regex ∩ RE2 ∩ DuckDB subset ((?is) inline flags, no
lookaround, no backrefs) so the DuckDB oracle in __spark_entry__ runs the
TEXTUALLY identical pipeline.

At 100 TB: one posexplode (blocks per doc is small and bounded by document
structure), one shuffle on doc_id for the per-doc argmax window. No joins,
no skew surface beyond pathological single-doc block counts (a 1 GB HTML
doc explodes to its own partition's rows only).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# dotall+case-insensitive removal of invisible machinery. Lazy .*? keeps the
# match inside ONE element pair (RE2 and Java agree on lazy semantics).
NOISE_PATTERNS = (
    r"(?is)<!--.*?-->",
    r"(?is)<script[^>]*>.*?</script>",
    r"(?is)<style[^>]*>.*?</style>",
)

# block-level boundary tags: splitting on these yields the candidate
# fragments; inline markup (<a>, <b>, <span>, …) stays inside fragments and
# is handled by the anchor/tag passes below
BLOCK_SPLIT = (
    r"(?i)</?(?:html|head|body|div|p|nav|header|footer|article|section|aside|"
    r"main|table|tr|td|th|ul|ol|li|h[1-6]|blockquote|pre|form)[^>]*>"
)

ANCHOR_PATTERN = r"(?is)<a[^>]*>(.*?)</a>"
TAG_PATTERN = r"(?s)<[^>]*>"

# minimal entity set (the common ones that survive into extracted text);
# applied AFTER tag stripping so &lt;b&gt; cannot re-introduce markup
ENTITIES = (("&nbsp;", " "), ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
            ("&quot;", '"'), ("&#39;", "'"))


def strip_noise(col: Column) -> Column:
    """Remove comments and <script>/<style> elements (content included)."""
    for pat in NOISE_PATTERNS:
        col = F.regexp_replace(col, pat, " ")
    return col


def visible_text(col: Column) -> Column:
    """Fragment → visible text: strip tags, unescape entities, collapse
    whitespace."""
    col = F.regexp_replace(col, TAG_PATTERN, " ")
    for ent, rep in ENTITIES:
        col = F.replace(col, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def anchor_text_len(col: Column) -> Column:
    """Total character count of text inside <a>…</a> within a fragment
    (tags nested inside the anchor text stripped before counting)."""
    anchors = F.regexp_extract_all(col, F.lit(ANCHOR_PATTERN), 1)
    return F.aggregate(
        anchors,
        F.lit(0),
        lambda acc, a: acc + F.length(visible_text(a)),
    )


ARTICLE_PATTERN = r"(?is)<(?:article|main)[^>]*>(.*?)</(?:article|main)>"


def _argmax_block(scoped: DataFrame, id_col: str,
                  extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """(id, [extra…], scope:html-string) → winning block per id.

    score(block) = len(visible_text) − anchor_text_len: body copy keeps its
    full length, link-dense boilerplate cancels out. Ties (duplicated
    blocks) break to the EARLIEST block, via the non-empty fragment's rank
    in document order — both engines preserve fragment order through the
    split, so the rank is well-defined in SQL too."""
    from pyspark.sql.window import Window

    frags = (
        scoped.select(id_col, *extra_cols,
                      F.posexplode(F.split(F.col("scope"), BLOCK_SPLIT))
                      .alias("pos", "frag"))
        # cheap pre-filter: splitting on adjacent block tags yields a crowd
        # of empty/whitespace fragments — drop them before the tag/entity/
        # anchor regex chains run (visible_text('') is '' so no survivor
        # changes; trim is one scan vs ~10 regex passes)
        .filter(F.trim(F.col("frag")) != "")
        .select(
            id_col, *extra_cols, "pos",
            visible_text(F.col("frag")).alias("txt"),
            anchor_text_len(F.col("frag")).alias("alen"),
        )
        .filter(F.length("txt") > 0)
        .withColumn("score", F.length("txt") - F.col("alen"))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("pos"))
    return (
        frags.withColumn("r", F.row_number().over(w))
        .withColumn("n_blocks", F.count("*").over(Window.partitionBy(id_col)))
        .filter(F.col("r") == 1)
        .select(
            id_col, *extra_cols,
            F.col("txt").alias("main_text"),
            F.col("score").cast("long").alias("main_score"),
            F.col("n_blocks").cast("long").alias("n_blocks"),
        )
    )


def html_main_content(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per document: (id_col, main_text, main_score, n_blocks) by pure
    text-density argmax over the whole page (see _argmax_block). id_col
    names the key column: doc_id, or record_id for WARC pages."""
    return _argmax_block(
        df.select(id_col, strip_noise(F.col("html")).alias("scope")), id_col)


def html_main_content_dom(df: DataFrame) -> DataFrame:
    """DOM-priority variant: when the page declares a semantic content
    container (<article> or <main>) with visible text, the block argmax is
    RESTRICTED to that container (strategy='dom'); pages without one fall
    back to the whole-page density argmax (strategy='density'). The classic
    two-tier extraction heuristic: trust explicit document structure first,
    density only when structure is absent.

    Same Catalyst-only shape as html_main_content plus one regexp_extract;
    n_blocks counts blocks within the CHOSEN scope."""
    scoped = (
        df.select("doc_id", strip_noise(F.col("html")).alias("h"))
        .withColumn("article",
                    F.regexp_extract(F.col("h"), ARTICLE_PATTERN, 1))
        .withColumn("use_dom", F.length(visible_text(F.col("article"))) > 0)
        .select(
            "doc_id",
            F.when(F.col("use_dom"), F.lit("dom"))
            .otherwise(F.lit("density")).alias("strategy"),
            F.when(F.col("use_dom"), F.col("article"))
            .otherwise(F.col("h")).alias("scope"),
        )
    )
    return _argmax_block(scoped, "doc_id", ("strategy",))


# ---------------------------------------------------------------------------
# Kohlschütter shallow-text-feature boilerplate classification
# ---------------------------------------------------------------------------

# The published NumWordsRulesClassifier decision tree (Kohlschütter et al.,
# WSDM 2010, and the reference boilerpipe implementation): a block is CONTENT
# iff its link density is low AND a small tree over (prev, curr, next) word
# counts + prev link density fires. Constants are the paper's.
_LD_CURR = 0.333333
_LD_PREV = 0.555556

LINK_PATTERN = r'(?is)<a[^>]*href="([^"]*)"[^>]*>(.*?)</a>'


def word_count(txt: Column) -> Column:
    """Token count of an already-collapsed/trimmed text column (0 for '')."""
    return (F.when(F.length(txt) == 0, F.lit(0))
            .otherwise(F.size(F.split(txt, " "))))


def anchor_word_count(col: Column) -> Column:
    """Total token count of visible text inside <a>…</a> within a fragment.

    Same interpreted-HOF shape as anchor_text_len — bounded per-element work
    (a handful of short anchors per block), not per-token×per-counter (cf.
    CLAUDE.md note on fold costs)."""
    anchors = F.regexp_extract_all(col, F.lit(ANCHOR_PATTERN), 1)
    return F.aggregate(
        anchors,
        F.lit(0),
        lambda acc, a: acc + word_count(visible_text(a)),
    )


def classify_blocks(df: DataFrame) -> DataFrame:
    """(doc_id, html) → one row per non-empty block with shallow text features
    and the boilerpipe NumWordsRulesClassifier label.

    Features per block: numWords (tokens of visible text), link density
    (anchor tokens / tokens, word-based as in boilerpipe), plus lag/lead
    context over blocks in document order. The decision tree, restated as
    booleans (content-iff form of the published tree):

      ld > 0.333333                      → boilerplate
      elif prev_ld <= 0.555556           → content iff words > 16
                                            or next_words > 15
                                            or prev_words > 4
      else                               → content iff words > 40
                                            or next_words > 17

    Pure Catalyst: regexp splits + two lag/lead windows on (doc_id, pos). At
    100 TB this is ONE shuffle on doc_id; the downstream per-doc aggregate
    in html_boilerpipe reuses the same hash partitioning (no second
    exchange). Both engines compute ld as an IEEE-754 double division, so
    threshold comparisons agree bit-for-bit.
    """
    from pyspark.sql.window import Window

    frags = (
        df.select("doc_id", strip_noise(F.col("html")).alias("scope"))
        .select("doc_id",
                F.posexplode(F.split(F.col("scope"), BLOCK_SPLIT))
                .alias("pos", "frag"))
        .select(
            "doc_id", "pos",
            visible_text(F.col("frag")).alias("txt"),
            anchor_word_count(F.col("frag")).alias("a_words"),
        )
        .filter(F.length("txt") > 0)
        .withColumn("words", word_count(F.col("txt")))
        .withColumn("ld", F.col("a_words").cast("double") / F.col("words"))
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    feats = (
        frags
        .withColumn("prev_words", F.lag("words", 1, 0).over(w))
        .withColumn("next_words", F.lead("words", 1, 0).over(w))
        .withColumn("prev_ld", F.lag("ld", 1, 0.0).over(w))
    )
    is_content = (
        (F.col("ld") <= _LD_CURR)
        & F.when(
            F.col("prev_ld") <= _LD_PREV,
            (F.col("words") > 16) | (F.col("next_words") > 15)
            | (F.col("prev_words") > 4),
        ).otherwise(
            (F.col("words") > 40) | (F.col("next_words") > 17)
        )
    )
    return feats.withColumn("is_content", is_content)


def html_boilerpipe(df: DataFrame) -> DataFrame:
    """Per document: boilerpipe-style extracted content — the concatenation
    (document order) of blocks the NumWordsRulesClassifier keeps — plus
    block counts. Returns (doc_id, content_text, n_content, n_boiler,
    content_words); content_text is '' when the classifier keeps nothing
    (boilerpipe's documented behavior on very short pages).

    The groupBy lands on the window's doc_id hash partitioning —
    exchange-free after the single classify shuffle."""
    blocks = classify_blocks(df)
    kept = F.when(F.col("is_content"), F.struct("pos", "txt"))
    return (
        blocks.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list(kept)),
                            lambda s: s["txt"]),
                " ").alias("content_text"),
            F.sum(F.col("is_content").cast("long")).alias("n_content"),
            F.sum((~F.col("is_content")).cast("long")).alias("n_boiler"),
            F.sum(F.when(F.col("is_content"), F.col("words"))
                  .otherwise(F.lit(0)).cast("long")).alias("content_words"),
        )
    )


def html_boilerpipe_arrays(df: DataFrame) -> DataFrame:
    """Shuffle-FREE twin of html_boilerpipe: because every feature the
    classifier consumes (prev/curr/next word counts, prev link density) is
    context WITHIN one document, the whole pipeline can stay array-native
    per row — split to a fragment array, per-element features via
    transform/zip_with, neighbor context via index lambdas + F.get, tree +
    ordered concat per row. ZERO exchanges: the classification is a pure
    map over the corpus, so at 100 TB it runs at scan speed with no shuffle
    at all (plan-asserted in tools/explain_audit.py), and — having no
    window — it is directly usable under Structured Streaming.

    Per-element lambdas are interpreted, but the per-block work is a
    bounded handful of JVM regex calls (same count as the windowed form),
    not per-token×per-counter folds — the equality test + bench guard the
    tradeoff. Output is column-identical to html_boilerpipe (equality
    asserted in tests/test_html_extract.py)."""
    blocks = F.filter(
        F.transform(
            F.split(strip_noise(F.col("html")), BLOCK_SPLIT),
            lambda p: F.struct(
                visible_text(p).alias("txt"),
                anchor_word_count(p).alias("aw"),
            ),
        ),
        lambda b: F.length(b["txt"]) > 0,
    )
    # a doc whose blocks are all empty yields no groupBy row in the
    # windowed form (and no row in the SQL oracle's GROUP BY) — drop it
    # here too so the two forms are row-identical on degenerate input
    d = df.select("doc_id", blocks.alias("b")).filter(F.size("b") > 0)
    d = d.withColumn(
        "words", F.transform("b", lambda x: word_count(x["txt"])))
    d = d.withColumn(
        "lds", F.zip_with("b", "words",
                          lambda x, w: x["aw"].cast("double") / w))
    # F.get is 0-based and returns NULL out of bounds — coalesce supplies
    # the classifier's missing-neighbor defaults (0 words, 0.0 density)
    lab = F.transform(
        "b",
        lambda x, i: (
            (F.get("lds", i) <= _LD_CURR)
            & F.when(
                F.coalesce(F.get("lds", i - 1), F.lit(0.0)) <= _LD_PREV,
                (F.get("words", i) > 16)
                | (F.coalesce(F.get("words", i + 1), F.lit(0)) > 15)
                | (F.coalesce(F.get("words", i - 1), F.lit(0)) > 4),
            ).otherwise(
                (F.get("words", i) > 40)
                | (F.coalesce(F.get("words", i + 1), F.lit(0)) > 17)
            )
        ),
    )
    d = d.withColumn("lab", lab)
    return d.select(
        "doc_id",
        F.array_join(
            F.zip_with("b", "lab", lambda x, l: F.when(l, x["txt"])),
            " ").alias("content_text"),     # array_join drops NULL elements
        F.size(F.filter("lab", lambda l: l)).cast("long").alias("n_content"),
        F.size(F.filter("lab", lambda l: ~l)).cast("long").alias("n_boiler"),
        F.aggregate(
            F.zip_with("words", "lab",
                       lambda w, l: F.when(l, w).otherwise(F.lit(0))),
            F.lit(0), lambda acc, x: acc + x,
        ).cast("long").alias("content_words"),
    )


def extract_links(df: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """Outlink extraction — the link-graph primitive of a web-scale
    pipeline: one row per <a href="…">…</a> with its position, href, visible
    anchor text, and an internal-link flag (path-relative href). `carry`
    names extra input columns to pass through per link row (e.g. the page
    URL for downstream href resolution) — still zero-shuffle.

    Shape at 100 TB: pure codegen'd map + posexplode, NO shuffle at all —
    link rows stay on the partition that held the page. Both capture groups
    come from the SAME pattern so the zipped arrays always align."""
    h = df.select("doc_id", *carry, strip_noise(F.col("html")).alias("h"))
    return (
        h.withColumn("hrefs",
                     F.regexp_extract_all(F.col("h"), F.lit(LINK_PATTERN), 1))
        .withColumn("texts",
                    F.regexp_extract_all(F.col("h"), F.lit(LINK_PATTERN), 2))
        .select("doc_id", *carry,
                F.posexplode(F.arrays_zip("hrefs", "texts"))
                .alias("link_pos", "z"))
        .select(
            "doc_id", *carry,
            F.col("link_pos").cast("long").alias("link_pos"),
            F.col("z.hrefs").alias("href"),
            visible_text(F.col("z.texts")).alias("anchor_text"),
            F.when(F.col("z.hrefs").startswith("/"), F.lit(1))
            .otherwise(F.lit(0)).cast("long").alias("is_internal"),
        )
    )


# ---------------------------------------------------------------------------
# Page metadata extraction (WET-style: title / description / canonical /
# lang / heading census)
# ---------------------------------------------------------------------------

TITLE_PATTERN = r"(?is)<title[^>]*>(.*?)</title>"
META_DESC_PATTERN = r'(?is)<meta[^>]*name="description"[^>]*content="([^"]*)"'
CANONICAL_PATTERN = r'(?is)<link[^>]*rel="canonical"[^>]*href="([^"]*)"'
LANG_PATTERN = r'(?is)<html[^>]* lang="([^"]*)"'
HEADING_PATTERN = r"(?i)<h[1-6][^>]*>"


def extract_metadata(df: DataFrame) -> DataFrame:
    """Per-page metadata — the header-census op of a WARC→WET-style web
    pipeline: visible <title> text, meta description, canonical URL,
    declared language, heading count, and title word count. Absent fields
    are '' (both engines' regexp_extract no-match convention), so the
    schema is total without null handling downstream.

    Pure codegen'd map, ZERO shuffle (plan-asserted): five regexp_extract
    + one regexp_extract_all census per row."""
    h = df.select("doc_id", strip_noise(F.col("html")).alias("h"))
    title = visible_text(F.regexp_extract(F.col("h"), TITLE_PATTERN, 1))
    return h.select(
        "doc_id",
        title.alias("title"),
        F.regexp_extract(F.col("h"), META_DESC_PATTERN, 1).alias("description"),
        F.regexp_extract(F.col("h"), CANONICAL_PATTERN, 1).alias("canonical"),
        F.regexp_extract(F.col("h"), LANG_PATTERN, 1).alias("lang"),
        F.size(F.regexp_extract_all(F.col("h"), F.lit(HEADING_PATTERN), 0))
        .cast("long").alias("n_headings"),
        word_count(title).cast("long").alias("title_words"),
    )


def synthesize_html(text_col: Column, doc_id_col: Column,
                    article_when: Column | None = None,
                    lede: bool = False, meta: bool = False) -> Column:
    """Deterministic HTML wrapper used by the `html_main_content` oracle
    query: the article text inside <div class=content>, surrounded by
    discriminating boilerplate — a nav whose link texts BORROW the doc's
    first word (so boilerplate isn't a constant the extractor could
    special-case), a link-dense related-items block (wordy but ~all anchor
    text: positive length, near-zero score), a script, a comment, and a
    footer with entities. Mirrored textually in the DuckDB oracle SQL.

    `article_when` (optional bool Column): rows where it is true get the
    content div wrapped in <article>…</article> — the fixture for the
    DOM-priority strategy (html_main_content_dom), exercising both its
    branches over one corpus.

    `lede=True` inserts a fixed 6-word teaser paragraph between the nav and
    the content div — the fixture for the boilerpipe classifier: the lede's
    keep/drop decision depends on the NEXT block's word count (tree branch
    prev_ld>0.555556 → next_words>17), so one corpus with varying document
    lengths exercises both outcomes, while the content block itself is kept
    through either of the two content arms depending on its own length.

    `meta=True` is the extract_metadata fixture: a lang attribute on <html>
    (es for doc_id%3==0, en otherwise — branch-discriminating, not
    constant), a meta description and canonical link borrowing doc words/id,
    and one or two headings (the second only for even ids, so n_headings
    varies)."""
    first_word = F.regexp_extract(text_col, r"^([^ ]+)", 1)
    a_open = (F.when(article_when, F.lit("<article>")).otherwise(F.lit(""))
              if article_when is not None else F.lit(""))
    a_close = (F.when(article_when, F.lit("</article>")).otherwise(F.lit(""))
               if article_when is not None else F.lit(""))
    html_open = (
        F.concat(F.lit('<html lang="'),
                 F.when(doc_id_col % 3 == 0, F.lit("es")).otherwise(F.lit("en")),
                 F.lit('"><head><title>doc '))
        if meta else F.lit("<html><head><title>doc "))
    head_extra = (
        F.concat(F.lit('<meta name="description" content="'), first_word,
                 F.lit(' resumen del documento">'
                       '<link rel="canonical" href="/doc/'),
                 doc_id_col.cast("string"), F.lit('">'))
        if meta else F.lit(""))
    headings = (
        F.concat(F.lit("<h1>"), first_word, F.lit(" titular</h1>"),
                 F.when(doc_id_col % 2 == 0,
                        F.lit("<h2>seccion dos</h2>")).otherwise(F.lit("")))
        if meta else F.lit(""))
    return F.concat(
        html_open, doc_id_col.cast("string"),
        F.lit("</title>"),
        head_extra,
        F.lit("<script>var t=1;</script><style>.m{x:1}</style></head>"
              "<body><nav><a href=\"/\">home</a> <a href=\"/t\">"),
        first_word,
        F.lit(" archive</a> <a href=\"/c\">contact</a></nav>"
              "<!-- build 17 -->"),
        F.lit("<p>Editorial summary follows below here today.</p>"
              if lede else ""),
        headings,
        a_open,
        F.lit("<div class=\"content\"><p>"),
        text_col,
        F.lit("</p></div>"),
        a_close,
        F.lit("<div class=\"related\"><a href=\"/r1\">"),
        first_word, F.lit(" related reading one</a> <a href=\"/r2\">"),
        first_word, F.lit(" more suggested links two</a></div>"
              "<footer>terms &amp; legal</footer>"
              "</body></html>"),
    )


# --- HTML table extraction (DOM-heuristic structured data) -----------------

# optional attributes must start with whitespace, so <thead>/<track> cannot
# leak through the <t[dh]>/<tr> shapes; lazy bodies keep each match inside
# one element pair. Non-nested tables only (a nested <table> would end the
# outer match at the inner </table>) — the standard regex-extractor
# contract, documented here and in the oracle.
TABLE_PATTERN = r"(?is)<table(?:\s[^>]*)?>(.*?)</table>"
TR_PATTERN = r"(?is)<tr(?:\s[^>]*)?>(.*?)</tr>"
CELL_PATTERN = r"(?is)<t([dh])(?:\s[^>]*)?>(.*?)</t[dh]>"


def extract_tables(df: DataFrame) -> DataFrame:
    """HTML <table> → structured cells: one row per cell,
    (doc_id, table_idx, row_idx, col_idx, is_header, cell_text) in
    document order. Header cells are <th>; cell text is the visible-text
    rule (tags stripped, entities unescaped, whitespace collapsed), so
    inline markup inside cells is flattened and empty cells come out ''.
    Comments and <script>/<style> are removed FIRST — markup quoted inside
    scripts cannot fabricate tables.

    Shape at 100 TB: a pure codegen'd map over the scan — three
    posexplode stages (tables → rows → cells; the cell stage extracts the
    tag-kind and body arrays once and indexes them position-aligned, the
    html_links pattern), ZERO shuffles end to end. Ragged rows are
    preserved as-is (col_idx is per-row); downstream pivoting chooses its
    own rectangularization."""
    h = strip_noise(F.col("html"))
    t = df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode(F.regexp_extract_all(h, F.lit(TABLE_PATTERN), 1))
        .alias("table_idx", "tbl"),
    )
    r = t.select(
        "doc_id", F.col("table_idx").cast("long").alias("table_idx"),
        F.posexplode(F.regexp_extract_all(F.col("tbl"), F.lit(TR_PATTERN), 1))
        .alias("row_idx", "rowhtml"),
    )
    c = r.select(
        "doc_id", "table_idx",
        F.col("row_idx").cast("long").alias("row_idx"),
        F.posexplode(
            F.regexp_extract_all(F.col("rowhtml"), F.lit(CELL_PATTERN), 1)
        ).alias("col_idx", "kind"),
        F.regexp_extract_all(F.col("rowhtml"), F.lit(CELL_PATTERN), 2)
        .alias("bodies"),
    )
    return c.select(
        "doc_id", "table_idx", "row_idx",
        F.col("col_idx").cast("long").alias("col_idx"),
        (F.lower(F.col("kind")) == "h").alias("is_header"),
        visible_text(F.element_at(F.col("bodies"), F.col("col_idx") + 1))
        .alias("cell_text"),
    )


# --- document outline extraction (heading hierarchy) ------------------------

HEADING_FULL_PATTERN = r"(?is)<h([1-6])(?:\s[^>]*)?>(.*?)</h[1-6]>"


def extract_outline(df: DataFrame) -> DataFrame:
    """h1–h6 → hierarchical outline: one row per heading with its
    multi-level section number (the '1.2.1' a table of contents prints),
    visible title, and the word count of its body (visible text from this
    heading to the next heading of ANY level, or end of document —
    trailing page furniture included by contract; run boilerpipe first if
    the corpus needs it). The section-chunking primitive for RAG/corpus
    pipelines: (doc, section_path) is a stable chunk key.

    Numbering is pure window algebra — for level l at heading i,
        c_l(i) = s_l(i) − s_l(last j<i with level_j < l)
    where s_l is the running count of level-l headings; because s_l is
    nondecreasing, the value at that last lower-level heading is
    max(CASE WHEN level < l THEN s_l END) over the preceding window. All
    six levels share ONE doc-keyed window spec, so the whole outline costs
    a single exchange+sort per document set (plan-asserted); the heading
    explode itself is a zero-shuffle codegen map."""
    h = strip_noise(F.col("html"))
    pat = F.lit(HEADING_FULL_PATTERN)
    e = df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode(F.regexp_extract_all(h, pat, 1)).alias("pos", "lv"),
        F.regexp_extract_all(h, pat, 2).alias("titles"),
        F.split(h, HEADING_FULL_PATTERN).alias("parts"),
    ).select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.col("lv").cast("long").alias("level"),
        visible_text(F.element_at(F.col("titles"), F.col("pos") + 1))
        .alias("title"),
        word_count(visible_text(F.element_at(F.col("parts"),
                                             F.col("pos") + 2)))
        .cast("long").alias("n_body_words"),
    )
    w = (Window.partitionBy("doc_id").orderBy("pos")
         .rowsBetween(Window.unboundedPreceding, 0))
    running = e.select(
        "*", *[F.sum(F.when(F.col("level") == lv, 1).otherwise(0)).over(w)
               .alias(f"s{lv}") for lv in range(1, 7)])
    counters = running.select(
        "*",
        *[(F.col(f"s{lv}") - F.coalesce(
            F.max(F.when(F.col("level") < lv, F.col(f"s{lv}"))).over(w),
            F.lit(0))).alias(f"c{lv}") for lv in range(1, 7)],
    )
    path = F.concat_ws(".", F.transform(
        F.slice(F.array(*[F.col(f"c{lv}") for lv in range(1, 7)]),
                1, F.col("level").cast("int")),
        lambda x: x.cast("string")))
    return counters.select(
        "doc_id", "pos", "level", path.alias("section_path"), "title",
        "n_body_words")


def tables_to_markdown(cells: DataFrame) -> DataFrame:
    """extract_tables cells → one GitHub-markdown string per table:
    (doc_id, table_idx, n_rows, n_cols, markdown). The standard
    table-linearization step of an LLM training corpus (structured HTML
    is worth little to a text model until serialized; GFM tables are the
    de-facto target format).

    Rules (each mirrored verbatim in the DuckDB oracle): cell pipes are
    escaped to '\\|'; ragged rows are right-padded with empty cells to
    the table's max column count; a '| --- |...' separator follows row 0
    iff row 0 contains a header (<th>) cell; rows join with single
    newlines; every row renders as '| c1 | c2 | ... |'.

    Shape at 100 TB: two keyed aggregations — (doc, table, row) then
    (doc, table) — over the zero-shuffle cell stream; the per-table stats
    (n_cols/n_rows/header flag) groupBy shares the (doc, table) key with
    the row-assembly join, so Catalyst plans one exchange for that key.
    Cell order inside a row and row order inside a table come from
    array_sort over collected (idx, payload) structs — never from
    collect_list arrival order, which is nondeterministic under
    parallelism."""
    esc = F.regexp_replace(F.col("cell_text"), r"\|", r"\\\|")
    rowagg = (
        cells.select("doc_id", "table_idx", "row_idx", "col_idx",
                     esc.alias("cell"))
        .groupBy("doc_id", "table_idx", "row_idx")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("col_idx", "cell"))),
                lambda s: s["cell"],
            ).alias("cl"),
        )
    )
    stats = cells.groupBy("doc_id", "table_idx").agg(
        (F.max("col_idx") + 1).alias("n_cols"),
        (F.max("row_idx") + 1).alias("n_rows"),
        F.max(
            F.when((F.col("row_idx") == 0) & F.col("is_header"), 1)
            .otherwise(0)
        ).alias("has_header"),
    )
    padded = rowagg.join(stats, ["doc_id", "table_idx"]).select(
        "doc_id", "table_idx", "row_idx", "n_cols", "n_rows", "has_header",
        F.concat(
            F.lit("| "),
            F.concat_ws(
                " | ",
                F.concat(
                    F.col("cl"),
                    F.array_repeat(
                        F.lit(""),
                        (F.col("n_cols") - F.size("cl")).cast("int")),
                ),
            ),
            F.lit(" |"),
        ).alias("rowstr"),
    )
    tbl = padded.groupBy("doc_id", "table_idx", "n_cols", "n_rows",
                         "has_header").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("row_idx", "rowstr"))),
            lambda s: s["rowstr"],
        ).alias("lines"),
    )
    sep = F.expr("concat('|', repeat(' --- |', n_cols))")
    nl = F.lit("\n")
    md = (
        F.when(
            (F.col("has_header") == 1) & (F.col("n_rows") > 1),
            F.concat(
                F.element_at("lines", 1), nl, sep, nl,
                F.concat_ws(
                    "\n", F.slice(F.col("lines"), 2,
                                  (F.col("n_rows") - 1).cast("int"))),
            ),
        )
        .when(F.col("has_header") == 1,
              F.concat(F.element_at("lines", 1), nl, sep))
        .otherwise(F.concat_ws("\n", F.col("lines")))
    )
    return tbl.select(
        "doc_id", "table_idx",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_cols").cast("long").alias("n_cols"),
        md.alias("markdown"),
    )
