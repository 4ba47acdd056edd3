"""Web-crawl curation catalog entries (x65-x67, VERDICT r4 item 6).

URL canonicalization → host-level aggregation → per-host crawl-budget
sampling: the corpus-curation front end a crawl-fed training pipeline
runs before dedup (operators/web.py holds the shared SQL builders and
the canonicalization contract). The reference has no crawl surface —
these extend the LLM-data-pipeline family the same way the dedup/ANN
entries do.

All three are full value-hash oracle entries: the Spark side and the
DuckDB oracle render the SAME pinned SQL text (dialect split only on
DuckDB's 'g' regexp flag), so parity holds by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.web import (
    CRAWL_RANK_SQL,
    sql_canon_parts,
    sql_html_doc,
    sql_html_fields,
    sql_raw_url,
)
from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans.registry import register
from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.readers import read_table

_RAW = sql_raw_url()
_SPARK_PARTS = sql_canon_parts("raw_url", "spark")
_DUCK_PARTS = sql_canon_parts("raw_url", "duckdb")


def _canon_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, source, lang, n_chars, raw_url, url, host,
    domain): two narrow codegen projections, zero shuffle."""
    return (
        read_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            "lang",
            "n_chars",
            F.expr(_RAW).alias("raw_url"),
        )
        .select(
            "doc_id",
            "source",
            "lang",
            "n_chars",
            "raw_url",
            F.expr(_SPARK_PARTS["url"]).alias("url"),
            F.expr(_SPARK_PARTS["host"]).alias("host"),
            F.expr(_SPARK_PARTS["domain"]).alias("domain"),
        )
    )


_DUCK_CANON_CTE = f"""
    WITH raw AS (
        SELECT doc_id, source, lang, n_chars, {_RAW} AS raw_url
        FROM documents
    ),
    canon AS (
        SELECT doc_id, source, lang, n_chars, raw_url,
               {_DUCK_PARTS["url"]} AS url,
               {_DUCK_PARTS["host"]} AS host,
               {_DUCK_PARTS["domain"]} AS domain
        FROM raw
    )
"""


@register(
    "x65_url_canonicalize",
    _DUCK_CANON_CTE
    + """
    SELECT doc_id, raw_url, url, host, domain FROM canon
    """,
    doc="""URL canonicalization (operators/web.py contract: lowercase
    scheme/host, strip default ports + fragments + tracking params,
    preserve remaining param order). The raw URL is synthesized
    deterministically per document so every rule has covered inputs —
    mixed-case schemes, www prefixes, :80/:443/:8080 ports, leading
    and trailing utm_/gclid params, fragments. 100 TB: narrow
    whole-stage-codegen string chain, NO shuffle — canonicalization
    cost is pure scan-side CPU, exactly where a 1000-executor crawl
    pipeline wants it.""",
)
def x65_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _canon_docs(spark, sf_dir).select(
        "doc_id", "raw_url", "url", "host", "domain"
    )


@register(
    "x66_host_aggregation",
    _DUCK_CANON_CTE
    + """
    SELECT host, domain,
           COUNT(*) AS n_urls,
           COUNT(DISTINCT url) AS n_distinct_urls,
           COUNT(DISTINCT lang) AS n_langs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM canon
    GROUP BY host, domain
    """,
    doc="""Host-level crawl rollup over canonical URLs: per-host page
    and distinct-URL counts, language spread, and total corpus bytes —
    the table a crawl scheduler prioritizes from. The two
    COUNT(DISTINCT) columns make this Catalyst's two-phase distinct
    aggregate: an Expand keyed on (host, domain, distinct-value)
    shuffles first, the final rollup on the group key shuffles second
    — TWO exchanges total (plan-verified), the inherent price of
    exact multi-distinct; at 100 TB swap to approx_count_distinct for
    the one-exchange sketch form. Partial aggregation still collapses
    the per-host fan-in map-side in both phases. total_chars stays
    BIGINT (no HUGEINT in the oracle).""",
)
def x66_host_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _canon_docs(spark, sf_dir)
        .groupBy("host", "domain")
        .agg(
            F.count("*").alias("n_urls"),
            F.count_distinct("url").alias("n_distinct_urls"),
            F.count_distinct("lang").alias("n_langs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


_BUDGET = 20  # pages per host — the crawl-politeness cap
# (below the per-host URL count at every test SF, so the budget
# actually prunes — a cap the data never reaches tests nothing)


@register(
    "x67_crawl_budget",
    _DUCK_CANON_CTE
    + f"""
    SELECT doc_id, url, host, crawl_rank FROM (
        SELECT doc_id, url, host,
               ROW_NUMBER() OVER (
                   PARTITION BY host
                   ORDER BY {CRAWL_RANK_SQL}, doc_id
               ) AS crawl_rank
        FROM canon
    ) ranked
    WHERE crawl_rank <= {_BUDGET}
    """,
    doc="""Per-host crawl-budget sampling: keep at most {b} pages per
    host, chosen by a deterministic Knuth-hash rank over doc_id (no
    RNG state — re-runs and engines agree bit-for-bit; doc_id
    tiebreak pins hash collisions). This is the hot-host mitigation
    itself: a crawl frontier's giant hosts are capped to the budget
    BEFORE any downstream per-host state can skew. One shuffle on the
    host key for the partitioned window (never the single-partition
    global-window trap); at 100 TB swap ROW_NUMBER for a bounded
    per-partition top-K accumulate if |host| × budget rows still
    overwhelm a partition — same semantics, no rank materialization.
    """.format(b=_BUDGET),
)
def x67_crawl_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("host").orderBy(F.expr(CRAWL_RANK_SQL), F.col("doc_id"))
    return (
        _canon_docs(spark, sf_dir)
        .select("doc_id", "url", "host")
        .withColumn("crawl_rank", F.row_number().over(w))
        .filter(F.col("crawl_rank") <= _BUDGET)
    )


# ===========================================================================
# Robots-style per-host URL filtering (completes the crawl family)
# ===========================================================================

# Deterministic per-host disallow rules, derived from the host string
# with arithmetic both engines share verbatim (no engine hash()):
# two disallowed path prefixes per host.
_RULE_D1 = "(LENGTH(host) * 131 + 7) % 10"
_RULE_D2 = "(LENGTH(host) * 37 + 3) % 10"


@register(
    "x70_robots_filter",
    _DUCK_CANON_CTE
    + f"""
    , hosts AS (SELECT DISTINCT host FROM canon),
    rules AS (
        SELECT host, CONCAT('/docs/', {_RULE_D1}) AS dis FROM hosts
        UNION ALL
        SELECT host, CONCAT('/docs/', {_RULE_D2}) AS dis FROM hosts
    )
    SELECT c.doc_id, c.host, c.url
    FROM canon c
    WHERE NOT EXISTS (
        SELECT 1 FROM rules r
        WHERE r.host = c.host
          AND {_DUCK_PARTS["path"].replace("raw_url", "c.raw_url")}
              LIKE CONCAT(r.dis, '%')
    )
    """,
    doc="""Robots-style crawl filtering: per-host disallow rules (two
    deterministic path prefixes per host, standing in for a fetched
    robots.txt rule list) anti-joined against the canonical URL set —
    the compliance gate between frontier and fetcher. The rule table
    is |hosts|-sized, so the anti-join BROADCASTS it and the URL
    probe side never shuffles — at 100 TB the filter itself is
    scan-side, the only shape a frontier-sized rule set allows (the
    one exchange here builds the demo rule table by DISTINCT over
    hosts; a real pipeline reads robots rules as a dim table and pays
    none). Prefix matching via startswith/LIKE 'prefix%' keeps the
    comparison in whole-stage codegen in both engines.""",
)
def x70_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    canon = _canon_docs(spark, sf_dir).select(
        "doc_id",
        "host",
        "url",
        F.expr(_SPARK_PARTS["path"]).alias("__path"),
    )
    hosts = canon.select("host").distinct()
    rules = hosts.selectExpr("host", f"CONCAT('/docs/', {_RULE_D1}) AS dis").unionAll(
        hosts.selectExpr("host", f"CONCAT('/docs/', {_RULE_D2}) AS dis")
    )
    allowed = canon.join(
        F.broadcast(rules),
        (canon.host == rules.host) & canon["__path"].startswith(rules.dis),
        "left_anti",
    )
    return allowed.select("doc_id", "host", "url")


# ===========================================================================
# x76 — HTML field extraction (title / links / boilerplate-stripped body)
# ===========================================================================

_HTML = sql_html_doc()
_SPARK_FIELDS = sql_html_fields("html", "spark")
_DUCK_FIELDS = sql_html_fields("html", "duckdb")

_X76_ORACLE = rf"""
    WITH h AS (
        SELECT doc_id, source, {_HTML} AS html FROM documents
    )
    SELECT doc_id, source,
           {_DUCK_FIELDS['title']} AS title,
           {_DUCK_FIELDS['n_links']} AS n_links,
           {_DUCK_FIELDS['body_len']} AS body_len,
           {_DUCK_FIELDS['markup_pct']} AS markup_pct
    FROM h
"""


@register(
    "x76_html_field_extract",
    _X76_ORACLE,
    doc="""HTML field extraction — the step between x70's fetch gate
    and x65's URL canonicalization in a crawl pipeline: per page, the
    <title> (NULL when absent: both engines return '' on a regex miss,
    normalized via NULLIF), the anchor count (length arithmetic on a
    literal marker — no regex needed to count), the
    boilerplate-stripped body length, and the markup-overhead percent.
    The page markup is synthesized deterministically per doc
    (sql_html_doc — the family's synthesize-in-query discipline, so
    the no-title and zero-link paths have covered inputs), and every
    extraction is ONE pinned SQL template rendered for both engines;
    dialect splits are DuckDB's 'g' regexp flag and // vs DIV.

    Spark plan: a single narrow whole-stage-codegen projection — zero
    shuffle, zero UDFs (the tag-strip regex and length arithmetic are
    JVM-side). At 100 TB this is the shape that matters: HTML-to-text
    runs scan-side on every fetched page, so anything but a pushdown-
    friendly narrow stage (a Python UDF, a shuffle) multiplies the
    corpus pass cost; the markup_pct output is the quality signal a
    curation gate would filter on (pure-markup pages score high and
    drop).""",
)
def x76_html_field_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "source", F.expr(_HTML).alias("html"))
        .select(
            "doc_id",
            "source",
            F.expr(_SPARK_FIELDS["title"]).alias("title"),
            F.expr(_SPARK_FIELDS["n_links"]).alias("n_links"),
            F.expr(_SPARK_FIELDS["body_len"]).alias("body_len"),
            F.expr(_SPARK_FIELDS["markup_pct"]).alias("markup_pct"),
        )
    )


# ===========================================================================
# x86 — link-graph extraction + in-link aggregation
# ===========================================================================

# The step between x76 (HTML parsed) and x46 (PageRank): pull every
# anchor target out of the page markup, canonicalize the target host
# with the SAME rules the source URLs go through (x65's contract —
# one canonicalization, both ends of the edge), and aggregate in-link
# authority per target host. Edge extraction is scan-side regexp;
# the aggregation is TWO levels — (dst, src) first, then dst — so a
# heavy-hitter destination host spreads over its source hosts in the
# first exchange (the hot-key story of every link graph: in-links are
# Zipf by construction, see SCALE.md).
_X86_HREFS = "regexp_extract_all(html, 'href=\"([^\"]+)\"', 1)"
_X86_TOPW = (
    "ROW_NUMBER() OVER (PARTITION BY dst_host"
    " ORDER BY links DESC, src_host ASC)"
)


def _x86_oracle() -> str:
    link_host = sql_canon_parts("link_url", "duckdb")["host"]
    return f"""
    WITH pages AS (
        SELECT doc_id, {_DUCK_PARTS["host"]} AS src_host, {_HTML} AS html
        FROM (SELECT doc_id, source, text, {_RAW} AS raw_url
              FROM documents)
    ),
    edges AS (
        SELECT doc_id, src_host, {link_host} AS dst_host
        FROM (SELECT doc_id, src_host,
                     unnest({_X86_HREFS}) AS link_url
              FROM pages)
    ),
    l1 AS (
        SELECT dst_host, src_host,
               COUNT(*) AS links,
               COUNT(DISTINCT doc_id) AS pages
        FROM edges GROUP BY dst_host, src_host
    ),
    l2 AS (
        SELECT dst_host,
               CAST(SUM(links) AS BIGINT) AS n_links,
               CAST(SUM(pages) AS BIGINT) AS n_src_pages,
               COUNT(*) AS n_src_hosts
        FROM l1 GROUP BY dst_host
    ),
    top AS (
        SELECT dst_host, src_host AS top_src_host,
               CAST(links AS BIGINT) AS top_src_links
        FROM (SELECT dst_host, src_host, links, {_X86_TOPW} AS rk FROM l1)
        WHERE rk = 1
    )
    SELECT l2.dst_host, l2.n_links, l2.n_src_pages,
           CAST(l2.n_src_hosts AS BIGINT) AS n_src_hosts,
           top.top_src_host, top.top_src_links
    FROM l2 JOIN top ON l2.dst_host = top.dst_host
    """


@register(
    "x86_link_graph",
    _x86_oracle(),
    doc="""Link-graph build: extract every anchor target from the page
    markup (x76's synthesized HTML — multiplicity kept, a page linking
    a host three times contributes three links), canonicalize the
    target host with x65's rules, and aggregate in-link authority per
    destination host (total links, distinct linking pages and hosts,
    and the top linking host with a deterministic (links DESC, host
    ASC) tie-break). This is the edge-list the graph tier consumes:
    x46's PageRank and x61's triangles run on exactly this output
    shape. Full value-hash oracle — extraction regexp, canonical
    hosts and counts are identical text in both engines.

    Plan: scan-side regexp explode (no Python), then a TWO-LEVEL
    aggregate — (dst, src) partial first, so a Zipf-hot destination
    host spreads across its source hosts before the per-dst collapse;
    the top-host window runs on host-pair-scale rows (|src|×|dst|,
    corpus-independent), never on the edge stream.""",
)
def x86_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    link_host = sql_canon_parts("link_url", "spark")["host"]
    pages = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "source", "text", F.expr(_RAW).alias("raw_url"))
        .select(
            "doc_id",
            F.expr(_SPARK_PARTS["host"]).alias("src_host"),
            F.expr(_HTML).alias("html"),
        )
    )
    edges = pages.select(
        "doc_id",
        "src_host",
        F.explode(F.expr(_X86_HREFS)).alias("link_url"),
    ).select("doc_id", "src_host", F.expr(link_host).alias("dst_host"))
    l1 = edges.groupBy("dst_host", "src_host").agg(
        F.count("*").alias("links"),
        F.countDistinct("doc_id").alias("pages"),
    )
    l2 = l1.groupBy("dst_host").agg(
        F.expr("CAST(SUM(links) AS BIGINT)").alias("n_links"),
        F.expr("CAST(SUM(pages) AS BIGINT)").alias("n_src_pages"),
        F.count("*").alias("n_src_hosts"),
    )
    top = (
        l1.withColumn("rk", F.expr(_X86_TOPW))
        .filter(F.col("rk") == 1)
        .select(
            "dst_host",
            F.col("src_host").alias("top_src_host"),
            F.col("links").cast("long").alias("top_src_links"),
        )
    )
    return l2.join(top, "dst_host").select(
        "dst_host",
        "n_links",
        "n_src_pages",
        F.col("n_src_hosts").cast("long").alias("n_src_hosts"),
        "top_src_host",
        "top_src_links",
    )
