"""Round-10 catalog entries: compliance risk profiling (k-anonymity),
curriculum training-order construction, corpus vocabulary statistics,
and graph link prediction — four genres the catalog lacked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans.registry import register
from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.readers import read_table

# ---------------------------------------------------------------------------
# x119 — k-anonymity audit over quasi-identifiers
# ---------------------------------------------------------------------------

_X119_ORACLE = """
    WITH cls AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS band,
               CAST(COUNT(*) AS BIGINT) AS sz
        FROM customer GROUP BY c_nationkey, c_mktsegment, band
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
               CAST(SUM(sz) AS BIGINT) AS n_rows,
               CAST(MIN(sz) AS BIGINT) AS min_class_size,
               CAST(SUM(CASE WHEN sz < 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
               CAST(COALESCE(SUM(CASE WHEN sz < 2 THEN sz END), 0)
                    AS BIGINT) AS r2,
               CAST(SUM(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT) AS c5,
               CAST(COALESCE(SUM(CASE WHEN sz < 5 THEN sz END), 0)
                    AS BIGINT) AS r5,
               CAST(SUM(CASE WHEN sz < 10 THEN 1 ELSE 0 END) AS BIGINT) AS c10,
               CAST(COALESCE(SUM(CASE WHEN sz < 10 THEN sz END), 0)
                    AS BIGINT) AS r10,
               CAST(SUM(CASE WHEN sz < 20 THEN 1 ELSE 0 END) AS BIGINT) AS c20,
               CAST(COALESCE(SUM(CASE WHEN sz < 20 THEN sz END), 0)
                    AS BIGINT) AS r20
        FROM cls
    )
    SELECT k, n_small_classes, rows_at_risk,
           CAST((1000000 * rows_at_risk) // n_rows AS BIGINT) AS risk_ppm,
           min_class_size, n_classes, n_rows
    FROM (
        SELECT CAST(2 AS BIGINT) AS k, c2 AS n_small_classes,
               r2 AS rows_at_risk, min_class_size, n_classes, n_rows FROM s
        UNION ALL SELECT 5, c5, r5, min_class_size, n_classes, n_rows FROM s
        UNION ALL SELECT 10, c10, r10, min_class_size, n_classes, n_rows FROM s
        UNION ALL SELECT 20, c20, r20, min_class_size, n_classes, n_rows FROM s
    )
"""


@register(
    "x119_k_anonymity_audit",
    _X119_ORACLE,
    doc="""k-anonymity audit over a quasi-identifier tuple — the
    re-identification risk read-out (Sweeney 2002) a compliance pass
    runs before releasing or training on user-linked records: group
    customers by the QI tuple (nation, market segment, account-balance
    band of width 1000), measure each equivalence class, and report —
    for k ∈ {2, 5, 10, 20} — how many classes fall below k and how
    many rows sit in them (the rows a k-anonymizing release would have
    to suppress or generalize), as exact-ppm risk shares; plus the
    dataset's achieved anonymity level (the minimum class size) and
    the class/row totals. Completes the compliance arc (x25/x116 scrub
    what a record SAYS; this measures what its attributes IMPLY).

    Scale: ONE exchange — the QI group-by (partial aggregation
    map-side); everything after runs on the |classes|-bounded frame
    (class count is capped by the QI domain, not the corpus), with the
    threshold fan-out as a 4-row stack of one global-aggregate row.
    Embarrassingly parallel at 100 TB.""",
)
def x119_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cls = (
        read_table(spark, sf_dir, "customer")
        .groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.expr("CAST(FLOOR(c_acctbal / 1000) AS BIGINT)").alias("band"),
        )
        .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("sz"))
    )
    return k_anonymity_report(cls)


def k_anonymity_report(cls: DataFrame) -> DataFrame:
    """x119's read-out over any (…QI…, sz) class-size frame — shared
    with the streaming twin s24, whose state IS this frame."""
    s = cls.agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_classes"),
        F.expr("CAST(SUM(sz) AS BIGINT)").alias("n_rows"),
        F.expr("CAST(MIN(sz) AS BIGINT)").alias("min_class_size"),
        *[
            e
            for k in (2, 5, 10, 20)
            for e in (
                F.expr(
                    f"CAST(SUM(CASE WHEN sz < {k} THEN 1 ELSE 0 END)"
                    f" AS BIGINT)"
                ).alias(f"c{k}"),
                F.expr(
                    f"CAST(COALESCE(SUM(CASE WHEN sz < {k} THEN sz END), 0)"
                    f" AS BIGINT)"
                ).alias(f"r{k}"),
            )
        ],
    )
    stacked = s.select(
        F.expr(
            "stack(4, CAST(2 AS BIGINT), c2, r2,"
            " CAST(5 AS BIGINT), c5, r5,"
            " CAST(10 AS BIGINT), c10, r10,"
            " CAST(20 AS BIGINT), c20, r20)"
            " AS (k, n_small_classes, rows_at_risk)"
        ),
        "min_class_size",
        "n_classes",
        "n_rows",
    )
    return stacked.select(
        "k",
        "n_small_classes",
        "rows_at_risk",
        F.expr(
            "CAST((1000000 * rows_at_risk) div n_rows AS BIGINT)"
        ).alias("risk_ppm"),
        "min_class_size",
        "n_classes",
        "n_rows",
    )


# ---------------------------------------------------------------------------
# x120 — curriculum interleave schedule (quality deciles, round-robin)
# ---------------------------------------------------------------------------

from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans.catalog_feats import (  # noqa: E402
    _X117_SCORE_DUCK as _X120_SCORE_DUCK,
    _X117_SCORE_SPARK as _X120_SCORE_SPARK,
)

_X120_ORACLE = f"""
    WITH scored AS (
        SELECT doc_id, {_X120_SCORE_DUCK} AS score FROM documents
    ),
    dec AS (
        SELECT doc_id, score,
               NTILE(10) OVER (ORDER BY score DESC, doc_id) AS decile
        FROM scored
    ),
    sch AS (
        SELECT doc_id, decile,
               ROW_NUMBER() OVER (
                   PARTITION BY decile ORDER BY score DESC, doc_id
               ) AS rid
        FROM dec
    )
    SELECT CAST((rid - 1) * 10 + decile AS BIGINT) AS pos, doc_id,
           CAST(decile AS BIGINT) AS decile, CAST(rid AS BIGINT) AS rank_in_decile
    FROM sch ORDER BY pos LIMIT 50
"""

# closed-form NTILE(10) pieces over (__r = global rank, __nt = total):
# the same formula ntile_at_scale pins bit-identical to engine NTILE
_X120_Q = "(__nt div 10)"
_X120_REM = "(__nt % 10)"
_X120_BIG = f"(({_X120_Q} + 1) * {_X120_REM})"
_X120_DECILE = (
    f"CASE WHEN __r <= {_X120_BIG} THEN (__r - 1) div ({_X120_Q} + 1) + 1 "
    f"ELSE {_X120_REM} + (__r - {_X120_BIG} - 1)"
    f" div GREATEST({_X120_Q}, 1) + 1 END"
)
# NTILE start offset of tile d: (d-1)*q + LEAST(d-1, rem) + 1, so the
# within-tile rank is algebraically local once (__r, d, q, rem) exist
_X120_RID = (
    f"__r - (decile - 1) * {_X120_Q} - LEAST(decile - 1, {_X120_REM})"
)


@register(
    "x120_curriculum_interleave",
    _X120_ORACLE,
    doc="""Curriculum training-order construction: rank the corpus by
    the learned quality score (x95's scorer — the same expression
    text x117's lift table grades), cut into 10 difficulty deciles,
    and emit the round-robin interleaved schedule position pos =
    (rank_within_decile − 1) × 10 + decile — every consecutive run of
    10 training examples then spans all 10 difficulty levels (the
    anti-curriculum-shock mixing used when ordered data would skew
    early optimization). Output is the first 50 schedule slots
    (content-pinned against DuckDB's NTILE + per-decile ROW_NUMBER).

    Scale: NO per-decile window over the corpus (10 partitions of
    corpus/10 rows each is the classic hot-window) — the decile AND
    the within-decile rank are closed-form functions of the global
    rank and the total count: one two-phase global_rank enumeration
    (range partition + |partitions|-row offsets broadcast, q59/x42
    machinery) plus a 1-row total broadcast, then pure row-local
    arithmetic and a top-50 TakeOrdered. The schedule for ALL rows is
    materializable with the same plan minus the limit.""",
)
def x120_curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.shuffle import (
        global_rank,
    )

    scored = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_X120_SCORE_SPARK).alias("score")
    )
    ranked = global_rank(
        scored, [F.col("score").desc(), F.col("doc_id").asc()], "__r"
    )
    total = ranked.groupBy().agg(F.count("*").alias("__nt"))
    j = ranked.crossJoin(F.broadcast(total))
    dec = j.select("doc_id", "__r", "__nt", F.expr(_X120_DECILE).alias("decile"))
    sch = dec.select(
        "doc_id",
        "decile",
        F.expr(_X120_RID).alias("rid"),
    )
    return (
        sch.select(
            F.expr("CAST((rid - 1) * 10 + decile AS BIGINT)").alias("pos"),
            "doc_id",
            F.col("decile").cast("long").alias("decile"),
            F.col("rid").cast("long").alias("rank_in_decile"),
        )
        .orderBy("pos")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# x121 — vocabulary profile (type-token ratio, hapax share) per source
# ---------------------------------------------------------------------------

_X121_ORACLE = r"""
    WITH tok AS (
        SELECT source, u.token AS token
        FROM documents,
             UNNEST(regexp_split_to_array(trim(text), '\s+')) AS u(token)
        WHERE u.token <> ''
    ),
    tc AS (
        SELECT source, token, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM tok GROUP BY source, token
    )
    SELECT source,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST((1000000 * COUNT(*)) // SUM(cnt) AS BIGINT) AS ttr_ppm,
           CAST((1000000 * SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS hapax_share_ppm
    FROM tc GROUP BY source
"""


@register(
    "x121_vocabulary_profile",
    _X121_ORACLE,
    doc="""Per-source vocabulary profile — the Heaps-law corpus
    statistics a pretraining data card reports: total token count,
    distinct-token (type) count, hapax-legomena count (types occurring
    exactly once — the spelling-noise/OCR-junk tail), type-token ratio
    and hapax share in exact ppm. A source whose TTR collapses is
    boilerplate; one whose hapax share explodes is noisy — both feed
    the curation thresholds next to x06/x26's per-document scores
    (this is the per-SOURCE roll-up those per-document gates can't
    see).

    Scale: the canonical two-level aggregate — explode whitespace
    tokens (narrow, codegen), partial-agg (source, token) counts
    map-side so the exchange carries per-type partials rather than the
    token stream, then a |sources|-bounded finish. The same shape as
    x22's heavy-hitters; no windows, no UDFs.""",
)
def x121_vocabulary_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = (
        read_table(spark, sf_dir, "documents")
        .select(
            "source",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"),
        )
        .filter("token <> ''")
    )
    tc = tok.groupBy("source", "token").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("cnt")
    )
    return tc.groupBy("source").agg(
        F.expr("CAST(SUM(cnt) AS BIGINT)").alias("n_tokens"),
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_types"),
        F.expr(
            "CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_hapax"),
        F.expr(
            "CAST((1000000 * COUNT(*)) div SUM(cnt) AS BIGINT)"
        ).alias("ttr_ppm"),
        F.expr(
            "CAST((1000000 * SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END))"
            " div COUNT(*) AS BIGINT)"
        ).alias("hapax_share_ppm"),
    )


# ---------------------------------------------------------------------------
# x122 — link prediction (resource-allocation index over the host graph)
# ---------------------------------------------------------------------------

from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.web import (  # noqa: E402
    sql_canon_parts,
)
from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans.catalog_web import (  # noqa: E402
    _DUCK_PARTS,
    _HTML,
    _RAW,
    _SPARK_PARTS,
    _X86_HREFS,
)


def _x122_oracle() -> str:
    link_host = sql_canon_parts("link_url", "duckdb")["host"]
    return f"""
    WITH pages AS (
        SELECT doc_id, {_DUCK_PARTS["host"]} AS src_host, {_HTML} AS html
        FROM (SELECT doc_id, source, text, {_RAW} AS raw_url FROM documents)
    ),
    edges AS (
        SELECT src_host, {link_host} AS dst_host
        FROM (SELECT doc_id, src_host,
                     unnest({_X86_HREFS}) AS link_url
              FROM pages)
    ),
    und AS (
        SELECT DISTINCT least(src_host, dst_host) AS a,
               greatest(src_host, dst_host) AS b
        FROM edges WHERE src_host <> dst_host
    ),
    adj AS (
        SELECT a AS host, b AS nbr FROM und
        UNION ALL SELECT b AS host, a AS nbr FROM und
    ),
    deg AS (SELECT host, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY host),
    pairs AS (
        SELECT a1.host AS ha, a2.host AS hb, dn.d AS nd
        FROM adj a1
        JOIN adj a2 ON a1.nbr = a2.nbr AND a1.host < a2.host
        JOIN deg dn ON dn.host = a1.nbr
    ),
    sc AS (
        SELECT ha, hb,
               CAST(COUNT(*) AS BIGINT) AS n_common,
               CAST(SUM(1000000 // nd) AS BIGINT) AS ra_ppm
        FROM pairs GROUP BY ha, hb
    ),
    non_adj AS (
        SELECT sc.* FROM sc
        LEFT JOIN und ON und.a = sc.ha AND und.b = sc.hb
        WHERE und.a IS NULL
    )
    SELECT na.ha AS host_a, na.hb AS host_b, na.n_common, na.ra_ppm,
           CAST((1000000 * na.n_common) // (da.d + db.d - na.n_common)
                AS BIGINT) AS jaccard_ppm
    FROM non_adj na
    JOIN deg da ON da.host = na.ha
    JOIN deg db ON db.host = na.hb
    ORDER BY na.ra_ppm DESC, na.n_common DESC, host_a, host_b LIMIT 20
    """


@register(
    "x122_link_prediction",
    _x122_oracle(),
    doc="""Link prediction over the host graph x86 extracts: for every
    NON-adjacent host pair sharing at least one neighbor, the
    resource-allocation index (Zhou, Lü & Zhang 2009 — each common
    neighbor contributes 1/degree, so promiscuous hubs certify little)
    in exact integer ppm, the raw common-neighbor count, and the
    neighbor-set Jaccard; top-20 predicted links with a fully
    deterministic tie-break. The crawl-frontier/graph-completion
    primitive: high-RA non-edges are where a crawler looks next and
    what a knowledge-graph completion pass proposes.

    Scale: candidate pairs are generated ONLY through shared
    neighbors — adj ⋈ adj on the neighbor key, never hosts × hosts —
    so a neighbor of degree d contributes d·(d−1)/2 pairs; the Zipf
    hub is the known hot key (SCALE.md link-graph note) and the
    escape hatch is IMPLEMENTED (round 11, VERDICT r10 item 2):
    operators/graphrank.link_prediction_ra drops vertices with
    degree > ``hot_neighbor_cap`` from the shared-neighbor role
    before the self-join (they carry ~0 RA weight by definition, so
    the top-k is insensitive; property-tested like x02's
    hot_shingle_cap / x48's hot_block_cap). The entry passes cap=64,
    exactly inert at every testdata scale (DuckDB degree probe: max
    host degree 3 over 20 hosts at sf0.001/0.01/0.1 — round 11 — and
    at sf1/sf10 — round 12, ADVICE item: the key-shifted replication
    reuses the host vocabulary, so the graph never grows), so the
    oracle is unchanged; an opt-in ``audit_cap_drops`` tripwire in
    the operator WARNs if unpinned data ever grows a hub past the
    cap. The final top-20 is a TakeOrdered, not a global sort.""",
)
def x122_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        "src_host", F.explode(F.expr(_X86_HREFS)).alias("link_url")
    ).select("src_host", F.expr(link_host).alias("dst_host"))
    und = (
        edges.filter("src_host <> dst_host")
        .select(
            F.least("src_host", "dst_host").alias("a"),
            F.greatest("src_host", "dst_host").alias("b"),
        )
        .distinct()
    )
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.graphrank import (
        link_prediction_ra,
    )

    # cap=64 is inert at every testdata scale (measured max degree 3);
    # it exists so the 100 TB shape ships with its hub bound wired in
    return link_prediction_ra(und, k=20, hot_neighbor_cap=64)


# ---------------------------------------------------------------------------
# x123 — negative-sampling table (unigram^0.75 smoothing, word2vec-style)
# ---------------------------------------------------------------------------

_X123_ORACLE = r"""
    WITH tok AS (
        SELECT u.token AS token
        FROM documents,
             UNNEST(regexp_split_to_array(trim(text), '\s+')) AS u(token)
        WHERE u.token <> ''
    ),
    freq AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS f FROM tok GROUP BY token
    ),
    w AS (
        SELECT token, f,
               CAST(FLOOR(SQRT(f * FLOOR(SQRT(f)))) AS BIGINT) AS w
        FROM freq
    ),
    tot AS (
        SELECT CAST(SUM(w) AS BIGINT) AS tw, CAST(SUM(f) AS BIGINT) AS tf
        FROM w
    )
    SELECT token, f AS n_occurrences, w AS smoothed_weight,
           CAST((1000000 * f) // tf AS BIGINT) AS unigram_ppm,
           CAST((1000000 * w) // tw AS BIGINT) AS sample_ppm
    FROM w, tot
    ORDER BY w DESC, token ASC LIMIT 50
"""


@register(
    "x123_negative_sampling_table",
    _X123_ORACLE,
    doc="""Negative-sampling distribution table — the word2vec /
    contrastive-training primitive (Mikolov et al. 2013): unigram
    frequencies smoothed by the 3/4 power so rare tokens are sampled
    more than their raw share and stopwords less. The fractional power
    is computed WITHOUT libm pow (whose last-bit rounding differs per
    implementation): f^(3/4) = sqrt(f · sqrt(f)) uses only SQRT, which
    IEEE-754 REQUIRES correctly rounded — both engines produce the
    identical double, and the FLOOR makes the weight an exact integer.
    Output: top-50 tokens with raw and smoothed sampling shares in
    exact ppm (the visible flattening IS the smoothing). Above
    f·√f ≈ 2^53 the double conversion rounds, deterministically and
    identically in both engines (document-scale counts reach that only
    past ~10^12 occurrences of one token).

    Scale: x22's heavy-hitter shape — explode, two-level hash
    aggregate (map-side partials carry per-token counts, not the token
    stream), a 1-row total broadcast, TakeOrdered(50). The FULL table
    (all tokens, for the trainer's alias-sampler build) is the same
    plan minus the limit.""",
)
def x123_negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = (
        read_table(spark, sf_dir, "documents")
        .select(
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token")
        )
        .filter("token <> ''")
    )
    freq = tok.groupBy("token").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("f")
    )
    w = freq.select(
        "token",
        "f",
        F.expr("CAST(FLOOR(SQRT(f * FLOOR(SQRT(f)))) AS BIGINT)").alias("w"),
    )
    tot = w.groupBy().agg(
        F.expr("CAST(SUM(w) AS BIGINT)").alias("tw"),
        F.expr("CAST(SUM(f) AS BIGINT)").alias("tf"),
    )
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "token",
            F.col("f").alias("n_occurrences"),
            F.col("w").alias("smoothed_weight"),
            F.expr("CAST((1000000 * f) div tf AS BIGINT)").alias("unigram_ppm"),
            F.expr("CAST((1000000 * w) div tw AS BIGINT)").alias("sample_ppm"),
        )
        .orderBy(F.col("smoothed_weight").desc(), F.col("token").asc())
        .limit(50)
    )


# ---------------------------------------------------------------------------
# x124 — k-anonymity generalization ladder
# ---------------------------------------------------------------------------

_X124_ORACLE = """
    WITH widths(wd) AS (VALUES (500),(1000),(2000),(5000),(10000)),
    cls AS (
        SELECT w.wd, c_nationkey, c_mktsegment,
               CAST(FLOOR(c_acctbal / w.wd) AS BIGINT) AS band,
               CAST(COUNT(*) AS BIGINT) AS sz
        FROM customer, widths w
        GROUP BY w.wd, c_nationkey, c_mktsegment, band
    )
    SELECT CAST(wd AS BIGINT) AS band_width,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(sz) AS BIGINT) AS min_class_size,
           CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
               AS rows_at_risk_k5,
           CAST((1000000 * SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END))
                // SUM(sz) AS BIGINT) AS risk_ppm_k5
    FROM cls GROUP BY wd ORDER BY band_width
"""


@register(
    "x124_generalization_ladder",
    _X124_ORACLE,
    doc="""k-anonymity generalization ladder — the decision curve
    behind x119's audit: re-band the quasi-identifier's numeric
    attribute at widths 500…10000 and report, per width, the class
    count, the achieved anonymity level, and the rows still at risk at
    k=5 (exact ppm). This is the table an anonymizing release reads to
    pick the coarsest banding that meets its k target with the least
    information loss (wider bands = fewer, larger classes = lower risk
    — the sf0.01 probe shows risk falling 99.7% → 8.1% across the
    ladder, so the trade-off is visible in-data, not hypothetical).

    Scale: the width fan-out happens BEFORE the aggregate as a 5-row
    broadcast cross join, so it is ONE exchange over 5× the fact rows
    (each carrying a different banding) into one partial-agg shuffle —
    not five corpus scans; everything after runs on the
    |widths × classes|-bounded frame.""",
)
def x124_generalization_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    # VALUES → LocalRelation (a driver-literal leaf the broadcast
    # auditor can prove bounded; createDataFrame would plan a LogicalRDD)
    widths = spark.sql(
        "SELECT * FROM VALUES (500),(1000),(2000),(5000),(10000) AS t(wd)"
    )
    cls = (
        read_table(spark, sf_dir, "customer")
        .crossJoin(F.broadcast(widths))
        .groupBy(
            "wd",
            "c_nationkey",
            "c_mktsegment",
            F.expr("CAST(FLOOR(c_acctbal / wd) AS BIGINT)").alias("band"),
        )
        .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("sz"))
    )
    return (
        cls.groupBy("wd")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_classes"),
            F.expr("CAST(MIN(sz) AS BIGINT)").alias("min_class_size"),
            F.expr(
                "CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)"
            ).alias("rows_at_risk_k5"),
            F.expr(
                "CAST((1000000 * SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END))"
                " div SUM(sz) AS BIGINT)"
            ).alias("risk_ppm_k5"),
        )
        .select(
            F.col("wd").cast("long").alias("band_width"),
            "n_classes",
            "min_class_size",
            "rows_at_risk_k5",
            "risk_ppm_k5",
        )
    )


# ---------------------------------------------------------------------------
# x126 — per-source quantile calibration table (rank-based normalization)
# ---------------------------------------------------------------------------

_X126_ORACLE = f"""
    WITH scored AS (
        SELECT doc_id, source, {_X120_SCORE_DUCK} AS score FROM documents
    ),
    per AS (
        SELECT source, score,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY score, doc_id)
                   AS r,
               COUNT(*) OVER (PARTITION BY source) AS n
        FROM scored
    ),
    src AS (
        SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
               CAST(MAX(CASE WHEN r = (n+3)//4 THEN score END) AS BIGINT)
                   AS q1_score,
               CAST(MAX(CASE WHEN r = (n+1)//2 THEN score END) AS BIGINT)
                   AS q2_score,
               CAST(MAX(CASE WHEN r = (3*n+3)//4 THEN score END) AS BIGINT)
                   AS q3_score
        FROM per GROUP BY source
    ),
    gl AS (
        SELECT score, ROW_NUMBER() OVER (ORDER BY score, doc_id) AS r,
               COUNT(*) OVER () AS n
        FROM scored
    ),
    grow AS (
        SELECT '__global' AS source, CAST(MAX(n) AS BIGINT) AS n_docs,
               CAST(MAX(CASE WHEN r = (n+3)//4 THEN score END) AS BIGINT)
                   AS q1_score,
               CAST(MAX(CASE WHEN r = (n+1)//2 THEN score END) AS BIGINT)
                   AS q2_score,
               CAST(MAX(CASE WHEN r = (3*n+3)//4 THEN score END) AS BIGINT)
                   AS q3_score
        FROM gl
    )
    SELECT * FROM src UNION ALL SELECT * FROM grow
"""


@register(
    "x126_quantile_calibration",
    _X126_ORACLE,
    doc="""Per-source quantile calibration table — the artifact behind
    rank-based score normalization (quantile mapping): for every
    source, the exact type-1 quartile cutpoints of the learned quality
    score (rank ceil(n/4), ceil(n/2), ceil(3n/4) in the (score,
    doc_id) total order), next to the GLOBAL cutpoints in a
    ``__global`` row. A corpus build reads this to see that one
    source's "top quartile" is another's bottom half BEFORE applying
    a single global threshold (x95's gate, x32's per-source
    percentile gate) — the calibration step that makes cross-source
    score comparisons honest. Exact integers end to end; coincident
    targets at tiny n each still select their own row (three
    independent conditional aggregates, not one CASE ladder).

    Scale: NO per-source window over the corpus — the per-source rank
    is closed-form from ONE global_rank enumeration over (source,
    score, doc_id) (contiguous source blocks) minus broadcast
    per-source offsets (exclusive prefix sums over the
    |sources|-bounded count frame, the x42/x81 machinery); the global
    row is a second enumeration. Everything after is a
    |sources|-bounded aggregate.""",
)
def x126_quantile_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.shuffle import (
        global_rank,
    )

    scored = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.expr(_X120_SCORE_SPARK).alias("score")
    )
    g = global_rank(
        scored,
        [F.col("source").asc(), F.col("score").asc(), F.col("doc_id").asc()],
        "__r",
    )
    cnts = scored.groupBy("source").agg(F.count("*").alias("n"))
    # exclusive prefix sum over the |sources|-row frame (tiny window)
    offs = cnts.withColumn(
        "off",
        F.coalesce(
            F.sum("n").over(
                Window.orderBy("source").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    )
    j = g.join(F.broadcast(offs), "source").select(
        "source", "score", "n", (F.col("__r") - F.col("off")).alias("r")
    )
    agg_cols = [
        F.expr("CAST(MAX(n) AS BIGINT)").alias("n_docs"),
        F.expr(
            "CAST(MAX(CASE WHEN r = (n+3) div 4 THEN score END) AS BIGINT)"
        ).alias("q1_score"),
        F.expr(
            "CAST(MAX(CASE WHEN r = (n+1) div 2 THEN score END) AS BIGINT)"
        ).alias("q2_score"),
        F.expr(
            "CAST(MAX(CASE WHEN r = (3*n+3) div 4 THEN score END) AS BIGINT)"
        ).alias("q3_score"),
    ]
    src = j.groupBy("source").agg(*agg_cols)
    gl = global_rank(
        scored, [F.col("score").asc(), F.col("doc_id").asc()], "__r"
    )
    tot = scored.groupBy().agg(F.count("*").alias("n"))
    grow = (
        gl.crossJoin(F.broadcast(tot))
        .select("score", "n", F.col("__r").alias("r"))
        .select(F.lit("__global").alias("source"), "score", "n", "r")
        .groupBy("source")
        .agg(*agg_cols)
    )
    return src.unionAll(grow)


# ---------------------------------------------------------------------------
# x127 — consistent-hash sharding audit (ring vs naive mod rebalance)
# ---------------------------------------------------------------------------

_H_DUCK = "CAST(('0x' || substr(md5({x}), 1, 8))::UBIGINT AS BIGINT)"
_H_SPARK = "CAST(conv(substring(md5({x}), 1, 8), 16, 10) AS BIGINT)"

_X127_ORACLE = f"""
    WITH ring AS (
        SELECT tag, shard,
               {_H_DUCK.format(x="'node-' || shard || '-' || vslot")} AS pos
        FROM (SELECT 0 AS tag, unnest(range(8)) AS shard
              UNION ALL SELECT 1, unnest(range(9))) s,
             (SELECT unnest(range(16)) AS vslot) v
    ),
    docs AS (
        SELECT doc_id, {_H_DUCK.format(x="CAST(doc_id AS VARCHAR)")} AS h
        FROM documents
    ),
    a AS (
        SELECT doc_id, h,
               MIN(CASE WHEN tag = 0 AND pos >= h
                        THEN pos * 1000 + shard END) AS so,
               MIN(CASE WHEN tag = 0 THEN pos * 1000 + shard END) AS wo,
               MIN(CASE WHEN tag = 1 AND pos >= h
                        THEN pos * 1000 + shard END) AS sn,
               MIN(CASE WHEN tag = 1 THEN pos * 1000 + shard END) AS wn
        FROM docs CROSS JOIN ring GROUP BY doc_id, h
    ),
    asg AS (
        SELECT CAST(COALESCE(so, wo) % 1000 AS BIGINT) AS ring_old,
               CAST(COALESCE(sn, wn) % 1000 AS BIGINT) AS ring_new,
               CAST(h % 8 AS BIGINT) AS naive_old,
               CAST(h % 9 AS BIGINT) AS naive_new
        FROM a
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM asg),
    ringside AS (
        SELECT ring_new AS shard,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN ring_old <> ring_new THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_moved_in_ring
        FROM asg GROUP BY ring_new
    ),
    naiveside AS (
        SELECT naive_new AS shard,
               CAST(SUM(CASE WHEN naive_old <> naive_new THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_moved_in_naive
        FROM asg GROUP BY naive_new
    )
    SELECT r.shard, r.n_docs,
           CAST((1000000 * r.n_docs) // tot.n AS BIGINT) AS balance_ppm,
           r.n_moved_in_ring,
           CAST(COALESCE(nv.n_moved_in_naive, 0) AS BIGINT)
               AS n_moved_in_naive
    FROM ringside r
    LEFT JOIN naiveside nv ON nv.shard = r.shard
    CROSS JOIN tot
"""


def _x127_ring_literal(n_shards: int) -> str:
    """The ring as ONE sorted bigint-array SQL literal: each virtual
    node encodes as pos·1000 + shard (the old relational form's MIN
    key), sorted ascending — so numeric order IS (pos, shard) order
    and a first-match probe reproduces the MIN's tie-break exactly.
    Positions are computed here in Python with the same md5-prefix
    convention as _H_SPARK/_H_DUCK (pinned equal in
    tests/test_x127_probe_form.py); one literal string = one py4j
    round trip (the F.lit-per-element plan-build trap, PERF.md)."""
    import hashlib

    def pos(s: int, v: int) -> int:
        return int(hashlib.md5(f"node-{s}-{v}".encode()).hexdigest()[:8], 16)

    enc = sorted(
        pos(s, v) * 1000 + s for s in range(n_shards) for v in range(16)
    )
    return "array(" + ", ".join(f"{e}L" for e in enc) + ")"


def _x127_successor_sql(arr: str) -> str:
    """Successor lookup on the sorted encoded ring: first element whose
    position (enc div 1000) ≥ h, wrapping to the array head — the
    binary-probe shape (here a filter walk over a ≤144-element literal
    array in a NARROW projection; no 272× row inflation, no per-doc
    aggregate). Identical value to the relational MIN form by the
    sorted-encoding argument above."""
    return (
        f"CAST(COALESCE(try_element_at(filter({arr},"
        f" e -> e div 1000 >= h), 1), element_at({arr}, 1))"
        f" % 1000 AS BIGINT)"
    )



@register(
    "x127_consistent_hash_sharding",
    _X127_ORACLE,
    doc="""Consistent-hash shard-assignment audit — the data-placement
    op behind every rebalance-safe storage layer (Karger et al.
    1997): documents hash onto a ring of 8 shards × 16 virtual nodes,
    the ring grows to 9 shards, and the per-new-shard report shows
    (a) load balance in exact ppm and (b) how many resident documents
    each strategy moves — the ring relocates ≈1/9 of the corpus
    (measured 58/500 at the gate scale) while naive ``hash % N``
    relocates ≈8/9 (437/500), the in-data demonstration of WHY the
    ring exists. The successor lookup is a pure integer argmin
    (MIN over pos·1000+shard with the wrap fallback) — no min_by
    tie semantics, no floats, portable md5 positions on both ends.

    Scale: since round 12 the Spark side runs the PRODUCTION lookup
    shape (the carried r10 PERF note made real): the ring is a sorted
    ≤144-element bigint-array literal (pos·1000+shard encoding — the
    relational MIN's own key, so numeric first-match ≡ the MIN with
    its tie-break) and each document's successor is a narrow per-row
    filter probe — no 272× broadcast-cross inflation, no per-doc
    aggregate, no exchange before the |shards|-bounded report. The
    DuckDB oracle KEEPS the relational MIN text, so the driver MATCH
    is itself a cross-form equivalence proof; bit-identity vs the old
    Spark form and the Python/SQL md5-position convention are pinned
    in tests/test_x127_probe_form.py.""",
)
def x127_consistent_hash_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(_H_SPARK.format(x="CAST(doc_id AS STRING)")).alias("h"),
    )
    asg = docs.select(
        F.expr(_x127_successor_sql(_x127_ring_literal(8))).alias("ring_old"),
        F.expr(_x127_successor_sql(_x127_ring_literal(9))).alias("ring_new"),
        F.expr("CAST(h % 8 AS BIGINT)").alias("naive_old"),
        F.expr("CAST(h % 9 AS BIGINT)").alias("naive_new"),
    )
    return _x127_report(asg)


def _x127_report(asg: DataFrame) -> DataFrame:
    tot = asg.groupBy().agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n"))
    ringside = asg.groupBy(F.col("ring_new").alias("shard")).agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"),
        F.expr(
            "CAST(SUM(CASE WHEN ring_old <> ring_new THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("n_moved_in_ring"),
    )
    naiveside = asg.groupBy(F.col("naive_new").alias("shard")).agg(
        F.expr(
            "CAST(SUM(CASE WHEN naive_old <> naive_new THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("n_moved_in_naive"),
    )
    return (
        ringside.join(F.broadcast(naiveside), "shard", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "shard",
            "n_docs",
            F.expr("CAST((1000000 * n_docs) div n AS BIGINT)").alias(
                "balance_ppm"
            ),
            "n_moved_in_ring",
            F.expr("CAST(COALESCE(n_moved_in_naive, 0) AS BIGINT)").alias(
                "n_moved_in_naive"
            ),
        )
    )


def _x127_relational(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-round-12 form — ring broadcast-cross (×272 row
    inflation) collapsed by a per-doc MIN aggregate. Kept as the A/B
    baseline and the bit-identity reference for the probe form
    (tests/test_x127_probe_form.py); the DuckDB ORACLE still uses this
    relational text, so a driver MATCH on the probe entry is itself a
    cross-form equivalence check."""
    ring = spark.sql(
        "SELECT tag, shard, "
        + _H_SPARK.format(
            x="CONCAT('node-', CAST(shard AS STRING), '-', CAST(vslot AS STRING))"
        )
        + " AS pos FROM ("
        "  SELECT 0 AS tag, explode(sequence(0, 7)) AS shard"
        "  UNION ALL SELECT 1, explode(sequence(0, 8))) s"
        " CROSS JOIN (SELECT explode(sequence(0, 15)) AS vslot) v"
    )
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(_H_SPARK.format(x="CAST(doc_id AS STRING)")).alias("h"),
    )
    a = (
        docs.crossJoin(F.broadcast(ring))
        .groupBy("doc_id", "h")
        .agg(
            F.expr(
                "MIN(CASE WHEN tag = 0 AND pos >= h"
                " THEN pos * 1000 + shard END)"
            ).alias("so"),
            F.expr("MIN(CASE WHEN tag = 0 THEN pos * 1000 + shard END)").alias(
                "wo"
            ),
            F.expr(
                "MIN(CASE WHEN tag = 1 AND pos >= h"
                " THEN pos * 1000 + shard END)"
            ).alias("sn"),
            F.expr("MIN(CASE WHEN tag = 1 THEN pos * 1000 + shard END)").alias(
                "wn"
            ),
        )
    )
    asg = a.select(
        F.expr("CAST(COALESCE(so, wo) % 1000 AS BIGINT)").alias("ring_old"),
        F.expr("CAST(COALESCE(sn, wn) % 1000 AS BIGINT)").alias("ring_new"),
        F.expr("CAST(h % 8 AS BIGINT)").alias("naive_old"),
        F.expr("CAST(h % 9 AS BIGINT)").alias("naive_new"),
    )
    return _x127_report(asg)


# ---------------------------------------------------------------------------
# x128 — data-constrained repetition plan (epochs per source under budget)
# ---------------------------------------------------------------------------

_X128_ORACLE = r"""
    WITH tok AS (
        SELECT source,
               len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                               t -> t <> '')) AS n
        FROM documents
    ),
    per AS (
        SELECT source, CAST(SUM(n) AS BIGINT) AS tokens
        FROM tok GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(tokens) AS BIGINT) AS corpus_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_sources
        FROM per
    )
    SELECT per.source, per.tokens,
           CAST((2 * tot.corpus_tokens) // tot.n_sources AS BIGINT)
               AS target_tokens,
           CAST(LEAST(2000000,
                (1000000 * ((2 * tot.corpus_tokens) // tot.n_sources))
                    // per.tokens) AS BIGINT) AS epochs_ppm,
           CAST((per.tokens * LEAST(2000000,
                (1000000 * ((2 * tot.corpus_tokens) // tot.n_sources))
                    // per.tokens)) // 1000000 AS BIGINT) AS planned_tokens,
           CAST(CASE WHEN (1000000 * ((2 * tot.corpus_tokens)
                               // tot.n_sources)) // per.tokens > 2000000
                THEN ((2 * tot.corpus_tokens) // tot.n_sources)
                     - (per.tokens * 2)
                ELSE 0 END AS BIGINT) AS unfilled_tokens
    FROM per, tot
"""


@register(
    "x128_repetition_plan",
    _X128_ORACLE,
    doc="""Data-constrained repetition plan — the epoch allocator a
    token-budgeted pretraining run uses when the corpus is smaller
    than the budget (the Muennighoff et al. 2023 regime): each source
    gets an equal share of a 2×-corpus token budget; its epoch count
    is target/tokens in exact ppm, CAPPED at 2.0 epochs (the cap is
    the quality knob — repeating data beyond a few epochs stops
    helping), and the report shows planned tokens plus the budget a
    capped source leaves UNFILLED (what the mixer reallocates or the
    crawler must go get). The fixture exercises BOTH regimes: source
    token counts straddle the mean, so below-average sources hit the
    cap (unfilled > 0) and above-average ones don't — the branchy
    arithmetic is proven in-data, not hypothetically.

    Scale: one narrow token-count pass (same codegen shape as x121's
    stage 1), a |sources|-row aggregate, a 1-row total broadcast, and
    row-local exact-integer arithmetic. Embarrassingly parallel.""",
)
def x128_repetition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = read_table(spark, sf_dir, "documents").select(
        "source",
        F.expr(
            r"size(filter(split(trim(text), '\\s+'), t -> t <> ''))"
        ).alias("n"),
    )
    per = tok.groupBy("source").agg(
        F.expr("CAST(SUM(n) AS BIGINT)").alias("tokens")
    )
    tot = per.groupBy().agg(
        F.expr("CAST(SUM(tokens) AS BIGINT)").alias("corpus_tokens"),
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_sources"),
    )
    tgt = "((2 * corpus_tokens) div n_sources)"
    eraw = f"((1000000 * {tgt}) div tokens)"
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens",
        F.expr(f"CAST({tgt} AS BIGINT)").alias("target_tokens"),
        F.expr(f"CAST(LEAST(2000000, {eraw}) AS BIGINT)").alias("epochs_ppm"),
        F.expr(
            f"CAST((tokens * LEAST(2000000, {eraw})) div 1000000 AS BIGINT)"
        ).alias("planned_tokens"),
        F.expr(
            f"CAST(CASE WHEN {eraw} > 2000000"
            f" THEN {tgt} - (tokens * 2) ELSE 0 END AS BIGINT)"
        ).alias("unfilled_tokens"),
    )


# ---------------------------------------------------------------------------
# x129 — distinctive terms per source (share-lift keyword extraction)
# ---------------------------------------------------------------------------

_X129_ORACLE = r"""
    WITH tok AS (
        SELECT source, u.token AS token
        FROM documents,
             UNNEST(regexp_split_to_array(trim(text), '\s+')) AS u(token)
        WHERE u.token <> ''
    ),
    st AS (
        SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY source, token
    ),
    stot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ns FROM st GROUP BY source),
    ct AS (SELECT token, CAST(SUM(c) AS BIGINT) AS ca FROM st GROUP BY token),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS na FROM st),
    r AS (
        SELECT st.source, st.token, st.c,
               CAST((1000000::HUGEINT * st.c * tot.na)
                    // (stot.ns::HUGEINT * ct.ca) AS BIGINT) AS lift_ppm
        FROM st JOIN stot USING (source) JOIN ct USING (token)
        CROSS JOIN tot
        WHERE st.c >= 5
    ),
    top AS (
        SELECT source, token, c AS n_in_source, lift_ppm,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY lift_ppm DESC, token) AS rk
        FROM r
    )
    SELECT source, CAST(rk AS BIGINT) AS rank, token, n_in_source, lift_ppm
    FROM top WHERE rk <= 3
"""


@register(
    "x129_distinctive_terms",
    _X129_ORACLE,
    doc="""Distinctive vocabulary per source — share-lift keyword
    extraction at the SOURCE grain (x23's TF-IDF works per document;
    a data card wants "what is src9 about, relative to the corpus"):
    for every (source, token) with ≥ 5 occurrences, lift = (in-source
    token share) / (corpus token share) as one exact integer division
    (1e6·c·N_all) div (N_src·c_all) — numerators reach c·N_all ≈
    corpus² at scale, so both engines widen (DECIMAL(38,0) / HUGEINT,
    the q93 overflow lesson applied at design time, not post-hoc);
    top-3 per source by (lift DESC, token). The min-count floor keeps
    one-off hapax noise out of the lift ranking — the same reason
    log-odds methods add priors, without the libm ln.

    Scale: the (source, token) aggregate is the only fact-scale
    exchange (two-level, map-side partials); the margins are
    |sources| / |vocab|-bounded joins back onto it (vocab-keyed join
    is broadcast-able when the vocab fits, shuffle otherwise — left to
    AQE); the per-source top-3 runs through grouped_topk (salted
    two-phase), never one window partition per source.""",
)
def x129_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.skew import (
        grouped_topk,
    )

    tok = (
        read_table(spark, sf_dir, "documents")
        .select(
            "source",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"),
        )
        .filter("token <> ''")
    )
    st = tok.groupBy("source", "token").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("c")
    )
    stot = st.groupBy("source").agg(F.expr("CAST(SUM(c) AS BIGINT)").alias("ns"))
    ct = st.groupBy("token").agg(F.expr("CAST(SUM(c) AS BIGINT)").alias("ca"))
    tot = st.groupBy().agg(F.expr("CAST(SUM(c) AS BIGINT)").alias("na"))
    r = (
        st.filter("c >= 5")
        .join(F.broadcast(stot), "source")
        .join(ct, "token")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "token",
            F.col("c").alias("n_in_source"),
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * c * na)"
                " div (CAST(ns AS DECIMAL(38,0)) * ca) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )
    return grouped_topk(
        r,
        ["source"],
        [F.col("lift_ppm").desc(), F.col("token").asc()],
        3,
        rank_col="rk",
    ).select(
        "source",
        F.col("rk").cast("long").alias("rank"),
        "token",
        "n_in_source",
        "lift_ppm",
    )
