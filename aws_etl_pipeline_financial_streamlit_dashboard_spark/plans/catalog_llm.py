"""Round-2 LLM-pipeline catalog entries: benchmark decontamination,
deterministic dataset splits, quality-percentile filtering, corpus
shape statistics, text normalization, robust outlier stats, and
cross-source diversity. Registered into plans.registry.QUERIES on
import.

These extend the dedup/similarity/text ladder (catalog_ext,
catalog_more) with the bookkeeping every large-scale training-data
build runs between "corpus assembled" and "training starts":
what leaked from eval (x30), which split each document belongs to
(x31), which documents clear the quality bar (x32), what the corpus
looks like (x33, x36), and canonical text form (x34).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_etl_pipeline_financial_streamlit_dashboard_spark.functions.scalars import (
    ntz_of_instant,
    ts_micros,
    dec_sum,
    round_half_up as rhu,
    sql_dec_sum,
    sql_round,
)
from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators import splits as SP
from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.dedup import word_shingles
from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.text import tokens
from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans.registry import register
from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.readers import read_table


# ===========================================================================
# x30 — benchmark decontamination
# ===========================================================================

_DECON_ORACLE = r"""
    WITH sh AS (
        SELECT doc_id, source,
               list_distinct([array_to_string(w[i:i+4], ' ')
                              FOR i IN range(1, GREATEST(len(w)-4, 1) + 1)])
                   AS shingles
        FROM (SELECT doc_id, source,
                     regexp_split_to_array(trim(text), '\s+') AS w
              FROM documents)
    ),
    ev AS (SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id % 97 = 0),
    tr AS (SELECT doc_id, source, shingles FROM sh WHERE doc_id % 97 <> 0),
    hit AS (
        SELECT DISTINCT t.doc_id
        FROM (SELECT doc_id, unnest(shingles) AS s FROM tr) t
        JOIN ev ON t.s = ev.s
    )
    SELECT tr.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contaminated
    FROM tr LEFT JOIN hit h ON tr.doc_id = h.doc_id
    GROUP BY tr.source
"""


@register(
    "x30_decontamination",
    _DECON_ORACLE,
    doc="""Benchmark decontamination: flag training documents sharing
    any 5-word shingle with a held-out eval slice (doc_id % 97 == 0
    stands in for the benchmark set). The eval shingle set is
    benchmark-sized, so the membership check is a BROADCAST semi-join —
    the training corpus is never shuffled, which is what makes this
    runnable per-refresh at 100 TB. Output: per-source doc and
    contamination counts (operators/splits.decontaminate).""",
)
def x30_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    flagged = SP.decontaminate(
        train, eval_df, id_col="doc_id", text_col="text", n=5, mode="flag"
    )
    return flagged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("contaminated").cast("int")).alias("n_contaminated"),
    )


# ===========================================================================
# x31 — deterministic content-hash dataset split
# ===========================================================================


@register(
    "x31_hash_split",
    """
    SELECT source,
           CASE WHEN b < 80 THEN 'train'
                WHEN b < 90 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs
    FROM (SELECT source,
                 ('0x' || substr(md5(text), 1, 8))::UBIGINT % 100 AS b
          FROM documents)
    GROUP BY 1, 2
    """,
    doc="""Deterministic 80/10/10 train/val/test assignment by
    content-hash bucket (md5 of the text, not the row id): exact
    duplicates always land in the same split, assignments survive
    corpus refreshes, and no RNG state exists anywhere. Narrow
    transform — zero shuffle until the audit count
    (operators/splits.hash_split).""",
)
def x31_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return (
        SP.hash_split(docs, "text")
        .groupBy("source", "split")
        .agg(F.count("*").alias("n_docs"))
    )


# ===========================================================================
# x32 — quality-percentile gate
# ===========================================================================


@register(
    "x32_quality_percentile_filter",
    f"""
    WITH s AS (
        SELECT doc_id, source,
               {sql_round('len(list_distinct(w)) * 1.0 / len(w)', 6)} AS score
        FROM (SELECT doc_id, source,
                     regexp_split_to_array(trim(text), '\\s+') AS w
              FROM documents)
    ),
    r AS (
        SELECT doc_id, source, score,
               percent_rank() OVER (PARTITION BY source
                                    ORDER BY score DESC, doc_id) AS pr
        FROM s
    )
    SELECT doc_id, source, score FROM r WHERE pr <= 0.25
    """,
    doc="""Quality-percentile gate: score each document by distinct-token
    ratio (a repetition penalty), keep the top quartile PER SOURCE via
    percent_rank — the relative-threshold filter corpus builds use so
    one clean source can't crowd out another. Single window shuffle
    partitioned by source; doc_id tiebreak makes the cut deterministic
    in both engines.""",
)
def x32_quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    scored = docs.select(
        "doc_id",
        "source",
        rhu(F.size(F.array_distinct(toks)) / F.size(toks), 6).alias("score"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("pr", F.percent_rank().over(w))
        .filter(F.col("pr") <= 0.25)
        .drop("pr")
    )


# ===========================================================================
# x33 — corpus length histogram
# ===========================================================================


@register(
    "x33_length_histogram",
    f"""
    WITH b AS (
        SELECT LEAST(CAST(FLOOR(n_chars / 50) AS BIGINT), 9) AS bucket
        FROM documents
    ),
    c AS (SELECT bucket, COUNT(*) AS n_docs FROM b GROUP BY bucket)
    SELECT bucket, bucket * 50 AS lo_chars, n_docs,
           {sql_round('n_docs * 1.0 / SUM(n_docs) OVER ()', 6)} AS pct
    FROM c
    """,
    doc="""Corpus length histogram: fixed 50-char buckets (last bucket
    open-ended), count and share per bucket. The partial-agg shuffle
    carries ≤10 rows; the share is a window over the 10-row aggregate,
    not the corpus — the histogram costs one scan at any scale.""",
)
def x33_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    counts = (
        docs.select(
            F.least(F.floor(F.col("n_chars") / 50).cast("long"), F.lit(9)).alias(
                "bucket"
            )
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"))
    )
    total = Window.partitionBy()
    return counts.select(
        "bucket",
        (F.col("bucket") * 50).alias("lo_chars"),
        "n_docs",
        rhu(F.col("n_docs") / F.sum("n_docs").over(total), 6).alias("pct"),
    )


# ===========================================================================
# x34 — canonical text normalization
# ===========================================================================


@register(
    "x34_text_normalize",
    r"""
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS norm_fp,
           CAST(len(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS INT)
               AS n_chars_norm
    FROM documents
    """,
    doc="""Canonical text form: lowercase, trim, collapse whitespace
    runs — the normalization pass that runs before any hash-based dedup
    so 'A  B' and 'a b' collide. Emits the md5 fingerprint of the
    normalized text (16 bytes shuffles downstream, never the text) plus
    the normalized length. Pure narrow codegen'd expressions.""",
)
def x34_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return docs.select(
        "doc_id",
        F.md5(norm).alias("norm_fp"),
        F.length(norm).alias("n_chars_norm"),
    )


# ===========================================================================
# x35 — robust outlier stats (median / MAD)
# ===========================================================================


@register(
    "x35_mad_outliers",
    f"""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type
    ),
    d AS (
        SELECT e.event_type, ABS(e.value - m.med) AS adev, m.med
        FROM events e JOIN med m ON e.event_type = m.event_type
    ),
    mad AS (
        SELECT event_type, quantile_cont(adev, 0.5) AS mad, MIN(med) AS med
        FROM d GROUP BY event_type
    )
    SELECT d.event_type,
           {sql_round('MIN(mad.med)', 6)} AS med,
           {sql_round('MIN(mad.mad)', 6)} AS mad,
           CAST(SUM(CASE WHEN d.adev > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
               AS n_outliers
    FROM d JOIN mad ON d.event_type = mad.event_type
    GROUP BY d.event_type
    """,
    doc="""Robust outlier statistics per event type: exact median, MAD
    (median absolute deviation), and the count of |x−med| > 3·MAD
    outliers — the heavy-tail-safe screen that mean/stddev z-scores get
    wrong on skewed value distributions. Three narrow aggregation
    passes over a broadcast-joined 5-row stats table; exact
    percentiles (not approx) because the oracle must agree bitwise.""",
)
def x35_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.percentile("value", 0.5).alias("med"))
    d = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = d.groupBy("event_type").agg(
        F.percentile("adev", 0.5).alias("mad"), F.min("med").alias("med")
    )
    out = (
        d.join(F.broadcast(mad.select("event_type", "mad")), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0)).alias(
                "n_outliers"
            )
        )
    )
    return mad.join(out, "event_type").select(
        "event_type",
        rhu(F.col("med"), 6).alias("med"),
        rhu(F.col("mad"), 6).alias("mad"),
        "n_outliers",
    )


# ===========================================================================
# x36 — cross-source n-gram overlap (corpus diversity)
# ===========================================================================

_OVERLAP_ORACLE = r"""
    WITH sh AS (
        SELECT DISTINCT source, unnest(shingles) AS s
        FROM (SELECT source,
                     list_distinct([array_to_string(w[i:i+2], ' ')
                                    FOR i IN range(1, GREATEST(len(w)-2, 1) + 1)])
                         AS shingles
              FROM (SELECT source,
                           regexp_split_to_array(trim(text), '\s+') AS w
                    FROM documents))
    ),
    sizes AS (SELECT source, COUNT(*) AS n_sh FROM sh GROUP BY source),
    inter AS (
        SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS i
        FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT source_a, source_b,
           FLOOR((i * 1.0 / (sa.n_sh + sb.n_sh - i)) * 1000000.0 + 0.5)
               / 1000000.0 AS jaccard
    FROM inter
    JOIN sizes sa ON sa.source = source_a
    JOIN sizes sb ON sb.source = source_b
"""


@register(
    "x36_source_overlap",
    _OVERLAP_ORACLE,
    doc="""Cross-source corpus diversity: Jaccard similarity between
    each pair of sources' distinct 3-gram vocabularies — high overlap
    between two 'different' crawls is the signal that a mix recipe is
    double-counting the same underlying data. The shuffle carries the
    distinct (source, shingle) vocabulary, not token streams, and the
    self-join key is the shingle with ≤|sources| rows per key, so the
    join output is bounded by vocab × sources² — flat in document
    count.""",
)
def x36_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.dedup import fan_out

    docs = fan_out(
        read_table(spark, sf_dir, "documents").select("source", "text")
    )
    sh = docs.select(
        "source", F.explode(word_shingles(F.col("text"), 3)).alias("s")
    ).distinct()
    sizes = sh.groupBy("source").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b"))
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.withColumnsRenamed({"source": "source_a", "n_sh": "na"})
    sb = sizes.withColumnsRenamed({"source": "source_b", "n_sh": "nb"})
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            rhu(F.col("i") / (F.col("na") + F.col("nb") - F.col("i")), 6).alias(
                "jaccard"
            ),
        )
    )


# ===========================================================================
# q35 — GROUPING SETS (multi-granularity rollup in one pass)
# ===========================================================================


@register(
    "q35_grouping_sets",
    f"""
    SELECT o_orderstatus AS status,
           o_orderpriority AS priority,
           CAST(GROUPING(o_orderstatus) + 2 * GROUPING(o_orderpriority) AS INT)
               AS gid,
           COUNT(*) AS n_orders,
           {sql_dec_sum('o_totalprice', 2)} AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), ())
    """,
    doc="""Explicit GROUPING SETS: (status, priority), (status), and
    grand total in ONE aggregation pass — Catalyst expands the sets via
    a single Expand node feeding one partial-agg shuffle, vs three
    separate scans a naive union would cost. GROUPING() ids
    disambiguate real NULL keys from subtotal rows (the classic
    rollup-correctness trap). Completes the q19 rollup / q28 cube
    family (SURVEY §2.4).""",
)
def q35_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus AS status,
               o_orderpriority AS priority,
               CAST(GROUPING(o_orderstatus) + 2 * GROUPING(o_orderpriority) AS INT)
                   AS gid,
               COUNT(*) AS n_orders,
               {tp} AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        """.format(tp=_SPARK_DEC_SUM_SQL)
    )


# Spark-SQL twin of functions.scalars.dec_sum (same fixed-point hi/lo
# encoding, HALF_UP to 2 decimals) for use inside spark.sql() text.
# Literals carry the D suffix: Spark SQL parses bare `100.0` as
# DECIMAL(4,1), which would silently switch the whole expression to
# decimal arithmetic and diverge from the oracle's double path.
_SPARK_DEC_SUM_SQL = (
    "FLOOR((CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS DOUBLE)"
    " + CAST(SUM(CAST(FLOOR((o_totalprice - FLOOR(o_totalprice)) * 1000000.0D"
    " + 0.5D) AS BIGINT)) AS DOUBLE) / 1000000.0D) * 100.0D + 0.5D) / 100.0D"
)


# ===========================================================================
# x37 — greedy sequence packing (concat-and-chunk)
# ===========================================================================


@register(
    "x37_sequence_packing",
    r"""
    WITH t AS (
        SELECT doc_id, source,
               len(regexp_split_to_array(trim(text), '\s+')) AS toks
        FROM documents
    ),
    c AS (
        SELECT source, toks,
               SUM(toks) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum
        FROM t
    )
    SELECT source,
           CAST(FLOOR((cum - toks) * 1.0 / 512) AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(toks) AS BIGINT) AS seq_tokens
    FROM c
    GROUP BY source, seq_id
    """,
    doc="""Greedy concat-and-chunk sequence packing: documents are laid
    end-to-end in doc_id order within each source and cut into 512-token
    training sequences — a document starts in the sequence its running
    offset falls in (the standard pretraining packing layout, computed
    declaratively instead of in a data-loader loop). The running offset
    is a window cumsum PARTITIONED BY source, so packing parallelizes
    across sources/shards at corpus scale — no global order, no global
    cumsum bottleneck; for single-source corpora, pre-shard and pack per
    shard the same way. One window shuffle + one rollup shuffle.""",
)
def x37_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.text import token_count

    budget = 512
    docs = read_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", token_count(F.col("text")).alias("toks")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum", F.sum("toks").over(w))
    return (
        c.withColumn(
            "seq_id", F.floor((F.col("cum") - F.col("toks")) / budget)
        )
        .groupBy("source", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("toks").cast("long").alias("seq_tokens"),
        )
    )


# ===========================================================================
# x38 — end-to-end near-dup collapse (cluster → keep canonical → audit)
# ===========================================================================

_COLLAPSE_ORACLE = r"""
    WITH RECURSIVE w AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        FROM documents
    ),
    sh AS (
        SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')
                       FOR i IN range(1, GREATEST(len(w)-2, 1) + 1)]) AS shingles
        FROM w
    ),
    ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS s FROM sh),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter,
               ANY_VALUE(a.n_sh) AS na, ANY_VALUE(b.n_sh) AS nb
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    edges0 AS (
        SELECT doc_a, doc_b FROM pairs
        WHERE FLOOR((inter * 1.0 / (na + nb - inter)) * 1000000.0 + 0.5)
              / 1000000.0 >= 0.2
    ),
    edges AS (SELECT doc_a AS s, doc_b AS d FROM edges0
              UNION ALL SELECT doc_b, doc_a FROM edges0),
    reach(node, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.d, r.label FROM reach r JOIN edges e ON r.node = e.s
    ),
    comp AS (SELECT node AS doc_id, MIN(label) AS component_id
             FROM reach GROUP BY node)
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN d.doc_id = c.component_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN d.doc_id = c.component_id
                         THEN len(regexp_split_to_array(trim(d.text), '\s+'))
                         ELSE 0 END) AS BIGINT) AS tokens_kept
    FROM documents d JOIN comp c ON d.doc_id = c.doc_id
    GROUP BY d.source
"""


@register(
    "x38_neardup_collapse",
    _COLLAPSE_ORACLE,
    doc="""The complete fuzzy-dedup pipeline as ONE composed DAG:
    n-gram Jaccard candidate edges (inverted-index self-join, x02) →
    connected components (iterative min-label propagation, x18) → keep
    each cluster's canonical (min-id) document → per-source retention
    audit (docs in, docs kept, tokens kept). This is the
    'deduplicate the crawl before training' job end to end; every
    stage is the scale-shaped variant (shingle-keyed candidates ∝ true
    overlap, O(diameter) component rounds with truncated lineage,
    audit shuffles |sources| rows). Oracle: recursive-CTE closure +
    rollup in DuckDB.""",
)
def x38_neardup_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.components import (
        doc_components_by_text,
    )
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.text import token_count

    docs = read_table(spark, sf_dir, "documents")
    labeled = docs.join(
        doc_components_by_text(docs, threshold=0.2), "doc_id"
    )
    kept = F.col("doc_id") == F.col("component_id")
    return labeled.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(kept.cast("int")).alias("n_kept"),
        F.sum(
            F.when(kept, token_count(F.col("text"))).otherwise(F.lit(0))
        ).cast("long").alias("tokens_kept"),
    )


# ===========================================================================
# q36 — deterministic mode per group
# ===========================================================================


@register(
    "q36_mode_per_group",
    """
    WITH c AS (
        SELECT c_mktsegment AS segment, c_nationkey AS nation,
               COUNT(*) AS n
        FROM customer GROUP BY 1, 2
    ),
    r AS (
        SELECT segment, nation, n,
               ROW_NUMBER() OVER (PARTITION BY segment
                                  ORDER BY n DESC, nation) AS rk
        FROM c
    )
    SELECT segment, nation AS mode_nation, n AS n_customers
    FROM r WHERE rk = 1
    """,
    doc="""Deterministic MODE per group (most common nation per market
    segment): count-then-rank with an explicit key tiebreak, instead of
    the engines' native mode() whose tie winner is arbitrary — the
    difference between a reproducible data-quality report and a flaky
    one. Two small shuffles: the (segment, nation) count and a
    |segments×nations|-row window.""",
)
def q36_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    counts = (
        cust.groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("c_nationkey").alias("nation"),
        ).agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("segment").orderBy(F.desc("n"), F.asc("nation"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "segment",
            F.col("nation").alias("mode_nation"),
            F.col("n").alias("n_customers"),
        )
    )


# ===========================================================================
# q37 — time-based RANGE-frame rolling window
# ===========================================================================


@register(
    "q37_rolling_time_window",
    """
    WITH t AS (
        SELECT event_id, event_type, epoch_us(ts) AS ts_us,
               CAST(FLOOR(value) AS BIGINT) AS hi,
               CAST(FLOOR((value - FLOOR(value)) * 1000000.0 + 0.5) AS BIGINT)
                   AS lo
        FROM events
    )
    SELECT event_id, event_type,
           COUNT(*) OVER w AS n_1h,
           FLOOR((CAST(SUM(hi) OVER w AS DOUBLE)
                  + CAST(SUM(lo) OVER w AS DOUBLE) / 1000000.0) * 100.0 + 0.5)
               / 100.0 AS sum_1h
    FROM t
    WINDOW w AS (PARTITION BY event_type ORDER BY ts_us
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
    doc="""Per-event rolling 1-hour aggregate via a time-based RANGE
    frame over irregular event times — the rolling-feature shape ML
    feature pipelines need, where tumbling buckets (s01) are the wrong
    granularity. The frame is keyed on micros-since-epoch so peers at
    identical timestamps are handled identically in both engines, and
    the windowed SUM uses the engine's fixed-point hi/lo long split —
    float accumulation inside a window frame is evaluation-order-
    dependent and would break cross-engine parity. One shuffle
    partitioned by event_type; the frame scan is linear per
    partition.""",
)
def q37_rolling_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select("event_id", "event_type", "ts", "value")
    t = ev.select(
        "event_id",
        "event_type",
        ts_micros("ts").alias("ts_us"),
        F.floor(F.col("value")).cast("long").alias("hi"),
        F.floor(
            (F.col("value") - F.floor(F.col("value"))) * 1000000.0 + F.lit(0.5)
        ).cast("long").alias("lo"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    total = (
        F.sum("hi").over(w).cast("double")
        + F.sum("lo").over(w).cast("double") / 1000000.0
    )
    return t.select(
        "event_id",
        "event_type",
        F.count("*").over(w).alias("n_1h"),
        rhu(total, 2).alias("sum_1h"),
    )


# ===========================================================================
# q38 — batch sessionization (gaps-and-islands)
# ===========================================================================


@register(
    "q38_sessionization_batch",
    """
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                            >= 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id,
           STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events,
           epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
    FROM sessions
    GROUP BY user_id, session_id
    """,
    doc="""Batch sessionization via gaps-and-islands — the batch twin
    of s03's streaming session_window, exposing the window-function
    construction itself (lag → new-session flag → running cumsum →
    session aggregate) plus the session DURATION, which the streaming
    projection can't carry portably (Spark pads session end with the
    gap). Gap compare and duration are integer micros — exact, no
    float interval arithmetic. Two shuffles: events by user for the
    windows, then the (user, session) aggregate; both scale linearly
    and the window scan is one pass per user partition.""",
)
def q38_sessionization_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select("user_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap_us = ts_micros("ts") - ts_micros(F.lag("ts").over(w))
    flagged = ev.withColumn(
        "new_session",
        F.when(gap_us.isNull() | (gap_us >= 1_800_000_000), 1).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.count("*").alias("n_events"),
            (ts_micros(F.max("ts")) - ts_micros(F.min("ts"))).alias(
                "duration_us"
            ),
        )
        .select("user_id", "session_start", "n_events", "duration_us")
    )


# ===========================================================================
# x40 — incremental dedup: new ingest batch vs existing corpus
# ===========================================================================

_INCR_DEDUP_ORACLE = r"""
    WITH newd AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
    corp AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
    exact AS (
        SELECT DISTINCT n.doc_id FROM newd n
        JOIN corp c ON md5(n.text) = md5(c.text)
    ),
    wn AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM newd),
    wc AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM corp),
    shn AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+3], ' ')
                    FOR i IN range(1, GREATEST(len(w)-3, 1) + 1)]) AS sh FROM wn),
    shc AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+3], ' ')
                    FOR i IN range(1, GREATEST(len(w)-3, 1) + 1)]) AS sh FROM wc),
    exn AS (SELECT doc_id AS nid, len(sh) AS na, unnest(sh) AS s FROM shn),
    exc AS (SELECT doc_id AS cid, len(sh) AS nb, unnest(sh) AS s FROM shc),
    pairs AS (
        SELECT nid, cid, COUNT(*) AS inter,
               ANY_VALUE(na) AS na, ANY_VALUE(nb) AS nb
        FROM exn JOIN exc USING (s)
        GROUP BY nid, cid
    ),
    near AS (
        SELECT DISTINCT nid AS doc_id FROM pairs
        WHERE FLOOR((inter * 1.0 / (na + nb - inter)) * 1000000.0 + 0.5)
              / 1000000.0 >= 0.2
    )
    SELECT d.source,
           COUNT(*) AS n_new,
           CAST(SUM(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact_dup,
           CAST(SUM(CASE WHEN e.doc_id IS NULL AND nr.doc_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
           CAST(SUM(CASE WHEN e.doc_id IS NULL AND nr.doc_id IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM newd d
    LEFT JOIN exact e ON d.doc_id = e.doc_id
    LEFT JOIN near nr ON d.doc_id = nr.doc_id
    GROUP BY d.source
"""


@register(
    "x40_incremental_dedup",
    _INCR_DEDUP_ORACLE,
    doc="""Incremental dedup — a new ingest batch (doc_id % 10 = 0
    plays the daily crawl increment) checked against the existing
    corpus (the rest), per-source audit of exact dups, near dups
    (Jaccard ≥ 0.2, not already exact), and survivors. The
    continuous-ingestion form of the dedup ladder: every join is
    asymmetric new × corpus — exact tier is a left-semi join on
    16-byte md5 hashes, near tier is an inverted-index join of the
    increment's shingles against the corpus's keyed on the shingle, so
    candidates scale with the increment's true overlap and the corpus
    NEVER self-joins or re-clusters
    (operators/dedup.incremental_dedup_flags).""",
)
def x40_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.dedup import (
        incremental_dedup_flags,
    )

    docs = read_table(spark, sf_dir, "documents")
    new_batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    flagged = incremental_dedup_flags(
        new_batch, corpus, id_col="doc_id", text_col="text", n=3, threshold=0.2
    )
    return flagged.groupBy("source").agg(
        F.count("*").alias("n_new"),
        F.sum(F.col("dup_exact").cast("int")).cast("long").alias("n_exact_dup"),
        F.sum(F.col("dup_near").cast("int")).cast("long").alias("n_near_dup"),
        F.sum(
            (~F.col("dup_exact") & ~F.col("dup_near")).cast("int")
        ).cast("long").alias("n_kept"),
    )


# ===========================================================================
# x41 — bigram-rarity quality score (perplexity-proxy filter)
# ===========================================================================

_RARITY_ORACLE = r"""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        FROM documents
    ),
    bg AS (
        SELECT doc_id, unnest([array_to_string(w[i:i+1], ' ')
                FOR i IN range(1, GREATEST(len(w)-1, 1) + 1)]) AS bg
        FROM w
    ),
    stats AS (SELECT bg, COUNT(*) AS cnt FROM bg GROUP BY bg),
    tot AS (SELECT COUNT(*) AS n FROM bg),
    terms AS (
        SELECT b.doc_id,
               CAST(FLOOR((CAST(t.n AS DOUBLE) / s.cnt) * 1000000.0 + 0.5)
                    AS BIGINT) AS term_us
        FROM bg b JOIN stats s USING (bg) CROSS JOIN tot t
    )
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           FLOOR((CAST(SUM(term_us) AS DOUBLE) / (COUNT(*) * 1000000.0))
                 * 1000000.0 + 0.5) / 1000000.0 AS rarity
    FROM terms
    GROUP BY doc_id
"""


@register(
    "x41_bigram_rarity",
    _RARITY_ORACLE,
    doc="""Bigram-rarity quality score — the perplexity-proxy filter
    shape without a language model: pass 1 aggregates corpus bigram
    frequencies (WITH multiplicity — set-semantics shingles would be
    wrong here), pass 2 scores every document by the mean inverse
    corpus frequency of its bigrams. Junk/templated text scores high;
    the two-pass corpus-stats→score DAG is the pattern every
    statistical quality filter follows. Cross-engine float exactness:
    each N/cnt term is an IEEE division of identical integers
    (identical doubles in both engines, no transcendentals), quantized
    to integer micros and summed EXACTLY as longs — order-independent,
    so partial-aggregation order can't break the hash. Shuffles carry
    the bigram vocabulary (counts) and one (doc, sum) row per doc; the
    corpus total broadcasts as a 1-row aggregate.""",
)
def x41_bigram_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.dedup import (
        fan_out,
        word_ngrams_all,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    bg = fan_out(docs).select(
        "doc_id", F.explode(word_ngrams_all(F.col("text"), 2)).alias("bg")
    )
    stats = bg.groupBy("bg").agg(F.count("*").alias("cnt"))
    tot = bg.agg(F.count("*").alias("n"))
    term_us = F.floor(
        (F.col("n").cast("double") / F.col("cnt")) * 1000000.0 + F.lit(0.5)
    ).cast("long")
    # Skew note (VERDICT r3): `bg` is the full bigram stream and its
    # join key is naturally hot — stop-word bigrams ("of the", "in a")
    # follow a Zipf curve, so a handful of keys carry a large share of
    # rows. No cap is threaded here (unlike dedup's hot_shingle_cap,
    # which DROPS candidates, a cap would change this score's value);
    # instead the skew is left to AQE's skew-join split, which handles
    # a hot reduce partition without changing results, and `stats` is
    # vocabulary-sized so at dim-table scale the join usually resolves
    # to broadcast-hash anyway (no shuffle of `bg` at all).
    terms = (
        bg.join(stats, "bg")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", term_us.alias("term_us"))
    )
    rarity = rhu(
        F.sum("term_us").cast("double") / (F.count("*") * 1000000.0), 6
    )
    return terms.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        rarity.alias("rarity"),
    )


# ===========================================================================
# q39 — table profile (per-column quality audit)
# ===========================================================================

_PROFILE_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
]

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
           COUNT(*) - COUNT({c}) AS n_nulls,
           COUNT(DISTINCT {c}) AS n_distinct,
           CAST(MIN({c}) AS VARCHAR) AS min_value,
           CAST(MAX({c}) AS VARCHAR) AS max_value
    FROM orders"""
    for c in _PROFILE_COLS
)


@register(
    "q39_table_profile",
    _PROFILE_ORACLE,
    doc="""Table profiling (the ANALYZE / data-quality audit every
    pipeline runs before training): per column, null count, exact
    distinct count, and min/max. ONE scan computes every column's
    metrics in a single aggregate (Catalyst plans the multi-distinct
    via one Expand: rows replicate per distinct-column, then a single
    two-phase aggregate — at 100 TB that is |cols|× map-side rows but
    still one shuffle carrying partial states, vs |cols| full scans
    for the naive per-column loop the oracle's UNION ALL spells out);
    the wide result unpivots to one row per column. min/max surface as
    strings — both engines print shortest-round-trip doubles and ISO
    dates, so the cast is portable.""",
)
def q39_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.dedup import fan_out

    # The Expand multiplies rows |distinct-cols|× beyond what the
    # byte-based scan planning saw — fan_out parallelizes it on the
    # single-row-group testdata and is the identity on real corpora.
    orders = fan_out(read_table(spark, sf_dir, "orders").select(*_PROFILE_COLS))
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            (F.count("*") - F.count(c)).alias(f"__nn_{c}"),
            F.count_distinct(F.col(c)).alias(f"__nd_{c}"),
            F.min(c).cast("string").alias(f"__mn_{c}"),
            F.max(c).cast("string").alias(f"__mx_{c}"),
        ]
    wide = orders.agg(*aggs)
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias("column_name"),
                    F.col(f"__nn_{c}").alias("n_nulls"),
                    F.col(f"__nd_{c}").alias("n_distinct"),
                    F.col(f"__mn_{c}").alias("min_value"),
                    F.col(f"__mx_{c}").alias("max_value"),
                )
                for c in _PROFILE_COLS
            ]
        )
    ).alias("r")
    return wide.select(rows).select("r.*")


# ===========================================================================
# q40 — referential-integrity audit (orphan foreign keys)
# ===========================================================================


@register(
    "q40_orphan_audit",
    """
    SELECT 'lineitem.l_orderkey->orders' AS relationship,
           (SELECT COUNT(*) FROM lineitem) AS n_child,
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           (SELECT COUNT(*) FROM customer),
           (SELECT COUNT(*) FROM customer cu
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = cu.c_nationkey))
    """,
    doc="""Referential-integrity audit over the relational graph:
    orphan (dangling foreign-key) counts for lineitem→orders,
    orders→customer, customer→nation — the constraint check a lakehouse
    runs after every load, since parquet enforces nothing. Each edge is
    one left join against the parent's distinct key (column pruning
    reaches the scan; EXISTS semantics survive duplicate parent keys;
    NULL FKs count as orphans, matching NOT EXISTS); small parents
    broadcast under the size policy, a big parent degrades to a
    shuffled join keyed on the FK. All three edges compose into ONE
    declarative DAG (a union of 1-row aggregates) — no driver-side
    count loop, one action total.""",
)
def q40_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    def edge(label: str, child, fk: str, parent, pk: str) -> DataFrame:
        flagged = child.select(F.col(fk).alias("__k")).join(
            parent.select(F.col(pk).alias("__k"))
            .distinct()
            .withColumn("__hit", F.lit(1)),
            "__k",
            "left",
        )
        return flagged.agg(
            F.count("*").alias("n_child"),
            F.sum(F.when(F.col("__hit").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_orphans"),
        ).select(
            F.lit(label).alias("relationship"), "n_child", "n_orphans"
        )

    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    return (
        edge("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey")
        .unionAll(edge("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey"))
        .unionAll(
            edge("customer.c_nationkey->nation", c, "c_nationkey", n, "n_nationkey")
        )
    )


# ===========================================================================
# q41 — SCD Type-2 dimension merge
# ===========================================================================

_SCD2_ORACLE = """
    WITH hist_open AS (
        SELECT c_custkey AS k, c_mktsegment AS seg,
               '2020-01' AS eff_from, CAST(NULL AS VARCHAR) AS eff_to
        FROM customer
    ),
    hist_closed AS (
        SELECT c_custkey AS k, 'LEGACY' AS seg,
               '2018-01' AS eff_from, '2020-01' AS eff_to
        FROM customer WHERE c_custkey % 10 = 0
    ),
    upd AS (
        SELECT c_custkey AS k,
               CASE WHEN c_custkey % 14 = 0 THEN c_mktsegment
                    ELSE 'SEG_' || CAST(c_custkey % 3 AS VARCHAR) END AS seg,
               '2024-06' AS eff_from
        FROM customer WHERE c_custkey % 7 = 0
        UNION ALL
        SELECT c_custkey + 1000000 AS k, 'NEWCO' AS seg, '2024-06' AS eff_from
        FROM customer WHERE c_custkey % 97 = 0
    )
    SELECT k, seg, eff_from, eff_to FROM hist_closed
    UNION ALL
    SELECT h.k, h.seg, h.eff_from, h.eff_to
    FROM hist_open h LEFT JOIN upd u ON h.k = u.k
    WHERE u.k IS NULL OR h.seg = u.seg
    UNION ALL
    SELECT h.k, h.seg, h.eff_from, u.eff_from AS eff_to
    FROM hist_open h JOIN upd u ON h.k = u.k
    WHERE h.seg <> u.seg
    UNION ALL
    SELECT u.k, u.seg, u.eff_from, CAST(NULL AS VARCHAR) AS eff_to
    FROM upd u LEFT JOIN hist_open h ON u.k = h.k
    WHERE h.k IS NULL OR h.seg <> u.seg
"""


@register(
    "q41_scd2_merge",
    _SCD2_ORACLE,
    doc="""SCD Type-2 dimension merge (operators/scd.scd2_merge): the
    missing half of the reference's full-overwrite load
    (TableTransform.py:26-29) — keep per-key history with
    [effective_from, effective_to) validity instead of destroying it
    each refresh. The scenario is synthesized deterministically from
    customer: every 10th key carries a closed LEGACY row (passthrough
    branch), every 7th key receives an update (every 14th a no-op with
    identical attrs — the <=> same-attr branch), and every 97th key
    arrives brand-new. One full-outer equi-join on the key + three
    filtered projections + unions; the update side broadcasts when
    daily-change-sized, and the closed-history passthrough never
    shuffles. Oracle reproduces the merge with plain SQL joins.""",
)
def q41_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.scd import scd2_merge

    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    hist_open = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.lit("2020-01").alias("eff_from"),
        F.lit(None).cast("string").alias("eff_to"),
    )
    hist_closed = cust.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("k"),
        F.lit("LEGACY").alias("seg"),
        F.lit("2018-01").alias("eff_from"),
        F.lit("2020-01").alias("eff_to"),
    )
    history = hist_closed.unionByName(hist_open)

    changed = cust.filter(F.col("c_custkey") % 7 == 0).select(
        F.col("c_custkey").alias("k"),
        F.when(F.col("c_custkey") % 14 == 0, F.col("c_mktsegment"))
        .otherwise(
            F.concat(F.lit("SEG_"), (F.col("c_custkey") % 3).cast("string"))
        )
        .alias("seg"),
        F.lit("2024-06").alias("eff_from"),
    )
    fresh = cust.filter(F.col("c_custkey") % 97 == 0).select(
        (F.col("c_custkey") + 1000000).alias("k"),
        F.lit("NEWCO").alias("seg"),
        F.lit("2024-06").alias("eff_from"),
    )
    updates = changed.unionByName(fresh)

    return scd2_merge(
        history, updates, "k", ["seg"], eff_from="eff_from", eff_to="eff_to"
    ).select(
        "k", "seg", "eff_from", "eff_to"
    )


# ===========================================================================
# x42 — deterministic global shuffle (training-data ordering)
# ===========================================================================


@register(
    "x42_deterministic_shuffle",
    """
    SELECT doc_id, source,
           ROW_NUMBER() OVER (
               ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id
           ) AS shuffle_pos
    FROM documents
    """,
    doc="""Deterministic global shuffle (operators/shuffle): every
    document gets a contiguous 1-based position in a seed-derived
    pseudo-random order — the reproducible example ordering a training
    run consumes and resumes from. The order is md5(doc_id ':' seed),
    a pure function of content+seed (DuckDB computes the identical
    digests, so the full permutation is oracle-checked). Scale shape:
    two-phase enumeration — range-partition sort on the hash key, then
    per-partition row_number plus broadcast per-partition offsets —
    never a single-partition global window.""",
)
def x42_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.shuffle import (
        deterministic_shuffle,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    return deterministic_shuffle(docs, "doc_id", seed=42).select(
        "doc_id", "source", "shuffle_pos"
    )


# ===========================================================================
# x43 — connected components via alternating large/small-star
# ===========================================================================


@register(
    "x43_components_star",
    None,  # oracle assigned below — shares x18's recursive-CTE closure
    doc="""The same dedup-cluster resolution as x18 (n-gram Jaccard
    edges → transitive closure → min-id canonical labels) computed by
    the alternating large-star/small-star algorithm
    (operators/components.connected_components_star) instead of
    min-label propagation: O(log n) rounds on ANY topology vs
    O(diameter). Identical output contract and oracle as x18 — the
    driver-green pair is the proof both implementations agree — but
    this is the variant a crawl graph with redirect chains (10⁶-node
    paths) needs: min-propagation would take 10⁶ shuffle rounds,
    the star rewiring takes ~20.""",
)
def x43_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.components import (
        doc_components_by_text,
    )

    docs = read_table(spark, sf_dir, "documents")
    # star=True: the large/small-star closure runs on the text-level
    # edges (round-12 collapse — see doc_components_by_text); the
    # algorithm contract of this entry is unchanged
    return doc_components_by_text(docs, threshold=0.2, star=True).withColumn(
        "is_canonical", F.col("doc_id") == F.col("component_id")
    )


# Share x18's oracle: the closure is implementation-independent.
from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans.registry import QUERIES as _Q  # noqa: E402
from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans import catalog_more as _cm  # noqa: E402

_Q["x43_components_star"].oracle = _cm._COMPONENTS_ORACLE


# ===========================================================================
# x44 — exactly-k-per-stratum deterministic sample
# ===========================================================================


@register(
    "x44_exact_stratified_sample",
    """
    SELECT source, doc_id, sample_rank FROM (
        SELECT source, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR) || ':44'), doc_id
               ) AS sample_rank
        FROM documents)
    WHERE sample_rank <= 25
    """,
    doc="""Exactly-25-per-source deterministic sample
    (operators/sampling.exact_stratified_sample): rank each stratum by
    a content-derived hash and keep the first k — the exact-count
    complement to x20's Bernoulli sampler, for eval slices and
    balanced annotation batches where "about k" isn't acceptable. No
    RNG state: the hash makes the draw uniform, seeded, and
    layout-independent, and DuckDB computes the identical md5 ranking,
    so the full selection is oracle-checked. One window shuffle
    partitioned by source.""",
)
def x44_exact_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.sampling import (
        exact_stratified_sample,
    )

    docs = read_table(spark, sf_dir, "documents").select("source", "doc_id")
    return exact_stratified_sample(
        docs, strata_col="source", key_col="doc_id", k=25, seed=44
    ).select("source", "doc_id", "sample_rank")


# ===========================================================================
# x46 — deterministic link-graph rank (integer PageRank)
# ===========================================================================

from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.graphrank import (  # noqa: E402
    pagerank_oracle_sql,
)

_RANK_EDGES_CTE = (
    "SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst "
    "FROM orders JOIN lineitem ON o_orderkey = l_orderkey"
)


@register(
    "x46_graph_pagerank",
    pagerank_oracle_sql(_RANK_EDGES_CTE, iterations=5),
    doc="""Deterministic integer PageRank (operators/graphrank) over the
    bipartite customer–supplier purchase graph (distinct
    (o_custkey, l_suppkey) pairs; node ids disambiguated by parity).
    Link-graph centrality is the classic crawl-corpus quality signal;
    the catalog's iterative family beyond connected components. All
    arithmetic in bigint micro-units with integer division, so 5 fixed
    power iterations produce bit-identical bigints in both engines —
    the oracle unrolls the identical recurrence as 5 chained CTEs.
    Per iteration: one join + one aggregate over |E| rows, lineage
    truncated — the same round economics as components.""",
)
def x46_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.graphrank import (
        pagerank_int,
    )

    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # No .distinct() here (round 15): pagerank_int dedups the
    # symmetric closure internally — distinct(union(E, swap(E))) is
    # identical whether or not E was pre-distinct'd, and the entry's
    # extra distinct cost a full |E|-row exchange before the
    # operator's single repartition (oracle text unchanged: its inner
    # DISTINCT stays, same rows either way — x46 MATCH re-verified).
    edges = o.join(li, o.o_orderkey == li.l_orderkey).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    return pagerank_int(edges, iterations=5)


# ===========================================================================
# q42 — salted skew-proof join
# ===========================================================================


@register(
    "q42_salted_join",
    """
    SELECT o.o_orderstatus,
           COUNT(*) AS n_lineitems,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
    doc="""Salted skew-proof join (operators/skew.salted_join): the
    fact side carries a random salt, the other side replicates across
    the salt domain, and the join key becomes (key, salt) — splitting
    a hot key across n_salts reducers when AQE's skew split can't
    apply (e.g. the join must stay co-partitioned for a downstream
    op). Salting must be RESULT-INVARIANT: the oracle is the plain
    unsalted join, aggregated per order status so the comparison is
    salt-placement-independent. q25 covers the aggregation flavor;
    this is the join flavor.""",
)
def q42_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.skew import salted_join

    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    joined = salted_join(
        li,
        o.withColumnRenamed("o_orderkey", "l_orderkey"),
        on=["l_orderkey"],
        n_salts=8,
    )
    return joined.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_lineitems"),
        F.sum(F.col("l_quantity").cast("long")).alias("total_qty"),
    )


# ===========================================================================
# q43 — snapshot diff (change data capture)
# ===========================================================================

_CDC_ORACLE = """
    WITH old AS (
        SELECT c_custkey AS k, c_mktsegment AS seg, c_acctbal AS bal
        FROM customer WHERE c_custkey % 50 <> 0
    ),
    new AS (
        SELECT c_custkey AS k,
               CASE WHEN c_custkey % 7 = 0
                    THEN 'SEG_' || CAST(c_custkey % 3 AS VARCHAR)
                    ELSE c_mktsegment END AS seg,
               c_acctbal AS bal
        FROM customer WHERE c_custkey % 41 <> 0
    )
    SELECT COALESCE(n.k, o.k) AS k,
           CASE WHEN o.k IS NULL THEN 'insert'
                WHEN n.k IS NULL THEN 'delete'
                ELSE 'update' END AS action,
           o.seg AS old_seg, o.bal AS old_bal,
           n.seg AS new_seg, n.bal AS new_bal
    FROM old o FULL OUTER JOIN new n ON o.k = n.k
    WHERE o.k IS NULL OR n.k IS NULL
       OR o.seg IS DISTINCT FROM n.seg OR o.bal IS DISTINCT FROM n.bal
"""


@register(
    "q43_snapshot_diff",
    _CDC_ORACLE,
    doc="""Change-data-capture diff (operators/scd.snapshot_diff):
    yesterday's vs today's snapshot of a keyed table → one row per
    changed key tagged insert/update/delete, unchanged keys dropped.
    The reference's pipeline ships FULL snapshots daily
    (retrieval.py:142-146); this is the op that turns them into
    delta-sized downstream loads. Scenario synthesized from customer:
    every 50th key absent from 'old' (inserts), every 41st absent from
    'new' (deletes), every 7th re-segmented (updates). One full-outer
    join on the key; delta-sized output.""",
)
def q43_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.scd import snapshot_diff

    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    old = cust.filter(F.col("c_custkey") % 50 != 0).select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.col("c_acctbal").alias("bal"),
    )
    new = cust.filter(F.col("c_custkey") % 41 != 0).select(
        F.col("c_custkey").alias("k"),
        F.when(
            F.col("c_custkey") % 7 == 0,
            F.concat(F.lit("SEG_"), (F.col("c_custkey") % 3).cast("string")),
        )
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
        F.col("c_acctbal").alias("bal"),
    )
    return snapshot_diff(old, new, "k", ["seg", "bal"]).select(
        "k", "action", "old_seg", "old_bal", "new_seg", "new_bal"
    )


# ===========================================================================
# q44 — funnel conversion
# ===========================================================================


@register(
    "q44_funnel_conversion",
    """
    WITH v AS (SELECT user_id, MIN(ts) AS first_view
               FROM events WHERE event_type = 'view' GROUP BY user_id),
    flags AS (
        SELECT v.user_id,
               EXISTS (SELECT 1 FROM events p
                       WHERE p.event_type = 'purchase'
                         AND p.user_id = v.user_id
                         AND p.ts > v.first_view
                         AND p.ts <= v.first_view + INTERVAL 24 HOUR)
                   AS converted
        FROM v
    )
    SELECT COUNT(*) AS n_viewers,
           CAST(SUM(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT)
               AS n_converted,
           FLOOR((CAST(SUM(CASE WHEN converted THEN 1 ELSE 0 END) AS DOUBLE)
                  / COUNT(*)) * 1000000.0 + 0.5) / 1000000.0
               AS conversion_rate
    FROM flags
    """,
    doc="""Funnel conversion: of users whose first view happened, how
    many purchased within 24 hours of it — the view→purchase step of
    the classic event funnel. One aggregate for first-view per user,
    one EXISTS-shaped left-semi join with the time bound (rewritten as
    a join+flag so it stays one equi-shuffle on user_id; the time
    predicate is a residual), one 1-row rollup. At scale: both inputs
    shuffle once on user_id — no window over the full event stream.""",
)
def q44_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    first_view = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(ts).alias("first_view"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), ts.alias("p_ts")
    )
    converted_users = (
        first_view.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") > F.col("first_view"))
            & (F.col("p_ts") <= F.col("first_view") + F.expr("INTERVAL 24 HOURS")),
            "left_semi",
        )
        .select("user_id")
        .withColumn("converted", F.lit(True))
    )
    flags = first_view.join(converted_users, "user_id", "left").select(
        "user_id", F.coalesce("converted", F.lit(False)).alias("converted")
    )
    return flags.agg(
        F.count("*").alias("n_viewers"),
        F.sum(F.col("converted").cast("int")).cast("long").alias("n_converted"),
        rhu(
            F.sum(F.col("converted").cast("int")).cast("double") / F.count("*"),
            6,
        ).alias("conversion_rate"),
    )


# ===========================================================================
# q45 — cohort retention
# ===========================================================================


@register(
    "q45_cohort_retention",
    """
    WITH firsts AS (
        SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id, f.cohort_day,
               datediff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
        FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT STRFTIME(cohort_day, '%Y-%m-%d') AS cohort_day,
           day_offset,
           COUNT(*) AS n_users
    FROM activity
    WHERE day_offset <= 7
    GROUP BY cohort_day, day_offset
    """,
    doc="""Cohort retention: users grouped by first-activity day, with
    the count still active at each day offset 0..7 — the dashboard
    table behind every retention curve. One aggregate for the cohort
    assignment, one equi-join back to activity (shuffled on user_id),
    distinct per (user, offset), then a small groupBy. The distinct is
    the only extra exchange and carries (user, cohort, offset) ids
    only.""",
)
def q45_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    firsts = ev.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("cohort_day")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.col("ts").cast("date"), F.col("cohort_day")).alias(
                "day_offset"
            ),
        )
        .distinct()
    )
    return (
        activity.filter(F.col("day_offset") <= 7)
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            "day_offset",
        )
        .agg(F.count("*").alias("n_users"))
    )


# ===========================================================================
# q46 — SCD2 point-in-time lookup
# ===========================================================================


@register(
    "q46_scd2_point_in_time",
    _SCD2_ORACLE.replace(
        "SELECT k, seg, eff_from, eff_to FROM hist_closed",
        "SELECT * FROM (SELECT k, seg, eff_from, eff_to FROM hist_closed",
    )
    + """) merged
    WHERE eff_from <= '2024-01' AND (eff_to IS NULL OR eff_to > '2024-01')
    """,
    doc="""Point-in-time lookup over the SCD2 dimension built by q41:
    "what did we believe about every key as of 2024-01" — the query an
    effective-dated dimension exists to answer, and the reference's
    full-overwrite load (TableTransform.py:26-29) structurally cannot.
    Validity-window predicate over the merged history:
    eff_from <= D < eff_to (NULL = open). One narrow filter over the
    q41 DAG; at rest the history would be partitioned by eff_from so
    the predicate prunes partitions.""",
)
def q46_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    merged = q41_scd2_merge(spark, sf_dir)
    as_of = "2024-01"
    return merged.filter(
        (F.col("eff_from") <= as_of)
        & (F.col("eff_to").isNull() | (F.col("eff_to") > as_of))
    )


# ===========================================================================
# q47 — windowed percentile bands
# ===========================================================================


def _pct_interp(arr: str, n: str, q: float, spark_side: bool) -> str:
    """Rank-based linear interpolation for the q-quantile of a sorted
    array, as ONE expression string whose arithmetic — operand order,
    literal casts, the ``a + (b-a)*f`` form — is byte-identical across
    engines (only element access differs: ``element_at`` vs brackets).

    This pins what relying on Spark ``percentile`` vs DuckDB
    ``quantile_cont`` would leave to chance: both document linear
    interpolation, but ``a + (b-a)*f`` vs ``(1-f)*a + f*b`` differ in
    the last ulp, and a last-ulp difference at a HALF_UP rounding
    boundary hash-mismatches — the exact failure mode dec_sum exists
    for. Generating both sides from this one template makes the
    float-op sequence identical, so results are bitwise equal on any
    data, boundary or not.

    r = (n-1)·q; lo = ⌊r⌋+1 (1-based); hi = min(lo+1, n) (clamped so
    a 1-element array never indexes past the end — Spark's ANSI
    ``element_at`` would throw); result = v_lo + (v_hi − v_lo)·(r−⌊r⌋).
    Empty array (all-NULL group) → NULL in both engines.
    """
    qd = f"CAST({q} AS DOUBLE)"
    r = f"(({n} - 1) * {qd})"
    lo = f"(CAST(FLOOR({r}) AS INT) + 1)"
    hi = f"LEAST({lo} + 1, {n})"
    elem = (
        (lambda i: f"element_at({arr}, {i})")
        if spark_side
        else (lambda i: f"{arr}[{i}]")
    )
    vlo, vhi = elem(lo), elem(hi)
    return (
        f"CASE WHEN {n} = 0 THEN NULL ELSE "
        f"({vlo} + ({vhi} - {vlo}) * ({r} - FLOOR({r}))) END"
    )


from aws_etl_pipeline_financial_streamlit_dashboard_spark.functions.scalars import sql_round as _sqr

_Q47_ORACLE = f"""
    WITH g AS (
        SELECT STRFTIME(time_bucket(INTERVAL '6 hours', ts), '%Y-%m-%d %H:%M:%S') AS w_start,
               event_type,
               COUNT(*) AS n_events,
               list_sort(list(value) FILTER (WHERE value IS NOT NULL)) AS arr
        FROM events
        GROUP BY 1, 2
    )
    SELECT w_start, event_type, n_events,
           {_sqr(_pct_interp("arr", "len(arr)", 0.5, False), 6)} AS p50,
           {_sqr(_pct_interp("arr", "len(arr)", 0.9, False), 6)} AS p90
    FROM g
"""


@register(
    "q47_windowed_percentiles",
    _Q47_ORACLE,
    doc="""Percentile bands per time bucket — the monitoring query
    behind every latency/value dashboard: exact p50/p90 of event value
    per (6-hour window, event type). The interpolation is PINNED: both
    engines evaluate the same generated ``v_lo + (v_hi - v_lo)·f``
    expression over the group's sorted value array (_pct_interp), so
    parity is bitwise by construction instead of hoping Spark
    ``percentile`` and DuckDB ``quantile_cont`` agree to the last ulp
    at a HALF_UP boundary. Exact percentiles buffer a group's values
    (collect_list here ≡ percentile()'s internal buffer — same memory
    shape); at 100 TB swap percentile_approx (t-digest partial states,
    constant memory) under the same query shape — registered
    executable as q49_windowed_percentiles_approx with an error-bound
    test. One shuffle keyed (window, type); window start via the same
    epoch-bucket arithmetic as s01's batch twin.""",
)
def q47_windowed_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "event_type", "value", "ts"
    )
    # Bucket on TZ-free epoch micros; RENDER via the NTZ wall clock —
    # date_format on the LTZ timestamp_micros value would re-route the
    # bucket label through the session zone (caught by the full-catalog
    # shifted-TZ sweep under Asia/Kolkata: every w_start moved +5:30).
    bucket = ntz_of_instant(
        F.timestamp_micros(
            (ts_micros("ts") / 21_600_000_000).cast("long") * 21_600_000_000
        )
    )
    grouped = ev.groupBy(
        F.date_format(bucket, "yyyy-MM-dd HH:mm:ss").alias("w_start"),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        F.sort_array(F.collect_list("value")).alias("__arr"),
    )
    return grouped.select(
        "w_start",
        "event_type",
        "n_events",
        rhu(F.expr(_pct_interp("__arr", "size(__arr)", 0.5, True)), 6).alias("p50"),
        rhu(F.expr(_pct_interp("__arr", "size(__arr)", 0.9, True)), 6).alias("p90"),
    )


@register(
    "q49_windowed_percentiles_approx",
    None,  # t-digest sketch is engine-specific → rows-only check
    doc="""The 100 TB execution path for q47's query shape:
    percentile_approx (t-digest) instead of exact rank interpolation.
    The sketch aggregates in CONSTANT memory per group with mergeable
    partial states — map-side partials collapse before the exchange,
    so a group's values never assemble in one place (exact percentiles
    must buffer the full group). Engine-specific sketch → rows-only
    driver check; the quality bound vs q47's exact bands (approx value
    must sit within rank tolerance of the target quantile) is pinned
    in tests/test_approx_invariants.py.""",
)
def q49_windowed_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "event_type", "value", "ts"
    )
    # Bucket on TZ-free epoch micros; RENDER via the NTZ wall clock —
    # date_format on the LTZ timestamp_micros value would re-route the
    # bucket label through the session zone (caught by the full-catalog
    # shifted-TZ sweep under Asia/Kolkata: every w_start moved +5:30).
    bucket = ntz_of_instant(
        F.timestamp_micros(
            (ts_micros("ts") / 21_600_000_000).cast("long") * 21_600_000_000
        )
    )
    return ev.groupBy(
        F.date_format(bucket, "yyyy-MM-dd HH:mm:ss").alias("w_start"),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        F.expr("percentile_approx(value, 0.5, 10000)").alias("p50"),
        F.expr("percentile_approx(value, 0.9, 10000)").alias("p90"),
    )


# ===========================================================================
# q48 — top-k per group (value-ordered)
# ===========================================================================


@register(
    "q48_topk_per_group",
    """
    SELECT segment, o_orderkey, total_price, rk
    FROM (
        SELECT c.c_mktsegment AS segment,
               o.o_orderkey,
               FLOOR(o.o_totalprice * 100.0 + 0.5) / 100.0 AS total_price,
               ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
                                  ORDER BY o.o_totalprice DESC, o.o_orderkey)
                   AS rk
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
    WHERE rk <= 3
    """,
    doc="""Top-k per group by VALUE (top-3 priciest orders per market
    segment) — the grouped complement of q13's global top-k. One
    broadcast-joined dim for the group key, then operators/skew
    .grouped_topk: a salted partial top-k (rank within (segment, scan
    partition), keep 3) pre-reduces the final segment window's input
    to ≤ 3·|splits| rows per segment, so a dominating group never
    lands whole on one reducer. Results are exactly the plain window's
    — the (value, id) tiebreak makes the order total, and a group's
    global top-k is a subset of the union of its per-salt top-ks —
    which is what the unchanged ROW_NUMBER oracle checks.""",
)
def q48_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.skew import grouped_topk

    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = F.broadcast(
        read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    joined = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        "o_orderkey",
        "o_totalprice",
    )
    return grouped_topk(
        joined,
        group_cols=["segment"],
        order_by=[F.desc("o_totalprice"), F.asc("o_orderkey")],
        k=3,
    ).select(
        "segment",
        "o_orderkey",
        rhu("o_totalprice", 2).alias("total_price"),
        "rk",
    )


# ===========================================================================
# q51 — multi-step ordered funnel (round 3)
# ===========================================================================


@register(
    "q51_multistep_funnel",
    """
    WITH v AS (SELECT user_id, MIN(ts) AS t1
               FROM events WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS t2
          FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
          WHERE e.event_type = 'click' GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS t3
          FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
          WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT (SELECT COUNT(*) FROM v) AS n_viewed,
           (SELECT COUNT(*) FROM c) AS n_clicked,
           (SELECT COUNT(*) FROM p) AS n_purchased
    """,
    doc="""Three-step ORDERED funnel (view → click after the first
    view → purchase after the first qualifying click) — the multi-step
    generalization of q44's two-step conversion, with the strict
    ordering constraint that a click before the first view doesn't
    count. Each step is one grouped MIN + one user_id equi-join with
    the time bound as a residual — the step chain shuffles on user_id
    three times and never windows over the full event stream; step
    outputs shrink monotonically, so later joins are cheaper. One
    3-count summary row.""",
)
def q51_multistep_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts").cast("timestamp").alias("ts")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v.select(F.col("user_id").alias("__vu"), "t1"),
              (F.col("user_id") == F.col("__vu")) & (F.col("ts") > F.col("t1")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c.select(F.col("user_id").alias("__cu"), "t2"),
              (F.col("user_id") == F.col("__cu")) & (F.col("ts") > F.col("t2")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    counts = [
        v.agg(F.count("*").alias("n_viewed")),
        c.agg(F.count("*").alias("n_clicked")),
        p.agg(F.count("*").alias("n_purchased")),
    ]
    return counts[0].crossJoin(counts[1]).crossJoin(counts[2])


# ===========================================================================
# x56 — winsorization at exact per-group percentiles
# ===========================================================================

_X56_ORACLE = f"""
    WITH b AS (
        SELECT source,
               list_sort(list(CAST(n_chars AS DOUBLE))) AS arr
        FROM documents
        GROUP BY source
    ),
    bounds AS (
        SELECT source,
               {_pct_interp("arr", "len(arr)", 0.05, False)} AS lo,
               {_pct_interp("arr", "len(arr)", 0.95, False)} AS hi
        FROM b
    )
    SELECT d.doc_id, d.source, d.n_chars,
           FLOOR(LEAST(GREATEST(CAST(d.n_chars AS DOUBLE), b.lo), b.hi)
                 * 1000000.0 + 0.5) / 1000000.0 AS n_chars_w,
           (CAST(d.n_chars AS DOUBLE) < b.lo
            OR CAST(d.n_chars AS DOUBLE) > b.hi) AS clipped
    FROM documents d JOIN bounds b ON d.source = b.source
"""


@register(
    "x56_winsorize",
    _X56_ORACLE,
    doc="""Winsorization: clip each document's length to its source's
    exact [p05, p95] band — the outlier-taming transform applied to
    heavy-tailed quality features before they feed scoring models
    (x35's MAD flags outliers; this one REPAIRS them in place). The
    percentile bounds use the same pinned a+(b−a)·f interpolation
    template as q47 (bitwise identical in both engines); the clip
    itself is comparison-only (LEAST/GREATEST), so the only rounding
    is the final display quantization.

    Plan: one shuffle to the per-source bounds (|sources| rows),
    broadcast back onto the corpus, narrow clip — the corpus itself
    never shuffles. Exact percentiles buffer one source's values
    (q47's caveat); at 100 TB swap percentile_approx under the same
    join shape (q49's documented trade).""",
)
def x56_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    grouped = docs.groupBy("source").agg(
        F.sort_array(
            F.collect_list(F.col("n_chars").cast("double"))
        ).alias("__arr")
    )
    bounds = grouped.select(
        "source",
        F.expr(_pct_interp("__arr", "size(__arr)", 0.05, True)).alias("lo"),
        F.expr(_pct_interp("__arr", "size(__arr)", 0.95, True)).alias("hi"),
    )
    return docs.join(F.broadcast(bounds), "source").select(
        "doc_id",
        "source",
        "n_chars",
        F.expr(
            "CAST(FLOOR(LEAST(GREATEST(CAST(n_chars AS DOUBLE), lo), hi)"
            " * 1000000.0 + 0.5) / 1000000.0 AS DOUBLE)"
        ).alias("n_chars_w"),
        F.expr(
            "CAST(n_chars AS DOUBLE) < lo OR CAST(n_chars AS DOUBLE) > hi"
        ).alias("clipped"),
    )


# ===========================================================================
# Dedup-cluster representative selection (round 5)
# ===========================================================================

# The shared closure CTEs (catalog_more._COMPONENTS_CTES), reused so
# x69's oracle resolves the SAME clusters the engine does —
# implementation-independent, like x43's oracle sharing.
_X69_ORACLE = _cm._COMPONENTS_CTES + """
    , comp AS (
        SELECT node AS doc_id, MIN(label) AS component_id
        FROM reach GROUP BY node
    ),
    ranked AS (
        SELECT c.component_id, d.doc_id, d.n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY c.component_id
                   ORDER BY d.n_chars DESC, d.doc_id ASC
               ) AS rk,
               COUNT(*) OVER (PARTITION BY c.component_id) AS n_members
        FROM comp c JOIN documents d ON c.doc_id = d.doc_id
    )
    SELECT component_id, doc_id AS rep_doc_id, n_chars AS rep_n_chars,
           n_members
    FROM ranked WHERE rk = 1
"""


@register(
    "x69_cluster_representative",
    _X69_ORACLE,
    doc="""Best-copy selection per dedup cluster: x18's connected
    components (n-gram Jaccard edges → min-label closure) joined back
    to the corpus, keeping the HIGHEST-QUALITY member of each cluster
    (quality = n_chars here, doc_id ascending as the deterministic
    tiebreak) — the realistic 'keep one per cluster' policy (a corpus
    keeps the best copy, not an arbitrary canonical id; contrast x18's
    is_canonical = min-id). Spark side avoids the oracle's per-cluster
    sort entirely: ONE hash aggregate with a struct-extreme
    (max(n_chars, -doc_id, doc_id)) — mergeable state, partial agg
    map-side, no window, no per-cluster buffering; the shape that
    holds when one near-dup cluster has 10⁷ members at 100 TB. Oracle:
    the shared recursive-CTE closure + a ranked window — same
    clusters, same representative, by construction.""",
)
def x69_cluster_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.components import (
        doc_components_by_text,
    )

    docs = read_table(spark, sf_dir, "documents")
    labeled = docs.select("doc_id", "n_chars").join(
        doc_components_by_text(docs, threshold=0.2), "doc_id"
    )
    best = F.max(
        F.struct(
            F.col("n_chars").alias("q"),
            (-F.col("doc_id")).alias("nid"),
            F.col("doc_id").alias("d"),
        )
    )
    return labeled.groupBy("component_id").agg(
        best.getField("d").alias("rep_doc_id"),
        best.getField("q").alias("rep_n_chars"),
        F.count("*").alias("n_members"),
    )


# ===========================================================================
# BPE merge-candidate pair counting (round 5)
# ===========================================================================


@register(
    "x71_bpe_pair_counts",
    r"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        FROM documents
    ),
    pairs AS (
        SELECT unnest([w[i] || ' ' || w[i+1]
                       FOR i IN range(1, GREATEST(len(w) - 1, 0) + 1)]) AS pair
        FROM toks
    ),
    counted AS (SELECT pair, COUNT(*) AS cnt FROM pairs GROUP BY pair)
    SELECT pair, cnt,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, pair ASC) AS BIGINT)
               AS merge_rank
    FROM counted
    ORDER BY cnt DESC, pair ASC
    LIMIT 20
    """,
    doc="""The merge-candidate step of BPE tokenizer training: count
    every ADJACENT token pair across the corpus (multiplicity kept —
    unlike the dedup shingles, which list_distinct per doc) and rank
    the top 20 by frequency with a deterministic (count DESC, pair
    ASC) tiebreak — the pair a BPE trainer would merge next, iterated.
    Spark side: shifted slice + zip_with builds each document's pair
    list in ONE codegen array walk (never per-index element_at in a
    HOF — the interpreted re-walk trap), explode feeds a hash
    aggregate whose partial (map-side) phase collapses each
    partition's pairs before the only full shuffle, which carries
    (pair, partial_count) — vocabulary-scale, not corpus-scale. The
    top-20 is TakeOrdered (no global sort materialization). At 100 TB
    this is exactly the distributed first half of tokenizer training;
    the merge loop re-runs it on the re-paired corpus.""",
)
def x71_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    pairs = docs.select(
        F.explode(
            F.expr(
                "zip_with("
                " slice(split(trim(text), '\\\\s+'), 1,"
                "       GREATEST(size(split(trim(text), '\\\\s+')) - 1, 0)),"
                " slice(split(trim(text), '\\\\s+'), 2,"
                "       GREATEST(size(split(trim(text), '\\\\s+')) - 1, 0)),"
                " (a, b) -> CONCAT(a, ' ', b))"
            )
        ).alias("pair")
    )
    counted = pairs.groupBy("pair").agg(F.count("*").alias("cnt"))
    return (
        counted.orderBy(F.col("cnt").desc(), F.col("pair").asc())
        .limit(20)
        .withColumn(
            "merge_rank",
            F.row_number().over(
                Window.orderBy(F.col("cnt").desc(), F.col("pair").asc())
            ),
        )
        .select("pair", "cnt", F.col("merge_rank").cast("long").alias("merge_rank"))
    )


# ===========================================================================
# x73 — temperature-balanced token-budget corpus mix
# ===========================================================================

# Per-source token budget B_s = floor(sqrt(T_s)) * 32 where T_s is the
# source's exact total whitespace-token count: the sqrt is the
# temperature-style rebalancing (big sources are downsampled
# super-linearly, small sources kept nearly whole — the multilingual
# sampling shape from public LM data recipes). SQRT is IEEE correctly
# rounded in both engines on an exact integer input → B_s is
# deterministic; 32 scales the budget so it genuinely prunes at every
# test SF. Docs fill the budget in deterministic Knuth-hash order
# (x67's no-RNG-state discipline; doc_id tiebreak pins collisions),
# and the first doc per source is always kept so no source is emptied.
from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.web import (
    CRAWL_RANK_SQL as _X73_HASH,  # ONE Knuth-hash definition (web.py) shared with x67
)
from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.text import (
    sql_token_count_duck as _TOKS_DUCK,  # ONE oracle rendering of token_count
)

_X73_BUDGET = "CAST(FLOOR(SQRT(CAST(total_toks AS DOUBLE)) * 32.0) AS BIGINT)"
_X73_WIN = f"(PARTITION BY source ORDER BY {_X73_HASH}, doc_id)"

_X73_ORACLE = rf"""
    WITH d AS (
        SELECT doc_id, source, {_TOKS_DUCK('text')} AS n_toks
        FROM documents
    ),
    s AS (
        SELECT source AS src, CAST(SUM(n_toks) AS BIGINT) AS total_toks
        FROM d GROUP BY source
    ),
    r AS (
        SELECT d.doc_id, d.source, d.n_toks, {_X73_BUDGET} AS budget_toks,
               ROW_NUMBER() OVER {_X73_WIN} AS rn,
               SUM(d.n_toks) OVER (PARTITION BY d.source
                                   ORDER BY {_X73_HASH}, doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW) AS cum_toks
        FROM d JOIN s ON d.source = s.src
    )
    SELECT source, doc_id, n_toks,
           CAST(cum_toks AS BIGINT) AS cum_toks, budget_toks
    FROM r
    WHERE cum_toks <= budget_toks OR rn = 1
"""


@register(
    "x73_token_budget_mix",
    _X73_ORACLE,
    doc="""Temperature-balanced corpus mixing by TOKEN budget: each
    source's sampling budget is floor(sqrt(total_tokens))·32 — the
    sqrt-temperature rebalancing of public LM data recipes — and docs
    fill it in deterministic hash order until the running token count
    crosses the budget (first doc per source always kept). x29/x47 mix
    by document FRACTIONS; x67 caps by row COUNT per host; this is the
    third axis a real pretraining mix needs: token-weighted budgets
    with sub-linear scaling across sources.

    Parity: token counts are exact integers, T_s an exact int64 sum,
    sqrt correctly rounded on exact input (pinned scalar), the running
    sum an exact int64 window accumulation, and the keep predicate
    pure integer comparison. Spark plan: one partial-agg shuffle for
    per-source totals (|sources| rows — broadcast back), one window
    shuffle on source for rank+cumsum in a single Window operator
    (same spec), filter narrow. At 100 TB the source key is
    hot-by-construction (few sources × many docs) — the mitigation is
    the budget itself at the consumer side plus sub-bucketing the
    cumsum by hash range if a single source's partition overflows
    (docs/SCALE.md hot-key row).""",
)
def x73_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.text import token_count

    d = (
        read_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            token_count(F.col("text")).cast("bigint").alias("n_toks"),
        )
        # d forks into the per-source totals AND the join back; the
        # checkpoint materializes the regex tokenization — the entry's
        # heaviest narrow stage — once instead of once per fork (the
        # q54/q66 rationale; the materialized rows carry no text)
        .localCheckpoint(eager=True)
    )
    s = d.groupBy("source").agg(F.sum("n_toks").alias("total_toks"))
    r = (
        d.join(F.broadcast(s), "source")
        .select(
            "doc_id",
            "source",
            "n_toks",
            F.expr(_X73_BUDGET).alias("budget_toks"),
            F.expr(f"ROW_NUMBER() OVER {_X73_WIN}").alias("rn"),
            F.expr(
                f"SUM(n_toks) OVER (PARTITION BY source"
                f" ORDER BY {_X73_HASH}, doc_id"
                f" ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            ).alias("cum_toks"),
        )
    )
    return r.filter(
        (F.col("cum_toks") <= F.col("budget_toks")) | (F.col("rn") == 1)
    ).select("source", "doc_id", "n_toks", "cum_toks", "budget_toks")


# ===========================================================================
# x75 — deterministic WEIGHTED systematic sampling (token-mass strata)
# ===========================================================================

# The third sampling axis: x44/x55 draw UNIFORM per-stratum samples and
# x73 fills a token BUDGET greedily; x75 draws docs with probability
# proportional to token mass — the "importance sampling by size" step
# a mixing pipeline uses when it wants k representative docs per source
# whose selection chance tracks their training-token contribution.
# Classic systematic (Madow) sampling made deterministic: order each
# source by the Knuth hash, walk the cumulative weight axis, and pick
# every doc whose cumsum crosses one of k equally-spaced thresholds.
# Pure integer arithmetic — the crossing test compares
# (cum*k) DIV total against ((cum-w)*k) DIV total, so there is no
# float step size, no RNG state, and division truncation agrees across
# engines (Spark DIV and DuckDB // both truncate toward zero;
# operands are non-negative here).
_X75_K = 8
# weight = n_toks + 1: strictly positive so every doc advances the
# cumulative axis and the walk cannot stall on empty docs
_X75_W_DUCK = f"{_TOKS_DUCK('text')} + 1"
_X75_CUM = f"""SUM(w_toks) OVER (PARTITION BY source
                                 ORDER BY {_X73_HASH}, doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW)"""
_X75_TOT = "SUM(w_toks) OVER (PARTITION BY source)"


def _x75_pick(div: str) -> str:
    k = _X75_K
    return (
        f"(cum_toks * {k}) {div} total_toks"
        f" > ((cum_toks - w_toks) * {k}) {div} total_toks"
    )


_X75_ORACLE = rf"""
    WITH d AS (
        SELECT doc_id, source, {_X75_W_DUCK} AS w_toks
        FROM documents
    ),
    c AS (
        SELECT doc_id, source, w_toks,
               CAST({_X75_CUM} AS BIGINT) AS cum_toks,
               CAST({_X75_TOT} AS BIGINT) AS total_toks
        FROM d
    )
    SELECT source, doc_id, w_toks, cum_toks,
           (cum_toks * {_X75_K}) // total_toks AS step_idx
    FROM c
    WHERE {_x75_pick('//')}
"""


@register(
    "x75_weighted_systematic_sample",
    _X75_ORACLE,
    doc="""Per-source weighted systematic sample: k=8 docs per source
    drawn with probability proportional to token mass, deterministic.
    Docs are laid on the cumulative-weight axis in Knuth-hash order
    (CRAWL_RANK_SQL — the same no-RNG-state discipline as x42/x55/x67)
    and a doc is selected iff its weight interval crosses one of the k
    equally-spaced thresholds — so large docs are proportionally more
    likely to be hit, at most k docs are drawn per source, and a doc
    heavier than total/k is always drawn (the PPS guarantee). The
    crossing test is exact int64: (cum·k) DIV total changes value
    within the doc's interval. Oracle runs the identical arithmetic
    with DuckDB's // (both engines truncate toward zero on the
    non-negative operands; window sums BIGINT-cast against the HUGEINT
    fetch-path class).

    Spark plan: ONE hash-shuffle on source feeding both window specs
    (running cumsum and per-source total share the partitioning), then
    a narrow integer filter — no join, no second shuffle. At 100 TB
    the source key is hot-by-construction (docs/SCALE.md row): the
    mitigation is that the window carries only (doc_id, source, w)
    longs — text never shuffles — plus hash-range sub-bucketing the
    cumsum if one source overflows a partition.""",
)
def x75_weighted_systematic_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.text import token_count

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        (token_count(F.col("text")).cast("bigint") + 1).alias("w_toks"),
    )
    c = d.select(
        "source",
        "doc_id",
        "w_toks",
        F.expr(_X75_CUM).alias("cum_toks"),
        F.expr(_X75_TOT).alias("total_toks"),
    )
    return c.filter(F.expr(_x75_pick("DIV"))).select(
        "source",
        "doc_id",
        "w_toks",
        "cum_toks",
        F.expr(f"(cum_toks * {_X75_K}) DIV total_toks").alias("step_idx"),
    )


# ===========================================================================
# x80 — iterative BPE merge training (K exact greedy rounds)
# (VERDICT r5 item 4: completes the tokenizer loop x71 opens — the
# pair COUNT was round one's entry; this runs the count→merge→recount
# loop itself, bit-exactly in both engines)
# ===========================================================================

_X80_ROUNDS = 3
_X80_TOP = 20


def _x80_round_ctes(r: int) -> str:
    """One unrolled merge round in portable SQL (the x46/x51 unrolled-
    loop pattern): adjacent-pair count → deterministic winner →
    greedy-non-overlap application via gaps-and-islands run parity."""
    return f"""
    nxt_{r} AS (
        SELECT doc_id, pos, tok,
               LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt,
               LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt_pos
        FROM seq_{r - 1}
    ),
    best_{r} AS (
        SELECT tok AS a, nxt AS b, COUNT(*) AS cnt
        FROM nxt_{r} WHERE nxt IS NOT NULL
        GROUP BY tok, nxt
        ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
    ),
    cand_{r} AS (
        SELECT n.doc_id, n.pos, n.nxt_pos
        FROM nxt_{r} n, best_{r} w
        WHERE n.tok = w.a AND n.nxt = w.b
    ),
    chain_{r} AS (
        SELECT doc_id, pos, nxt_pos,
               SUM(CASE WHEN lag_np IS NULL OR lag_np <> pos
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS chain
        FROM (SELECT doc_id, pos, nxt_pos,
                     LAG(nxt_pos) OVER (PARTITION BY doc_id ORDER BY pos)
                         AS lag_np
              FROM cand_{r})
    ),
    apply_{r} AS (
        SELECT doc_id, pos, nxt_pos
        FROM (SELECT doc_id, pos, nxt_pos,
                     ROW_NUMBER() OVER (PARTITION BY doc_id, chain
                                        ORDER BY pos) AS ci
              FROM chain_{r})
        WHERE ci % 2 = 1
    ),
    seq_{r} AS (
        SELECT s.doc_id, s.pos,
               CASE WHEN a.pos IS NOT NULL THEN w.a || ' ' || w.b
                    ELSE s.tok END AS tok
        FROM seq_{r - 1} s
        LEFT JOIN best_{r} w ON TRUE
        LEFT JOIN apply_{r} a
               ON a.doc_id = s.doc_id AND a.pos = s.pos
        LEFT JOIN apply_{r} c
               ON c.doc_id = s.doc_id AND c.nxt_pos = s.pos
        WHERE c.nxt_pos IS NULL
    )"""


def _x80_oracle() -> str:
    seq0 = r"""
    seq_0 AS (
        SELECT doc_id, t.s.pos AS pos, t.s.tok AS tok
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
              FROM documents),
             UNNEST([{'pos': i, 'tok': w[i]}
                     FOR i IN range(1, len(w) + 1)]) AS t(s)
    )"""
    rounds = ",".join(_x80_round_ctes(r) for r in range(1, _X80_ROUNDS + 1))
    merges = "\n    UNION ALL ".join(
        f"SELECT 'merge_{r}' AS stage, a || ' ' || b AS symbol,"
        f" CAST(cnt AS BIGINT) AS cnt, CAST({r} AS BIGINT) AS rank"
        f" FROM best_{r}"
        for r in range(1, _X80_ROUNDS + 1)
    )
    return f"""
    WITH {seq0},{rounds}
    SELECT stage, symbol, cnt, rank FROM (
        {merges}
        UNION ALL
        SELECT 'final_top' AS stage, symbol, cnt, rank FROM (
            SELECT tok AS symbol, CAST(COUNT(*) AS BIGINT) AS cnt,
                   CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok ASC)
                        AS BIGINT) AS rank
            FROM seq_{_X80_ROUNDS} GROUP BY tok
        ) WHERE rank <= {_X80_TOP}
    )
    """


@register(
    "x80_bpe_merges",
    _x80_oracle(),
    doc="""Iterative BPE merge training, K=3 exact greedy rounds
    (operators.text.bpe_merge_rounds): each round counts every adjacent
    symbol pair corpus-wide (multiplicity kept, x71 semantics), merges
    the (count DESC, pair ASC) winner greedily left-to-right
    NON-OVERLAPPING — for a==b runs the gaps-and-islands parity keeps
    every other site, exactly what a sequential trainer does — then
    recounts on the re-paired corpus. Output: the K winning merges
    with their pre-merge counts plus the final corpus's top-20 symbols
    — any divergence in any round anywhere changes the final counts,
    so the value hash pins the whole loop, not just round one. The
    max pair count is non-increasing across rounds (classic BPE
    monotonicity; pinned in tests).

    100 TB: per round one vocabulary-scale pair-count exchange +
    doc-partitioned windows that all reuse one partitioning; the 1-row
    winner broadcasts (q63 shape); per-round localCheckpoint keeps the
    unrolled lineage linear (x46/x51 discipline). Real trainers
    delta-update pair counts instead of recounting — an optimization
    with identical results, not a semantic fork.""",
)
def x80_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.text import (
        bpe_merge_rounds,
    )

    seq = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.col("text")), r"\s+")).alias("pos", "tok"),
    )
    final_seq, winners = bpe_merge_rounds(seq, _X80_ROUNDS)
    merged = None
    for r, wdf in enumerate(winners, start=1):
        row = wdf.selectExpr(
            f"'merge_{r}' AS stage",
            "CONCAT(a, ' ', b) AS symbol",
            "CAST(cnt AS BIGINT) AS cnt",
            f"CAST({r} AS BIGINT) AS rank",
        )
        merged = row if merged is None else merged.unionByName(row)
    final_top = (
        final_seq.groupBy(F.col("tok").alias("symbol"))
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("cnt").desc(), F.col("symbol").asc())
            ),
        )
        .filter(F.col("rank") <= _X80_TOP)
        .selectExpr(
            "'final_top' AS stage",
            "symbol",
            "CAST(cnt AS BIGINT) AS cnt",
            "CAST(rank AS BIGINT) AS rank",
        )
    )
    return merged.unionByName(final_top)


# ===========================================================================
# x81 — sequence packing (concat-and-chunk into fixed training windows)
# ===========================================================================

# The step downstream of x73's corpus mix: documents are concatenated
# in deterministic Knuth-hash order (x67/x73's no-RNG discipline, ONE
# hash definition — web.CRAWL_RANK_SQL) and split into fixed
# _X81_C-token training windows, documents crossing boundaries (the
# GPT-style concat-and-chunk pack; +1 token per doc models the EOS
# separator). Each (chunk, doc) membership row is pure integer
# arithmetic on the exclusive prefix sum: start = cumsum − n, chunk
# span = floor(start/C) .. floor((end−1)/C), per-chunk token counts by
# interval clipping — so the whole pack is value-hash checkable.
_X81_C = 512
# ONE Knuth-hash definition (web.py), shared with x67/x73/x75
from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.web import (  # noqa: E402
    CRAWL_RANK_SQL as _X81_HASH,
)

_X81_CUMWIN = f"(ORDER BY {_X81_HASH}, doc_id ROWS UNBOUNDED PRECEDING)"
_X81_C0 = f"CAST(FLOOR(CAST(st AS DOUBLE) / {_X81_C}.0) AS BIGINT)"
_X81_C1 = f"CAST(FLOOR(CAST(en - 1 AS DOUBLE) / {_X81_C}.0) AS BIGINT)"

_X81_ORACLE = rf"""
    WITH d AS (
        SELECT doc_id, {_TOKS_DUCK('text')} + 1 AS n_toks
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_toks,
               SUM(n_toks) OVER {_X81_CUMWIN} - n_toks AS st
        FROM d
    ),
    e AS (
        SELECT doc_id, n_toks, st, st + n_toks AS en,
               {_X81_C0} AS c0, {_X81_C1} AS c1
        FROM c
    )
    SELECT t.chunk_id AS chunk_id, doc_id,
           CAST(GREATEST(st - t.chunk_id * {_X81_C}, 0) AS BIGINT)
               AS offset_in_chunk,
           CAST(LEAST(en, (t.chunk_id + 1) * {_X81_C})
                - GREATEST(st, t.chunk_id * {_X81_C}) AS BIGINT)
               AS n_toks_in_chunk
    FROM e, UNNEST([i FOR i IN range(c0, c1 + 1)]) AS t(chunk_id)
"""


@register(
    "x81_sequence_packing",
    _X81_ORACLE,
    doc="""Sequence packing for LLM pretraining: concatenate the corpus
    in deterministic Knuth-hash order and split it into fixed
    512-token training windows, documents crossing chunk boundaries
    (concat-and-chunk — the standard pack; each doc carries +1 EOS).
    Output is the (chunk_id, doc_id) membership table with the doc's
    offset and clipped token count per chunk — Σ n_toks_in_chunk per
    chunk is exactly 512 for every interior chunk (pinned in tests),
    and the whole table is exact integer arithmetic on one exclusive
    prefix sum, so it value-hash checks.

    Scale shape: ONE global cumsum window (the x42/x73 caveat — an
    ORDER-BY-only window is a single partition; at 100 TB replace with
    the two-phase range-partition + per-partition cumsum + |partitions|
    -row offset broadcast that x42's global rank already implements),
    then a narrow explode whose fan-out is n_toks/C per doc. No joins,
    no Python.""",
)
def x81_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.text import (
        token_count,
    )

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        (token_count(F.col("text")).cast("bigint") + 1).alias("n_toks"),
    )
    c = d.select(
        "doc_id",
        "n_toks",
        (F.expr(f"SUM(n_toks) OVER {_X81_CUMWIN}") - F.col("n_toks")).alias("st"),
    )
    e = c.selectExpr(
        "doc_id", "n_toks", "st", "st + n_toks AS en",
        f"{_X81_C0} AS c0", f"{_X81_C1} AS c1",
    )
    return e.select(
        F.explode(F.sequence("c0", "c1")).alias("chunk_id"),
        "doc_id",
        "st",
        "en",
    ).selectExpr(
        "chunk_id",
        "doc_id",
        f"CAST(GREATEST(st - chunk_id * {_X81_C}, 0) AS BIGINT)"
        " AS offset_in_chunk",
        f"CAST(LEAST(en, (chunk_id + 1) * {_X81_C})"
        f" - GREATEST(st, chunk_id * {_X81_C}) AS BIGINT)"
        " AS n_toks_in_chunk",
    )


# ===========================================================================
# x82 — repetition filters (Gopher/MassiveText-style quality signals)
# ===========================================================================

# Per document: duplicate-token %, duplicate-trigram % (how much of the
# doc is self-repetition) and the top bigram's share — the repetition
# family of quality filters from public LM corpus recipes, beside the
# length/punct/stopword features of x07/x08. All three reduce to the
# same shape: explode (kind, gram) with multiplicity → per-(doc, kind,
# gram) counts → per-(doc, kind) totals/distincts/max → conditional-agg
# pivot back to one row per doc. Integer HALF_UP percents; docs too
# short for a gram kind score 0 (COALESCE, not NULL — a 2-token doc
# has no trigram repetition).
_X82_PCT_DUP = "FLOOR(100.0 * (tot - dst) / tot + 0.5)"
_X82_PCT_TOP = "FLOOR(100.0 * mxc / tot + 0.5)"
_X82_KEEP = (
    "CASE WHEN dup_token_pct <= 70 AND dup_trigram_pct <= 30"
    " AND top_bigram_pct <= 20 THEN 1 ELSE 0 END"
)

_X82_ORACLE = rf"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        FROM documents
    ),
    grams AS (
        SELECT doc_id, 1 AS kind, unnest(w) AS gram FROM toks
        UNION ALL
        SELECT doc_id, 2 AS kind,
               unnest([w[i] || ' ' || w[i + 1]
                       FOR i IN range(1, GREATEST(len(w) - 1, 0) + 1)]) AS gram
        FROM toks
        UNION ALL
        SELECT doc_id, 3 AS kind,
               unnest([w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]
                       FOR i IN range(1, GREATEST(len(w) - 2, 0) + 1)]) AS gram
        FROM toks
    ),
    gc AS (
        SELECT doc_id, kind, gram, COUNT(*) AS c
        FROM grams GROUP BY doc_id, kind, gram
    ),
    pk AS (
        SELECT doc_id, kind,
               CAST(SUM(c) AS BIGINT) AS tot,
               COUNT(*) AS dst,
               CAST(MAX(c) AS BIGINT) AS mxc
        FROM gc GROUP BY doc_id, kind
    ),
    piv AS (
        SELECT doc_id,
               CAST(COALESCE(MAX(CASE WHEN kind = 1
                    THEN {_X82_PCT_DUP} END), 0) AS BIGINT) AS dup_token_pct,
               CAST(COALESCE(MAX(CASE WHEN kind = 3
                    THEN {_X82_PCT_DUP} END), 0) AS BIGINT) AS dup_trigram_pct,
               CAST(COALESCE(MAX(CASE WHEN kind = 2
                    THEN {_X82_PCT_TOP} END), 0) AS BIGINT) AS top_bigram_pct
        FROM pk GROUP BY doc_id
    )
    SELECT doc_id, dup_token_pct, dup_trigram_pct, top_bigram_pct,
           CAST({_X82_KEEP} AS INT) AS keep
    FROM piv
"""


@register(
    "x82_repetition_filters",
    _X82_ORACLE,
    doc="""Repetition quality filters (the Gopher/MassiveText family):
    per-document duplicate-token and duplicate-trigram percentages and
    the top bigram's share of all bigrams, plus the keep/drop gate at
    the public-recipe thresholds (≤70% dup tokens, ≤30% dup trigrams,
    ≤20% top-bigram share). Multiplicity-keeping grams via the x71
    shifted-slice zip_with walk (one codegen pass per kind, no
    per-index element_at); one exploded (kind, gram) stream feeds a
    two-level hash aggregate and a conditional-agg pivot back to one
    row per doc. Short docs score 0 for absent gram kinds (COALESCE).

    100 TB: the per-(doc, kind, gram) aggregate partial-collapses
    map-side (grams repeat within a doc by construction — that IS the
    signal), both aggregates share the doc_id-prefixed key, and
    nothing is corpus-global: embarrassingly parallel per doc.""",
)
def x82_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = "split(trim(text), '\\\\s+')"
    n1 = f"GREATEST(size({toks}) - 1, 0)"
    n2 = f"GREATEST(size({toks}) - 2, 0)"
    bigrams = (
        f"zip_with(slice({toks}, 1, {n1}), slice({toks}, 2, {n1}),"
        " (a, b) -> CONCAT(a, ' ', b))"
    )
    trigrams = (
        f"zip_with(zip_with(slice({toks}, 1, {n2}), slice({toks}, 2, {n2}),"
        " (a, b) -> CONCAT(a, ' ', b)),"
        f" slice({toks}, 3, {n2}),"
        " (ab, c) -> CONCAT(ab, ' ', c))"
    )
    docs = read_table(spark, sf_dir, "documents")
    grams = None
    for kind, expr in ((1, toks), (2, bigrams), (3, trigrams)):
        part = docs.selectExpr(
            "doc_id", f"{kind} AS kind", f"explode({expr}) AS gram"
        )
        grams = part if grams is None else grams.unionByName(part)
    pk = (
        grams.groupBy("doc_id", "kind", "gram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id", "kind")
        .agg(
            F.expr("CAST(SUM(c) AS BIGINT)").alias("tot"),
            F.count("*").alias("dst"),
            F.expr("CAST(MAX(c) AS BIGINT)").alias("mxc"),
        )
    )
    piv = pk.groupBy("doc_id").agg(
        F.expr(
            f"CAST(COALESCE(MAX(CASE WHEN kind = 1 THEN {_X82_PCT_DUP} END), 0)"
            " AS BIGINT)"
        ).alias("dup_token_pct"),
        F.expr(
            f"CAST(COALESCE(MAX(CASE WHEN kind = 3 THEN {_X82_PCT_DUP} END), 0)"
            " AS BIGINT)"
        ).alias("dup_trigram_pct"),
        F.expr(
            f"CAST(COALESCE(MAX(CASE WHEN kind = 2 THEN {_X82_PCT_TOP} END), 0)"
            " AS BIGINT)"
        ).alias("top_bigram_pct"),
    )
    return piv.selectExpr(
        "doc_id",
        "dup_token_pct",
        "dup_trigram_pct",
        "top_bigram_pct",
        f"CAST({_X82_KEEP} AS INT) AS keep",
    )


# ===========================================================================
# x89 — vocabulary growth curve (Heaps'-law checkpoints)
# ===========================================================================

# Corpus-diversity measurement: walk the corpus in deterministic
# doc_id order, split it into four equal-count quartiles, and report
# per quartile the token occurrences, the NEW vocabulary first seen
# there, and the cumulative vocabulary — the four-point Heaps'-law
# curve. A healthy diverse corpus keeps minting vocabulary in Q4; a
# templated/duplicated one flatlines — the corpus-level signal beside
# x33's per-doc lengths and x36's source overlap.
_X89_Q = "CAST(FLOOR((rnk - 1) * 4.0 / n) AS INT) + 1"

_X89_ORACLE = rf"""
    WITH d AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        FROM documents
    ),
    r AS (
        SELECT w,
               ROW_NUMBER() OVER (ORDER BY doc_id) AS rnk,
               COUNT(*) OVER () AS n
        FROM d
    ),
    tq AS (SELECT {_X89_Q} AS quartile, unnest(w) AS tok FROM r),
    occ AS (
        SELECT quartile, COUNT(*) AS n_occurrences
        FROM tq GROUP BY quartile
    ),
    fq AS (SELECT tok, MIN(quartile) AS first_q FROM tq GROUP BY tok),
    nw AS (
        SELECT first_q AS quartile, COUNT(*) AS n_new_tokens
        FROM fq GROUP BY first_q
    )
    SELECT o.quartile,
           CAST(o.n_occurrences AS BIGINT) AS n_occurrences,
           CAST(COALESCE(w.n_new_tokens, 0) AS BIGINT) AS n_new_tokens,
           CAST(SUM(COALESCE(w.n_new_tokens, 0))
                OVER (ORDER BY o.quartile) AS BIGINT) AS n_cum_tokens
    FROM occ o LEFT JOIN nw w ON o.quartile = w.quartile
"""


@register(
    "x89_vocab_growth",
    _X89_ORACLE,
    doc="""Vocabulary growth (Heaps'-law) curve: the corpus in
    deterministic doc_id order, cut into four equal-count quartiles;
    per quartile the token occurrences, newly minted vocabulary, and
    cumulative vocabulary. The diversity diagnostic a corpus team
    reads next to the dedup rates — new-token flatline means the
    tail of the corpus is re-treading the head.

    Plan: the doc rank comes from operators/shuffle.global_rank (range
    exchange + per-partition row_number + offset broadcast — NEVER the
    single-partition ORDER-BY window the oracle can afford at sf), the
    corpus count rides a 1-row broadcast crossJoin, and the token
    stream collapses ONCE into (quartile, token) counts (map-side:
    hot tokens collapse per partition before the exchange) from which
    both the occurrence totals and the first-appearance minima derive
    — the corpus-scale explode runs exactly once, checkpointed at
    vocab×4 scale. The final cumsum window runs over exactly 4 rows.
    At 100 TB the only corpus-scale exchanges are the range partition
    and the one token aggregate — both minimal for the semantics.""",
)
def x89_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.shuffle import global_rank

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    ranked = global_rank(docs, ["doc_id"], rank_col="rnk")
    tot = docs.agg(F.count("*").alias("n"))
    tq = (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            F.expr(_X89_Q).alias("quartile"),
            F.explode(F.expr(r"split(trim(text), '\\s+')")).alias("tok"),
        )
    )
    # collapse the token stream ONCE to (quartile, tok) counts —
    # vocab×4-scale — and derive both consumers from it; feeding occ
    # and fq from tq directly would run the corpus-scale tokenize +
    # explode twice (and checkpointing tq would materialize every
    # token occurrence instead of the collapsed counts)
    c = (
        tq.groupBy("quartile", "tok")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    occ = c.groupBy("quartile").agg(
        F.expr("CAST(SUM(cnt) AS BIGINT)").alias("n_occurrences")
    )
    fq = c.groupBy("tok").agg(F.min("quartile").alias("first_q"))
    nw = fq.groupBy("first_q").agg(F.count("*").alias("n_new_tokens"))
    joined = occ.join(
        nw.withColumnRenamed("first_q", "quartile"), "quartile", "left"
    )
    return joined.select(
        "quartile",
        F.col("n_occurrences").cast("long").alias("n_occurrences"),
        F.expr("CAST(COALESCE(n_new_tokens, 0) AS BIGINT)").alias(
            "n_new_tokens"
        ),
        F.expr(
            "CAST(SUM(COALESCE(n_new_tokens, 0))"
            " OVER (ORDER BY quartile) AS BIGINT)"
        ).alias("n_cum_tokens"),
    )


# ===========================================================================
# x91 — span corruption (T5-style denoising pair generation)
# ===========================================================================

# The transform step that turns curated text into (input, target)
# training pairs for span-corruption denoising objectives: ~15% of
# tokens masked in length-3 spans, each span replaced by a sentinel in
# the input and emitted after its sentinel in the target. The RNG of
# the published recipe is replaced by a deterministic position rule —
# a span starts at every token position ≡ 7 (mod 20) (3/20 = 15%
# corruption, spans can never overlap by construction) — which is
# what makes the pairs reproducible across runs/engines and the entry
# fully value-hash-checkable.
_X91_IN_SPAN = "(pos >= 7 AND (pos - 7) % 20 <= 2)"
_X91_START = "(pos >= 7 AND (pos - 7) % 20 = 0)"
_X91_K = "CAST(FLOOR((pos - 7) / 20.0) AS BIGINT)"
_X91_SENT = f"'<extra_id_' || CAST({_X91_K} AS STRING) || '>'"
_X91_IN_PIECE = (
    f"CASE WHEN NOT {_X91_IN_SPAN} THEN tok"
    f" WHEN {_X91_START} THEN {_X91_SENT} END"
)
_X91_TGT_PIECE = (
    f"CASE WHEN {_X91_START} THEN {_X91_SENT} || ' ' || tok"
    f" WHEN {_X91_IN_SPAN} THEN tok END"
)

_X91_ORACLE = rf"""
    WITH tk AS (
        SELECT doc_id,
               t.tok,
               CAST(t.pos AS BIGINT) AS pos
        FROM (SELECT doc_id,
                     regexp_split_to_array(trim(text), '\s+') AS w
              FROM documents),
             UNNEST([{{'pos': i, 'tok': w[i]}}
                     FOR i IN range(1, len(w) + 1)]) AS u(t)
    ),
    p AS (
        SELECT doc_id, pos, tok,
               {_X91_IN_PIECE} AS in_piece,
               {_X91_TGT_PIECE} AS tgt_piece,
               CASE WHEN {_X91_IN_SPAN} THEN {_X91_K} END AS k
        FROM tk
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           CAST(COUNT(DISTINCT k) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_corrupted,
           COALESCE(string_agg(in_piece, ' ' ORDER BY pos), '')
               AS input_text,
           COALESCE(string_agg(tgt_piece, ' ' ORDER BY pos), '')
               AS target_text
    FROM p
    GROUP BY doc_id
"""


@register(
    "x91_span_corruption",
    _X91_ORACLE,
    doc="""Span-corruption pair generation (the T5 denoising recipe,
    deterministic): length-3 spans at every token position ≡ 7
    (mod 20) — 15% corruption, never overlapping — each replaced by a
    numbered sentinel in the input and emitted after its sentinel in
    the target. The step between the curation tiers (dedup, mix,
    packing) and the dataloader; the hash-based position rule replaces
    the recipe's RNG so every pair is reproducible across engines,
    runs, and re-partitioning. Fully value-hash-checked including the
    generated strings.

    Plan: posexplode → one narrow piece classification (pure codegen
    CASE arithmetic) → ONE per-doc aggregate whose ordered
    reassembly is array_sort(collect_list(struct(pos, piece))) —
    embarrassingly parallel per doc, the exchange carries (doc, pos,
    two pieces), and nothing is corpus-global. At 100 TB this runs as
    the map stage of the dataloader export, same shape as x81's
    packing.""",
)
def x91_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    tk = docs.select(
        "doc_id",
        F.posexplode(F.expr(r"split(trim(text), '\\s+')")).alias("p0", "tok"),
    ).select(
        "doc_id", F.expr("CAST(p0 + 1 AS BIGINT)").alias("pos"), "tok"
    )
    p = tk.select(
        "doc_id",
        "pos",
        F.expr(_X91_IN_PIECE).alias("in_piece"),
        F.expr(_X91_TGT_PIECE).alias("tgt_piece"),
        F.expr(f"CASE WHEN {_X91_IN_SPAN} THEN {_X91_K} END").alias("k"),
    )

    def _joined(piece: str) -> str:
        return (
            "COALESCE(array_join(transform(array_sort(collect_list("
            f"CASE WHEN {piece} IS NOT NULL THEN struct(pos, {piece} AS pc)"
            " END)), s -> s.pc), ' '), '')"
        )

    return p.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.expr("CAST(COUNT(DISTINCT k) AS BIGINT)").alias("n_spans"),
        F.expr(
            "CAST(SUM(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_corrupted"),
        F.expr(_joined("in_piece")).alias("input_text"),
        F.expr(_joined("tgt_piece")).alias("target_text"),
    )


# ===========================================================================
# x93 — corpus drift detection (chi-square per source vs corpus)
# ===========================================================================

# The distribution-drift monitor a corpus pipeline runs on every
# refresh: does any source's document-length distribution diverge
# from the corpus's? Pearson chi-square over x33's fixed 50-char
# buckets: observed o_sb vs expected e_sb = n_s·n_b/N, statistic
# Σ(o−e)²/e per source. Chi-square (not PSI/KL) deliberately: the
# statistic is RATIONAL in the counts, so one pinned double chain is
# engine-deterministic — ln() has no cross-engine rounding guarantee.
# All inputs are exact integers < 2^53 (cast to double exactly); the
# only rounding is the shared 6 dp finish.
_X93_TERM = (
    "(CAST(o AS DOUBLE) - CAST(n_s AS DOUBLE) * CAST(n_b AS DOUBLE)"
    " / CAST(nn AS DOUBLE))"
)
_X93_CHI2 = (
    f"FLOOR(SUM({_X93_TERM} * {_X93_TERM}"
    " / (CAST(n_s AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(nn AS DOUBLE)))"
    " * 1000000.0 + 0.5) / 1000000.0"
)

_X93_ORACLE = f"""
    WITH b AS (
        SELECT source,
               LEAST(CAST(FLOOR(n_chars / 50) AS BIGINT), 9) AS bucket
        FROM documents
    ),
    o AS (SELECT source, bucket, COUNT(*) AS o
          FROM b GROUP BY source, bucket),
    s AS (SELECT source, CAST(SUM(o) AS BIGINT) AS n_s
          FROM o GROUP BY source),
    k AS (SELECT bucket, CAST(SUM(o) AS BIGINT) AS n_b
          FROM o GROUP BY bucket),
    n AS (SELECT CAST(SUM(o) AS BIGINT) AS nn FROM o),
    g AS (
        SELECT s.source, s.n_s, k.bucket, k.n_b, n.nn,
               COALESCE(o.o, 0) AS o
        FROM s CROSS JOIN k CROSS JOIN n
        LEFT JOIN o ON o.source = s.source AND o.bucket = k.bucket
    )
    SELECT source,
           CAST(COUNT(*) - 1 AS BIGINT) AS dof,
           CAST(MAX(n_s) AS BIGINT) AS n_docs,
           CAST({_X93_CHI2} AS DOUBLE) AS chi2
    FROM g
    GROUP BY source
"""


@register(
    "x93_source_drift_chi2",
    _X93_ORACLE,
    doc="""Corpus drift monitor: per source, the Pearson chi-square of
    its document-length distribution against the whole corpus's
    (x33's fixed 50-char buckets; expected counts n_s·n_b/N, zero
    cells included — a source missing a bucket the corpus has IS
    drift evidence). Chi-square instead of PSI/KL deliberately: the
    statistic is rational in the counts, so the pinned shared double
    chain is engine-deterministic where ln() would not be. The
    refresh-over-refresh version is this same query with the corpus
    margin replaced by the previous snapshot's histogram.

    Plan: one (source, bucket) count (map-side collapse, ≤
    |sources|·10 rows out), the three margins derived from THAT
    aggregate (never the corpus again), a |sources|×10 dense grid via
    two bounded cross joins, one final per-source fold. The corpus is
    scanned exactly once at any scale.""",
)
def x93_source_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select(
        "source",
        F.expr(
            "LEAST(CAST(FLOOR(n_chars / 50) AS BIGINT), 9)"
        ).alias("bucket"),
    )
    o = docs.groupBy("source", "bucket").agg(F.count("*").alias("o"))
    o = o.localCheckpoint(eager=True)  # three margin consumers below
    s = o.groupBy("source").agg(
        F.expr("CAST(SUM(o) AS BIGINT)").alias("n_s")
    )
    k = o.groupBy("bucket").agg(
        F.expr("CAST(SUM(o) AS BIGINT)").alias("n_b")
    )
    n = o.agg(F.expr("CAST(SUM(o) AS BIGINT)").alias("nn"))
    g = (
        s.crossJoin(F.broadcast(k))
        .crossJoin(F.broadcast(n))
        .join(o, ["source", "bucket"], "left")
        .select(
            "source",
            "n_s",
            "bucket",
            "n_b",
            "nn",
            F.expr("COALESCE(o, 0)").alias("o"),
        )
    )
    return g.groupBy("source").agg(
        F.expr("CAST(COUNT(*) - 1 AS BIGINT)").alias("dof"),
        F.expr("CAST(MAX(n_s) AS BIGINT)").alias("n_docs"),
        F.expr(f"CAST({_X93_CHI2} AS DOUBLE)").alias("chi2"),
    )


# ===========================================================================
# x94 — semantic dedup (SemDeDup-shape: cluster, then prune within-cluster
# cosine near-dups keeping the min-id representative)
# ===========================================================================

from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.clustering import (  # noqa: E402
    semdedup,
    semdedup_oracle_sql,
)


@register(
    "x94_semantic_dedup",
    semdedup_oracle_sql("embeddings", threshold=0.40),
    doc="""Semantic deduplication (operators/clustering.semdedup;
    SemDeDup, Abbas et al. 2023): x51's deterministic integer-micro
    k-means clusters the embedding corpus, then within each cluster
    every vector whose pinned 6dp cosine to a LOWER-id cluster-mate
    reaches 0.40 is dropped — keep-first greedy, the min id as the
    x69-style canonical representative. The dedup tier the lexical
    ladder (x01 exact / x03 SimHash / x04 MinHash-LSH) cannot provide:
    a paraphrase shares no shingles but its embedding is nearly
    parallel (tests/test_round7_ops.py exhibits exactly such a pair
    that all three lexical tiers miss and this entry removes).

    Output: one row per vector — (vec_id, cell, keep, max_lower_sim);
    29 of 500 dropped at sf0.01, so the gate is non-vacuous. Oracle:
    the x51 unrolled k-means CTEs + the cell-blocked lower-id pair
    join with the shared cosine text — every stage value-hash checked.

    Scale: the cluster blocks bound the quadratic (Σ|cell|² pairs; k
    grows with the corpus so |cell| stays ~constant — the paper's
    k=11k at 100M docs), the cosine kernel is codegen (precomputed
    norms + unrolled dot), and the only corpus-scale exchanges are the
    k-means assignment aggregate and one cell-keyed pair shuffle.""",
)
def x94_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return semdedup(emb, threshold=0.40)


# ===========================================================================
# x95 — learned linear quality classifier (hashed-feature scoring path)
# ===========================================================================

# The weight vector a trained linear model (fastText / logistic
# regression over hashed bag-of-words, the standard production corpus
# filter beyond heuristics) would ship: 256 hashed-token buckets, one
# integer weight each. Stand-in "training": a fixed Knuth-hash ramp —
# deterministic, full-range, and (what the pipeline cares about)
# structurally identical to loading real learned weights; swap the
# literal list for the model's quantized weights and nothing else
# changes. Integer-quantized (milli-units) so the dot product is exact
# on any engine — the float weights of a real model quantize the same
# way (x39's int8 audit prices that step).
_X95_D = 256
_X95_W = [((b * 2654435761 + 97) % 2001) - 1000 for b in range(_X95_D)]
_X95_W_SQL = "array(" + ",".join(str(w) for w in _X95_W) + ")"
_X95_W_DUCK = "[" + ",".join(str(w) for w in _X95_W) + "]"

# score = Σ_tokens W[md5-bucket(token)] — ONE fold per document (an
# interpreted HOF, but a single per-row fold over the token array; the
# x03 failure mode was 64 folds/row in a pair kernel). The codegen
# alternative (explode + two-level aggregate) costs a corpus-scale
# (doc, partial) exchange; here the only exchange is the |sources|-row
# final aggregate, which is the better trade for a scoring gate that
# reads every document once.
_X95_SCORE_SPARK = (
    "aggregate(split(trim(text), '\\\\s+'), CAST(0 AS BIGINT), (acc, t) -> "
    f"acc + element_at({_X95_W_SQL}, "
    "CAST(pmod(CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT), "
    f"{_X95_D}) AS INT) + 1))"
)

_X95_ORACLE = f"""
    WITH scored AS (
        SELECT source,
               list_sum([({_X95_W_DUCK})[
                   CAST(('0x' || substr(md5(t), 1, 8))::UBIGINT
                        % {_X95_D} AS INT) + 1]
                   FOR t IN regexp_split_to_array(trim(text), '\\s+')])
                   AS score
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN score >= 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_keep,
           CAST((1000000 * SUM(CASE WHEN score >= 0 THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS keep_rate_ppm
    FROM scored
    GROUP BY source
"""


@register(
    "x95_quality_classifier",
    _X95_ORACLE,
    doc="""Learned linear quality classifier — the scoring path of the
    standard production corpus filter beyond heuristics (x06) and
    corpus statistics (x41/x82): each document's tokens hash into 256
    feature buckets (the portable md5 idiom), a broadcast
    integer-quantized weight vector scores them as ONE dot-product
    fold, and a division-free threshold gates keep/drop; output is the
    per-source keep-rate audit (n_docs, n_keep, keep_rate_ppm). The
    weight literal stands in for a trained model's quantized weights —
    swap the list, nothing else changes.

    Plan shape (pinned): scan → one narrow projection (the fold) → one
    |sources|-row aggregate — no UDF, no explode, no corpus-scale
    exchange. At 100 TB the score is embarrassingly parallel per row
    and the only shuffle carries |sources| partial rows.""",
)
def x95_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select(
        "source", F.expr(_X95_SCORE_SPARK).alias("score")
    )
    return (
        docs.groupBy("source")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"),
            F.expr(
                "CAST(SUM(CASE WHEN score >= 0 THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_keep"),
        )
        .select(
            "source",
            "n_docs",
            "n_keep",
            F.expr("CAST((1000000 * n_keep) div n_docs AS BIGINT)").alias(
                "keep_rate_ppm"
            ),
        )
    )


# ===========================================================================
# x96 — semantic decontamination (embedding-space eval-set leakage screen)
# ===========================================================================

from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.similarity import (  # noqa: E402
    duckdb_cosine_sql as _ddb_cos,
    _pairwise_sim,
)

_X96_THR = 0.35

_X96_ORACLE = f"""
    WITH ev AS (
        SELECT vec_id AS eid, embedding FROM embeddings WHERE vec_id % 101 = 0
    ),
    tr AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 101 <> 0
    ),
    sims AS (
        SELECT c.vec_id, MAX({_ddb_cos('c.embedding', 'e.embedding')}) AS max_eval_sim
        FROM tr c CROSS JOIN ev e
        GROUP BY c.vec_id
    )
    SELECT vec_id, max_eval_sim,
           (max_eval_sim >= {_X96_THR}) AS contaminated
    FROM sims
"""


@register(
    "x96_semantic_decontamination",
    _X96_ORACLE,
    doc="""Semantic decontamination — the embedding-space twin of x30's
    lexical doc-drop and x53's span splice: flag every TRAINING vector
    whose pinned 6dp cosine to ANY held-out eval vector (the
    deterministic vec_id % 101 = 0 subset stands in for the benchmark
    embeddings) reaches 0.35. Lexical 5-gram decontamination misses a
    PARAPHRASED benchmark item — no shared shingles — but its embedding
    stays nearly parallel, the same blind spot x94 closes for dedup,
    here closed for eval leakage (9 of 500 flagged at sf0.01 —
    non-vacuous).

    Output: one row per training vector (vec_id, max_eval_sim,
    contaminated). Scale: the eval side is benchmark-sized and
    BROADCAST (the x30 discipline — never shuffle the corpus by
    candidate key); per training vector the work is |eval| codegen'd
    dot products (precomputed norms, unrolled dot) feeding one
    corpus-keyed max aggregate — one exchange total. For benchmark
    suites too large to broadcast whole, the shard-and-OR fallback is
    SHIPPED: semantic_decontaminate(max_broadcast_rows=...) splits the
    eval side into k deterministic broadcast shards and unions the
    per-shard maxes — bit-identical (max is associative), pinned by a
    ≥2-shard equality test.""",
)
def x96_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semantic_decontaminate(spark, sf_dir)


def semantic_decontaminate(
    spark: SparkSession,
    sf_dir: str,
    max_broadcast_rows: int | None = None,
) -> DataFrame:
    """x96's implementation, with the documented shard-and-OR fallback
    shipped as a parameter (VERDICT r7 item 7).

    ``max_broadcast_rows=None`` (the default and the registered entry):
    the whole eval side broadcasts — the x30 discipline, correct while
    the benchmark fits one broadcast. When a benchmark suite outgrows
    that, pass the largest eval row count one broadcast may carry: the
    eval side splits into ``k = ceil(|eval| / max_broadcast_rows)``
    deterministic shards (``vec_id % k``), each shard broadcasts
    separately against the training corpus, and the per-shard maxes
    union into one corpus-keyed MAX — bit-identical to the single
    broadcast because max is associative over any partition of the
    eval set (pinned in tests/test_round8_ops.py). Cost model: k
    corpus passes, each against a broadcast-sized shard — pick
    max_broadcast_rows as large as executor memory allows. The |eval|
    count needed for k is ONE driver action over the BENCHMARK-sized
    side only, never the corpus."""
    import math

    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ev_full = emb.filter(F.pmod(F.col("vec_id"), F.lit(101)) == 0)
    tr_base = emb.filter(F.pmod(F.col("vec_id"), F.lit(101)) != 0).select(
        "vec_id", F.col("embedding").alias("__cvec")
    )

    def shard_sims(ev_frame: DataFrame) -> DataFrame:
        ev, tr, sim = _pairwise_sim(
            ev_frame.select(F.col("embedding").alias("__qvec")), tr_base, 64
        )
        return tr.crossJoin(F.broadcast(ev)).select(
            "vec_id", sim.alias("__sim")
        )

    if max_broadcast_rows is None:
        sims = shard_sims(ev_full)
    else:
        k = max(1, math.ceil(ev_full.count() / max_broadcast_rows))
        sims = shard_sims(
            ev_full.filter(F.pmod(F.col("vec_id"), F.lit(k)) == 0)
        )
        for i in range(1, k):
            sims = sims.unionByName(
                shard_sims(
                    ev_full.filter(F.pmod(F.col("vec_id"), F.lit(k)) == i)
                )
            )
    return (
        sims.groupBy("vec_id")
        .agg(F.max("__sim").alias("max_eval_sim"))
        .select(
            "vec_id",
            "max_eval_sim",
            (F.col("max_eval_sim") >= F.lit(_X96_THR)).alias("contaminated"),
        )
    )


# ===========================================================================
# x97 — substring-duplication profile (the Lee et al. dedup diagnostic)
# ===========================================================================

_X97_ORACLE = r"""
    WITH sh AS (
        SELECT DISTINCT doc_id, md5(unnest(shingles)) AS h
        FROM (SELECT doc_id,
                     list_distinct([array_to_string(w[i:i+7], ' ')
                                    FOR i IN range(1, GREATEST(len(w)-8+1, 1) + 1)])
                         AS shingles
              FROM (SELECT doc_id,
                           regexp_split_to_array(trim(text), '\s+') AS w
                    FROM documents))
    ),
    cnt AS (SELECT h, COUNT(*) AS nd FROM sh GROUP BY h)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_grams,
           CAST((1000000 * SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS dup_ppm
    FROM sh JOIN cnt USING (h)
    GROUP BY doc_id
"""


@register(
    "x97_substring_dup_profile",
    _X97_ORACLE,
    doc="""Substring-duplication profile (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): per document, the
    share of its distinct 8-gram shingles that occur in AT LEAST ONE
    OTHER document — the inter-document memorization diagnostic that
    sits between whole-doc dedup (x01/x03/x04 say "is this doc a
    dup?") and span decontamination (x53 says "cut this span"): it
    says HOW MUCH of each surviving doc is boilerplate/quotation mass,
    the signal substring-level dedup systems act on. ~9% of 8-grams
    duplicate at sf0.01 — non-vacuous.

    Scale: the corpus shuffles ONCE keyed by the 16-byte md5 of the
    shingle (the x01 hash-not-text discipline — the exchange never
    carries gram text), the per-gram doc count collapses map-side, and
    the join back to per-doc rows reuses the same hash key. Gram
    generation is the codegen zip_with ladder (word_shingles — no
    interpreted per-index slices).""",
)
def x97_substring_dup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.dedup import (
        fan_out,
        word_shingles,
    )

    docs = fan_out(
        read_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    sh = docs.select(
        "doc_id", F.explode(word_shingles(F.col("text"), 8)).alias("__g")
    ).select("doc_id", F.md5("__g").alias("h"))
    cnt = sh.groupBy("h").agg(F.count("*").alias("nd"))
    return (
        sh.join(cnt, "h")
        .groupBy("doc_id")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_grams"),
            F.expr(
                "CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_dup_grams"),
            F.expr(
                "CAST((1000000 * SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END))"
                " div COUNT(*) AS BIGINT)"
            ).alias("dup_ppm"),
        )
    )


# ===========================================================================
# x99 — asymmetric shingle containment (subset-duplicate detection)
# ===========================================================================

_X99_CAP = 50  # hot-shingle bucket cap — the x02/x78 discipline
_X99_THR_PPM = 500_000

_X99_ORACLE = rf"""
    WITH sh AS (
        SELECT DISTINCT doc_id, md5(unnest(shingles)) AS h
        FROM (SELECT doc_id,
                     list_distinct([array_to_string(w[i:i+4], ' ')
                                    FOR i IN range(1, GREATEST(len(w)-5+1, 1) + 1)])
                         AS shingles
              FROM (SELECT doc_id,
                           regexp_split_to_array(trim(text), '\s+') AS w
                    FROM documents))
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    hb AS (SELECT h, COUNT(*) AS nb FROM sh GROUP BY h),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM sh a
        JOIN hb ON a.h = hb.h AND hb.nb <= {_X99_CAP}
        JOIN sh b ON a.h = b.h AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, n_common,
           CAST((1000000 * n_common) // sa.n AS BIGINT) AS containment_a_ppm
    FROM pairs JOIN sizes sa ON sa.doc_id = doc_a
    WHERE (1000000 * n_common) // sa.n >= {_X99_THR_PPM}
"""


@register(
    "x99_shingle_containment",
    _X99_ORACLE,
    doc="""Asymmetric shingle containment — subset-duplicate detection:
    directed pairs (a, b) where at least half of document a's distinct
    5-gram shingles also occur in b (containment = |A∩B| / |A|). The
    duplication relation Jaccard structurally under-scores: a short
    document quoted whole inside a long one has tiny Jaccard (the
    union is dominated by b) but containment ≈ 1 — the
    quote-expansion / page-within-rollup case the symmetric tiers
    (x02/x03/x04) rank at the bottom. Broder's containment sketch is
    the classic scale form; this is its exact ground truth. 50 of 74
    candidate pairs pass at sf0.01 — non-vacuous, and directed (a⊂b
    does not imply b⊂a).

    Scale: the inverted-index join (x02's economics) keyed by the
    16-byte gram md5, with an IMPLEMENTED hot-shingle bucket cap
    (nb ≤ 50, both engines' texts — stop-phrase grams never generate
    candidates); per-doc sizes join back |docs|-sized; the containment
    gate is exact integer ppm, no float division.""",
)
def x99_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.dedup import (
        fan_out,
        word_shingles,
    )

    docs = fan_out(
        read_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    sh = docs.select(
        "doc_id", F.explode(word_shingles(F.col("text"), 5)).alias("__g")
    ).select("doc_id", F.md5("__g").alias("h"))
    sh = sh.localCheckpoint(eager=True)  # three consumers below
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    hb = sh.groupBy("h").agg(F.count("*").alias("nb")).filter(
        F.col("nb") <= _X99_CAP
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), "h").join(hb.select("h"), "h")
    b = sh.select(F.col("doc_id").alias("doc_b"), "h")
    pairs = (
        a.join(b, "h")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_common"))
    )
    return (
        pairs.join(sizes.select(F.col("doc_id").alias("doc_a"), "n"), "doc_a")
        .filter(F.expr(f"(1000000 * n_common) div n >= {_X99_THR_PPM}"))
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.expr("CAST((1000000 * n_common) div n AS BIGINT)").alias(
                "containment_a_ppm"
            ),
        )
    )


# ===========================================================================
# x102 — deterministic Poisson bootstrap (distributed bagging replicates)
# ===========================================================================

# Poisson-bootstrap replicate counts (Chamandy et al., "Estimating
# Uncertainty for Massive Data Streams"): resampling-with-replacement
# over a distributed corpus is infeasible (it needs global coordination
# per draw), but each row's multiplicity in a bootstrap replicate is
# asymptotically Poisson(1) — so B independent per-row Poisson draws
# give B bootstrap resamples with ZERO coordination. The draw is
# RNG-free: u = the row's md5-derived 32-bit uniform per (doc, b),
# inverted through the Poisson(1) CDF at fixed integer thresholds
# (⌊CDF·2³²⌋ — floors, pinned by a derivation test in
# tests/test_round8_ops.py so the constants can't drift from the
# stated math — capped at 4: P(X>4) ≈ 0.37%, folded into the top bin).
_X102_B = 3
_X102_THS = (1580030168, 3160060337, 3950075421, 4213413783)


def _x102_count_sql(u: str) -> str:
    return (
        f"CASE WHEN {u} < {_X102_THS[0]} THEN 0"
        f" WHEN {u} < {_X102_THS[1]} THEN 1"
        f" WHEN {u} < {_X102_THS[2]} THEN 2"
        f" WHEN {u} < {_X102_THS[3]} THEN 3"
        f" ELSE 4 END"
    )


_X102_ORACLE = f"""
    WITH draws AS (
        SELECT doc_id, b,
               CAST({_x102_count_sql(
                   "('0x' || substr(md5(doc_id || ':' || b), 1, 8))::UBIGINT"
               )} AS BIGINT) AS n_copies
        FROM documents, (SELECT unnest(range({_X102_B})) AS b)
    )
    SELECT CAST(b AS BIGINT) AS replicate,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_copies) AS BIGINT) AS resample_size,
           CAST(SUM(CASE WHEN n_copies = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped,
           CAST(MAX(n_copies) AS BIGINT) AS max_copies
    FROM draws
    GROUP BY b
"""


@register(
    "x102_poisson_bootstrap",
    _X102_ORACLE,
    doc="""Deterministic Poisson bootstrap — the distributed bagging /
    uncertainty-estimation primitive: each document's multiplicity in
    each of B=3 bootstrap resamples is a per-row Poisson(1) draw
    (true with-replacement resampling needs global coordination per
    draw; per-row Poisson is the classic zero-coordination equivalent,
    Chamandy et al.). The draw is RNG-free — the row's md5-derived
    32-bit uniform per (doc, replicate) inverted through fixed integer
    CDF thresholds — so replicate membership is a pure function of the
    data and fully value-hash-checked; output is the per-replicate
    audit (resample size ≈ |corpus|, dropped share ≈ e⁻¹, max
    multiplicity). Training consumers explode n_copies into rows.

    Scale: the draw is a narrow per-row expression (the B-fold fan-out
    is a 3-row broadcast range join); the only exchange is the B-row
    audit aggregate. Statistical sanity (mean ≈ 1, drop share ≈
    0.368) is pinned by test, determinism by the oracle.""",
)
def x102_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    b = spark.range(_X102_B).select(F.col("id").alias("b"))
    u = (
        "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':', "
        "CAST(b AS STRING))), 1, 8), 16, 10) AS BIGINT)"
    )
    draws = docs.crossJoin(F.broadcast(b)).select(
        "doc_id",
        "b",
        F.expr(f"CAST({_x102_count_sql(u)} AS BIGINT)").alias("n_copies"),
    )
    return draws.groupBy(F.col("b").cast("long").alias("replicate")).agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"),
        F.expr("CAST(SUM(n_copies) AS BIGINT)").alias("resample_size"),
        F.expr(
            "CAST(SUM(CASE WHEN n_copies = 0 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_dropped"),
        F.expr("CAST(MAX(n_copies) AS BIGINT)").alias("max_copies"),
    )


# ===========================================================================
# x103 — length-bucketed sorted batching (padding-waste accounting)
# ===========================================================================

_X103_BATCH = 16  # docs per batch (slot batching)
_X103_TOKLEN = (
    "CASE WHEN trim(text) = '' THEN 0 ELSE "
    "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) END"
)
_X103_TOKLEN_SPARK = (
    "CASE WHEN trim(text) = '' THEN CAST(0 AS BIGINT) ELSE "
    "CAST(size(split(trim(text), '\\\\s+')) AS BIGINT) END"
)

_X103_ORACLE = f"""
    WITH lens AS (
        SELECT doc_id, {_X103_TOKLEN} AS n_tok,
               {_X103_TOKLEN} // 64 AS bucket
        FROM documents
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY bucket ORDER BY n_tok DESC, doc_id) AS rn
        FROM lens
    ),
    batched AS (
        SELECT bucket, (rn - 1) // {_X103_BATCH} AS batch_id, n_tok
        FROM ranked
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(batch_id AS BIGINT) AS batch_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MAX(n_tok) AS BIGINT) AS max_len,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(COUNT(*) * MAX(n_tok) - SUM(n_tok) AS BIGINT)
               AS padding_waste
    FROM batched
    GROUP BY bucket, batch_id
"""


@register(
    "x103_length_bucketed_batching",
    _X103_ORACLE,
    doc="""Length-bucketed sorted batching — the dynamic-batching data
    prep that makes padding cheap (fairseq/HF "sortish" batching):
    documents bucket by token length div 64, sort within bucket by
    (length DESC, id), and fill fixed-slot batches of 16; the output
    is the per-batch padding audit — n_docs, max_len, total_tokens,
    and padding_waste = slots·max − Σlen, the quantity the bucketing
    exists to minimize (same-length neighbors pad to nearly nothing).
    Distinct from x37/x81 (which concatenate token STREAMS into fixed
    windows): this groups WHOLE documents into padded batches, the
    encoder-training shape.

    Scale: one narrow length projection, one bucket-partitioned rank
    window (buckets are the parallelism unit — no global sort), one
    (bucket, batch) aggregate. Deterministic end to end — the rank's
    total order makes batch membership a pure function of the corpus —
    so the whole audit value-hash checks.""",
)
def x103_length_bucketed_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_X103_TOKLEN_SPARK).alias("n_tok")
    ).withColumn("bucket", F.expr("n_tok div 64"))
    w = Window.partitionBy("bucket").orderBy(
        F.col("n_tok").desc(), F.col("doc_id")
    )
    batched = docs.withColumn("rn", F.row_number().over(w)).select(
        "bucket",
        F.expr(f"CAST((rn - 1) div {_X103_BATCH} AS BIGINT)").alias("batch_id"),
        "n_tok",
    )
    return batched.groupBy(
        F.col("bucket").cast("long").alias("bucket"), "batch_id"
    ).agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"),
        F.expr("CAST(MAX(n_tok) AS BIGINT)").alias("max_len"),
        F.expr("CAST(SUM(n_tok) AS BIGINT)").alias("total_tokens"),
        F.expr(
            "CAST(COUNT(*) * MAX(n_tok) - SUM(n_tok) AS BIGINT)"
        ).alias("padding_waste"),
    )


# ===========================================================================
# x112 — memorization / novelty scoring of generations vs the corpus
# ===========================================================================

_X112_SH5 = (
    "list_distinct([array_to_string(w[i:i+4], ' ')"
    " FOR i IN range(1, GREATEST(len(w)-4, 1) + 1)])"
)

_X112_ORACLE = rf"""
    WITH g AS (
        SELECT doc_id, {_X112_SH5} AS sh
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
              FROM documents WHERE doc_id % 97 = 0)
    ),
    corp AS (
        SELECT DISTINCT unnest({_X112_SH5}) AS s
        FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS w
              FROM documents WHERE doc_id % 97 <> 0)
    ),
    ge AS (SELECT doc_id, len(sh) AS n_grams, unnest(sh) AS s FROM g)
    SELECT doc_id,
           CAST(ANY_VALUE(n_grams) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN c.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_seen,
           CAST((1000000 * (ANY_VALUE(n_grams)
                 - SUM(CASE WHEN c.s IS NOT NULL THEN 1 ELSE 0 END)))
                // ANY_VALUE(n_grams) AS BIGINT) AS novelty_ppm
    FROM ge LEFT JOIN corp c USING (s)
    GROUP BY doc_id
"""


@register(
    "x112_memorization_score",
    _X112_ORACLE,
    doc="""Memorization / novelty scoring — the post-training eval that
    closes the loop the decontamination tier opens: for each MODEL
    GENERATION (the doc_id % 97 slice stands in for sampled outputs,
    the same stand-in convention as x30's benchmark), the share of its
    distinct 5-gram shingles that appear ANYWHERE in the training
    corpus; novelty_ppm = exact-integer share of UNSEEN grams. Distinct
    from x97 (within-corpus duplication, any OTHER doc) and x30 (binary
    contamination flag): this is the graded memorization rate run on
    generations, the Carlini-style extraction diagnostic. The sf0.001
    probe exhibits a fully-memorized generation (19/19 grams seen) and
    sf0.01 a 1-gram partial hit, so both regimes are oracle-covered.

    Scale — the join DIRECTION is the whole design: the generation set
    is sample-sized and BROADCASTS; the corpus's exploded gram stream
    is filtered against it IN PLACE (left-semi against the broadcast),
    so the only exchange after the scan carries matched grams — a set
    bounded by |generation grams|, never corpus-sized. The corpus is
    read once, shuffled never (the x30 eval-side discipline with the
    big/small roles reversed).""",
)
def x112_memorization_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.dedup import (
        fan_out,
        word_shingles,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    gens = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)

    g = gens.select(
        "doc_id", word_shingles(F.col("text"), 5).alias("sh")
    ).select(
        "doc_id", F.size("sh").cast("bigint").alias("n_grams"),
        F.explode("sh").alias("s"),
    )
    gen_grams = g.select("s").distinct()
    matched = (
        fan_out(corpus)
        .select(F.explode(word_shingles(F.col("text"), 5)).alias("s"))
        .join(F.broadcast(gen_grams), "s", "left_semi")
        .distinct()
    )
    return (
        g.join(F.broadcast(matched.withColumn("__hit", F.lit(1))), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.expr("CAST(ANY_VALUE(n_grams) AS BIGINT)").alias("n_grams"),
            F.expr(
                "CAST(SUM(CASE WHEN __hit IS NOT NULL THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("n_seen"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_seen",
            F.expr(
                "CAST((1000000 * (n_grams - n_seen)) div n_grams AS BIGINT)"
            ).alias("novelty_ppm"),
        )
    )
