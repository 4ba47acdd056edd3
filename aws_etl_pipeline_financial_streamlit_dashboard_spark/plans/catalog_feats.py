"""Feature-engineering operators (round 8): leakage-safe target
encoding and sequence-transition statistics — the tabular/behavioral
feature steps between raw tables and a training matrix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans.registry import register
from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.readers import read_table

# ---------------------------------------------------------------------------
# x110 — leave-one-out target encoding
# ---------------------------------------------------------------------------

_X110_ORACLE = """
    WITH lab AS (
        SELECT c_custkey, c_mktsegment,
               CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END AS label
        FROM customer
    ),
    seg AS (
        SELECT c_mktsegment,
               CAST(SUM(label) AS BIGINT) AS n_pos,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lab GROUP BY c_mktsegment
    )
    SELECT l.c_custkey, l.c_mktsegment,
           CAST(l.label AS BIGINT) AS label,
           CAST(CASE WHEN s.n <= 1 THEN -1
                     ELSE (1000000 * (s.n_pos - l.label)) // (s.n - 1)
                END AS BIGINT) AS loo_enc_ppm
    FROM lab l JOIN seg s ON l.c_mktsegment = s.c_mktsegment
"""


@register(
    "x110_loo_target_encoding",
    _X110_ORACLE,
    doc="""Leave-one-out target encoding — the leakage-safe form of the
    standard categorical feature: each customer's segment is encoded
    as the share of NEGATIVE-BALANCE customers in that segment
    computed over every row EXCEPT ITSELF ((Σlabel − own) / (n − 1)),
    so the feature can never contain the row's own label (the naive
    mean encoding leaks the target and inflates validation scores —
    the exact failure this operator family exists to prevent).
    Encoding in exact integer ppm; singleton categories emit the -1
    sentinel (no peers to encode from) rather than NULL or a divide
    fault.

    Scale: ONE per-category aggregate (|categories| rows, broadcast
    back) and a row-local arithmetic finish — the per-row leave-out
    needs no self-join because (Σ − own)/(n − 1) is algebraically
    row-local once the category sums exist. Embarrassingly parallel
    at any corpus size.""",
)
def x110_loo_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    lab = read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.expr("CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END").alias("label"),
    )
    seg = lab.groupBy("c_mktsegment").agg(
        F.expr("CAST(SUM(label) AS BIGINT)").alias("n_pos"),
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n"),
    )
    return (
        lab.join(F.broadcast(seg), "c_mktsegment")
        .select(
            "c_custkey",
            "c_mktsegment",
            F.col("label").cast("bigint").alias("label"),
            F.expr(
                "CAST(CASE WHEN n <= 1 THEN -1"
                " ELSE (1000000 * (n_pos - label)) div (n - 1)"
                " END AS BIGINT)"
            ).alias("loo_enc_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# x111 — event-sequence transition matrix
# ---------------------------------------------------------------------------

_X111_ORACLE = """
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    ),
    tr AS (
        SELECT prev_type, event_type AS next_type,
               CAST(COUNT(*) AS BIGINT) AS n_transitions
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, n_transitions,
           CAST((1000000 * n_transitions)
                // SUM(n_transitions) OVER (PARTITION BY prev_type)
                AS BIGINT) AS prob_ppm
    FROM tr
"""


@register(
    "x111_event_transition_matrix",
    _X111_ORACLE,
    doc="""First-order Markov transition matrix over user event
    sequences: per (previous event type → next event type), the
    transition count and row-normalized probability in exact integer
    ppm — the behavioral-sequence statistic that feeds next-event
    training data, funnel anomaly detection, and session simulators.
    Ordering is the total (ts, event_id) exchange order, so every
    count is deterministic.

    Scale: ONE user-keyed window exchange (the LAG), then a
    |types|²-bounded aggregate; the normalizing window runs over the
    bounded matrix, never the fact table. Hot users skew the window
    partition at most by their own event count — the per-user
    sequence is the irreducible unit of this computation (exactly
    the watermark/session-state grain the streaming twin would
    keep).""",
)
def x111_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    seq = read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.lag("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev_type"),
    )
    tr = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_transitions"))
    )
    return tr.withColumn(
        "prob_ppm",
        F.expr(
            "CAST((1000000 * n_transitions) div "
            "SUM(n_transitions) OVER (PARTITION BY prev_type) AS BIGINT)"
        ),
    )


# ---------------------------------------------------------------------------
# x115 — inter-annotator agreement (Cohen's kappa) per language
# ---------------------------------------------------------------------------
# Two deterministic rule "annotators" label every document:
#   A: long enough (n_chars >= 150)
#   B: lexically diverse (distinct tokens >= 0.6 * tokens, via the
#      division-free cross-multiplication 10*distinct >= 6*tokens)
# kappa = (po - pe) / (1 - pe) over the per-language 2x2 table, emitted
# in ppm. Division semantics trap: kappa can be NEGATIVE (worse than
# chance) and Spark's `div` truncates toward zero while DuckDB's `//`
# floors — so the ppm is computed as ONE IEEE double division of exact
# integers (< 2^53 at any realistic scale) followed by the shared
# FLOOR(x + 0.5) half-up, identical ops in both engines.
_X115_KN = "(CAST(n AS DOUBLE) * agree - pe_num)"
_X115_KD = "(CAST(n AS DOUBLE) * n - pe_num)"
_X115_KAPPA = (
    f"CAST(FLOOR({_X115_KN} * CAST(1000000 AS DOUBLE) / {_X115_KD} + 0.5)"
    f" AS BIGINT)"
)

_X115_ORACLE = f"""
    WITH lab AS (
        SELECT lang,
               CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END AS a,
               CASE WHEN 10 * len(list_distinct(
                        regexp_split_to_array(trim(text), '\\s+')))
                         >= 6 * len(regexp_split_to_array(trim(text), '\\s+'))
                    THEN 1 ELSE 0 END AS b
        FROM documents
    ),
    cells AS (
        SELECT lang,
               CAST(SUM(a * b) AS BIGINT) AS n11,
               CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
               CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
               CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lab GROUP BY lang
    ),
    k AS (
        SELECT lang, n11, n10, n01, n00, n,
               CAST(n11 + n00 AS DOUBLE) AS agree,
               CAST((n11 + n10) AS DOUBLE) * (n11 + n01)
                 + CAST((n01 + n00) AS DOUBLE) * (n10 + n00) AS pe_num
        FROM cells
    )
    SELECT lang, n11, n10, n01, n00, n,
           CASE WHEN {_X115_KD} = 0 THEN -2000000
                ELSE {_X115_KAPPA} END AS kappa_ppm
    FROM k
"""


@register(
    "x115_annotator_agreement_kappa",
    _X115_ORACLE,
    doc="""Inter-annotator agreement (Cohen's kappa, exact ppm) between
    two deterministic labeling rules per language — the label-quality
    diagnostic a training-data pipeline runs before trusting ANY
    labeling function (two rules that both "look reasonable" can agree
    barely above chance; here the length rule and the lexical-diversity
    rule land near zero kappa, which is exactly the warning the
    statistic exists to give). The full 2x2 table rides along so the
    disagreement STRUCTURE is visible, not just the score; degenerate
    tables (pe = 1) emit the -2000000 sentinel rather than a divide
    fault (x110's convention). Cohen 1960.

    Scale: one narrow per-row labeling pass (codegen string ops) and
    ONE |languages|-row aggregate — embarrassingly parallel, no
    shuffle beyond the group-by exchange. The kappa finish is
    arithmetic on the tiny frame; adding annotators generalizes to
    Fleiss kappa with the same shape (per-item label counts ->
    one aggregate).""",
)
def x115_annotator_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents").select("lang", "n_chars", "text")
    lab = d.select(
        "lang",
        F.expr("CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END").alias("a"),
        F.expr(
            r"CASE WHEN 10 * size(array_distinct(split(trim(text), '\\s+')))"
            r" >= 6 * size(split(trim(text), '\\s+')) THEN 1 ELSE 0 END"
        ).alias("b"),
    )
    cells = lab.groupBy("lang").agg(
        F.expr("CAST(SUM(a * b) AS BIGINT)").alias("n11"),
        F.expr("CAST(SUM(a * (1 - b)) AS BIGINT)").alias("n10"),
        F.expr("CAST(SUM((1 - a) * b) AS BIGINT)").alias("n01"),
        F.expr("CAST(SUM((1 - a) * (1 - b)) AS BIGINT)").alias("n00"),
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n"),
    )
    k = cells.select(
        "lang", "n11", "n10", "n01", "n00", "n",
        F.expr("CAST(n11 + n00 AS DOUBLE)").alias("agree"),
        F.expr(
            "CAST((n11 + n10) AS DOUBLE) * (n11 + n01)"
            " + CAST((n01 + n00) AS DOUBLE) * (n10 + n00)"
        ).alias("pe_num"),
    )
    return k.select(
        "lang", "n11", "n10", "n01", "n00", "n",
        F.expr(
            f"CASE WHEN {_X115_KD} = 0 THEN -2000000"
            f" ELSE {_X115_KAPPA} END"
        ).alias("kappa_ppm"),
    )


# ---------------------------------------------------------------------------
# x116 — PII injection → scrub → audit (compliance round trip)
# ---------------------------------------------------------------------------
# The corpus is synthetic word-salad with no real PII, so the entry
# SYNTHESIZES it deterministically (the x91 span-corruption discipline:
# the generator is part of the operator's contract, not test-only
# scaffolding): every document gains one doc_id-derived email, every
# third document a second one on another host. The scrubber is a
# single email regex (char classes only — identical semantics in
# Java's regex and DuckDB's RE2); the audit counts redactions per
# source and PROVES zero residual matches after the scrub, in-data.
_X116_PAT = "[A-Za-z0-9._]+@[A-Za-z0-9.]+[A-Za-z]"

_X116_ORACLE = f"""
    WITH synth AS (
        SELECT doc_id, source,
               text || ' contact user' || doc_id || '@example.com'
                    || CASE WHEN doc_id % 3 = 0
                            THEN ' and admin' || doc_id || '@mail.example.org'
                            ELSE '' END || ' now' AS synth_text
        FROM documents
    ),
    scrubbed AS (
        SELECT doc_id, source, synth_text,
               regexp_replace(synth_text, '{_X116_PAT}', '<EMAIL>', 'g')
                   AS clean_text
        FROM synth
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(regexp_extract_all(synth_text, '{_X116_PAT}')))
                AS BIGINT) AS n_redactions,
           CAST(SUM(len(regexp_extract_all(clean_text, '{_X116_PAT}')))
                AS BIGINT) AS n_residual,
           CAST(SUM(CASE WHEN clean_text <> synth_text THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_changed
    FROM scrubbed
    GROUP BY source
"""


@register(
    "x116_pii_scrub_audit",
    _X116_ORACLE,
    doc="""PII redaction round trip with an in-data completeness proof
    — the compliance step between raw crawl and training corpus:
    deterministically synthesize emails into every document (x91's
    generator-as-contract discipline, since the synthetic corpus holds
    no real PII), scrub with one email regex (char-class-only pattern,
    so Java regex and RE2 agree), and audit per source: documents,
    redaction count (one per doc + a second on every third doc — the
    oracle checks the exact arithmetic), RESIDUAL matches after the
    scrub (must be zero — the audit is the proof, not a promise), and
    changed-document count. A real deployment swaps the synthesizer
    for the raw corpus and keeps the scrub+audit halves verbatim.

    Scale: one narrow codegen pass (concat, two regex evaluations per
    row) and one |sources|-row aggregate; no UDFs, no shuffle beyond
    the rollup exchange. Redaction at 100 TB is exactly this shape —
    regex-scan bound, embarrassingly parallel.""",
)
def x116_pii_scrub_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    synth = d.select(
        "doc_id", "source",
        F.expr(
            "CONCAT(text, ' contact user', doc_id, '@example.com',"
            " CASE WHEN doc_id % 3 = 0"
            " THEN CONCAT(' and admin', doc_id, '@mail.example.org')"
            " ELSE '' END, ' now')"
        ).alias("synth_text"),
    )
    scrubbed = synth.withColumn(
        "clean_text",
        F.expr(f"regexp_replace(synth_text, '{_X116_PAT}', '<EMAIL>')"),
    )
    return scrubbed.groupBy("source").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"),
        F.expr(
            f"CAST(SUM(regexp_count(synth_text, '{_X116_PAT}')) AS BIGINT)"
        ).alias("n_redactions"),
        F.expr(
            f"CAST(SUM(regexp_count(clean_text, '{_X116_PAT}')) AS BIGINT)"
        ).alias("n_residual"),
        F.expr(
            "CAST(SUM(CASE WHEN clean_text <> synth_text THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("n_docs_changed"),
    )


# ---------------------------------------------------------------------------
# x117 — score-decile lift table (model-eval ops)
# ---------------------------------------------------------------------------
# The standard "is this scorer worth deploying" read-out: rank the
# corpus by x95's learned quality score, cut into 10 deciles
# (skew-safe ntile_at_scale — bit-identical to engine NTILE for the
# total order (score DESC, doc_id)), and per decile report positives
# under an INDEPENDENT outcome rule (x115's lexical-diversity
# annotator), the positive rate, and the cumulative lift vs the base
# rate — all in exact integer ppm (operands are non-negative, so
# Spark's truncating `div` and DuckDB's flooring `//` agree; the
# cumulative product is DECIMAL(38,0)/HUGEINT-widened).
from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans.catalog_llm import (  # noqa: E402
    _X95_SCORE_SPARK as _X117_SCORE_SPARK,
    _X95_W_DUCK as _X117_W_DUCK,
    _X95_D as _X117_D,
)

_X117_SCORE_DUCK = (
    f"list_sum([({_X117_W_DUCK})["
    f"CAST(('0x' || substr(md5(t), 1, 8))::UBIGINT % {_X117_D} AS INT) + 1]"
    r" FOR t IN regexp_split_to_array(trim(text), '\s+')])"
)
_X117_POS_DUCK = (
    "CASE WHEN 10 * len(list_distinct("
    r"regexp_split_to_array(trim(text), '\s+')))"
    r" >= 6 * len(regexp_split_to_array(trim(text), '\s+'))"
    " THEN 1 ELSE 0 END"
)

_X117_ORACLE = f"""
    WITH scored AS (
        SELECT doc_id, {_X117_SCORE_DUCK} AS score,
               {_X117_POS_DUCK} AS pos
        FROM documents
    ),
    dec AS (
        SELECT *, NTILE(10) OVER (ORDER BY score DESC, doc_id) AS decile
        FROM scored
    ),
    per AS (
        SELECT decile,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(pos) AS BIGINT) AS n_pos
        FROM dec GROUP BY decile
    ),
    c AS (
        SELECT decile, n, n_pos,
               SUM(n) OVER (ORDER BY decile) AS cum_n,
               SUM(n_pos) OVER (ORDER BY decile) AS cum_pos,
               SUM(n) OVER () AS tot_n,
               SUM(n_pos) OVER () AS tot_pos
        FROM per
    )
    SELECT CAST(decile AS BIGINT) AS decile, n, n_pos,
           CAST((1000000 * n_pos) // n AS BIGINT) AS pos_rate_ppm,
           CAST((1000000 * cum_pos * tot_n) // (cum_n * tot_pos) AS BIGINT)
               AS cum_lift_ppm
    FROM c
"""


@register(
    "x117_score_decile_lift",
    _X117_ORACLE,
    doc="""Score-decile lift table — the model-eval read-out between
    training a scorer (x95) and gating a corpus on it (x95's keep
    gate, x104's pipeline stage): corpus ranked by the learned quality
    score, cut into 10 skew-safe deciles (operators/shuffle.
    ntile_at_scale — q59's two-phase enumeration, no single-partition
    window over the corpus), each decile scored against an INDEPENDENT
    outcome rule (x115's diversity annotator), with exact-ppm positive
    rates and cumulative lift vs the base rate. On this corpus the
    table shows the strongest possible warning: the TOP score deciles
    hold ZERO diversity positives (cumulative lift ~0, climbing to
    1.0 only at the bottom) — the quality scorer actively ANTI-selects
    lexical diversity. That inversion is invisible in x95's own
    keep-rate audit and is exactly what a decile table exists to
    catch before a filtering recipe ships.

    Scale: one narrow scoring pass (the x95 fold), the two-phase
    global enumeration (global_rank's per-partition offsets — no
    corpus-sized window partition), ONE 10-row aggregate; the
    cumulative window runs over 10 rows. The lift arithmetic is
    DECIMAL(38,0)/HUGEINT-widened (sf10-proof per the q93/q94
    overflow rule).""",
)
def x117_score_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.shuffle import (
        ntile_at_scale,
    )

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    scored = d.select(
        "doc_id",
        F.expr(_X117_SCORE_SPARK).alias("score"),
        F.expr(
            r"CASE WHEN 10 * size(array_distinct(split(trim(text), '\\s+')))"
            r" >= 6 * size(split(trim(text), '\\s+')) THEN 1 ELSE 0 END"
        ).alias("pos"),
    )
    dec = ntile_at_scale(
        scored, [F.col("score").desc(), F.col("doc_id").asc()], 10, "decile"
    )
    per = dec.groupBy("decile").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n"),
        F.expr("CAST(SUM(pos) AS BIGINT)").alias("n_pos"),
    )
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    c = per.select(
        "decile", "n", "n_pos",
        F.sum("n").over(w_cum).alias("cum_n"),
        F.sum("n_pos").over(w_cum).alias("cum_pos"),
        F.sum("n").over(w_all).alias("tot_n"),
        F.sum("n_pos").over(w_all).alias("tot_pos"),
    )
    return c.select(
        F.col("decile").cast("long").alias("decile"), "n", "n_pos",
        F.expr("CAST((1000000 * n_pos) div n AS BIGINT)").alias("pos_rate_ppm"),
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * cum_pos * tot_n)"
            " div (cum_n * tot_pos) AS BIGINT)"
        ).alias("cum_lift_ppm"),
    )


# ---------------------------------------------------------------------------
# x118 — language-ID confusion matrix (classifier eval vs gold labels)
# ---------------------------------------------------------------------------
# Completes the eval-ops arc: x115 scores AGREEMENT between labelers,
# x117 scores a RANKER against an outcome, this scores a CLASSIFIER
# (x08's marker-word language ID) against the corpus's gold ``lang``
# column as the full confusion matrix — per (gold, predicted) counts
# plus each cell's share of its gold row in exact ppm (non-negative,
# so div/// agree). The verbatim x08 decision path runs inside both
# engines, so the eval can never drift from the classifier it scores.
from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans.catalog_ext import (  # noqa: E402
    _LANG_ORACLE as _X118_PRED_ORACLE,
)

_X118_ORACLE = f"""
    WITH pred AS ({_X118_PRED_ORACLE}),
    joined AS (
        SELECT d.lang AS gold_lang, p.pred_lang
        FROM documents d JOIN pred p ON d.doc_id = p.doc_id
    ),
    cells AS (
        SELECT gold_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
        FROM joined GROUP BY gold_lang, pred_lang
    ),
    totals AS (
        SELECT gold_lang, CAST(SUM(n) AS BIGINT) AS n_gold FROM cells
        GROUP BY gold_lang
    )
    SELECT c.gold_lang, c.pred_lang, c.n, t.n_gold,
           CAST((1000000 * c.n) // t.n_gold AS BIGINT) AS row_share_ppm
    FROM cells c JOIN totals t ON c.gold_lang = t.gold_lang
"""


@register(
    "x118_langid_confusion_matrix",
    _X118_ORACLE,
    doc="""Confusion matrix for x08's heuristic language ID against the
    corpus's gold ``lang`` labels: per (gold, predicted) counts and
    each cell's exact-ppm share of its gold row. On this corpus the
    matrix is maximally informative in the unflattering direction —
    the synthetic word-salad text carries English-ish tokens under
    every gold label, so the marker heuristic floods the 'en'/'und'
    columns for all five gold languages (including 'zh', for which it
    has no markers at all). That per-class breakdown — WHICH languages
    fail and WHERE the mass goes — is what an aggregate accuracy
    number hides, and is the eval a pipeline needs before gating a
    corpus on predicted language (x19's first stage). Completes the
    eval-ops arc: x115 agreement, x117 lift, x118 confusion.

    Scale: the x08 scoring pass (narrow regex counting, fan_out for
    single-split scans) + one |langs|²-bounded aggregate and a
    |langs|-row totals join. The verbatim classifier expression is
    IMPORTED from x08 in both dialects, so classifier and eval cannot
    drift.""",
)
def x118_langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators import text as X
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.dedup import fan_out

    docs = fan_out(
        read_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    )
    pred = X.lang_id(docs).select(F.col("lang").alias("gold_lang"), "pred_lang")
    cells = pred.groupBy("gold_lang", "pred_lang").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n")
    )
    totals = cells.groupBy("gold_lang").agg(
        F.expr("CAST(SUM(n) AS BIGINT)").alias("n_gold")
    )
    return cells.join(totals, "gold_lang").select(
        "gold_lang", "pred_lang", "n", "n_gold",
        F.expr("CAST((1000000 * n) div n_gold AS BIGINT)").alias(
            "row_share_ppm"
        ),
    )
