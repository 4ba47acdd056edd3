"""End-to-end corpus-pipeline composition (VERDICT r7 item 3).

The catalog has every stage of an LLM training-data pipeline as an
individually oracle-checked entry — crawl canonicalization (x65),
crawl budget (x67), exact dedup (x01), benchmark decontamination
(x30), the learned quality gate (x95), deterministic corpus mixing
(x47), sequence packing (x81) — but a real 100 TB pipeline runs them
as ONE lazy DAG, raw docs in, training batches out, with no driver
materialization between stages. These two entries prove exactly that
composition, end to end and value-hash-checked against one DuckDB
WITH-chain that re-states every stage:

- ``x104_corpus_pipeline_e2e`` — the training batches: the packed
  (chunk_id, doc_id, offset, token-count) membership table over the
  documents that survive the whole chain.
- ``x105_corpus_pipeline_audit`` — the per-stage audit: one row per
  stage with (n_docs, n_tokens), the row-count lineage every
  production pipeline logs. Computed as |stages| bounded aggregate
  FORKS of the same lazy DAG — still zero driver materialization
  (pinned in tests/test_pipeline_e2e.py: building either DataFrame
  launches ZERO Spark jobs).

Stage chain (every rule is the SAME definition as its standalone
entry — imported, not re-typed, so the composed pipeline can never
drift from the audited stages):

0. ingest      — documents ∪ a deterministic re-crawl batch
                 (doc_id % 13 == 0 re-keyed +1,000,000): real crawls
                 overlap across snapshots; this is what gives the
                 dedup stage real work (the base corpus has no exact
                 duplicates by construction).
1. canonicalize— x65's URL canonicalization; annotation only (the
                 audit proves it drops nothing) but load-bearing: the
                 canonical HOST keys the next stage.
2. host_budget — x67's crawl-budget semantics: keep ≤ 12 pages per
                 canonical host by deterministic Knuth-hash rank —
                 through operators/skew.grouped_topk (hot hosts are
                 the definitional skewed group).
3. exact_dedup — x01 semantics: keep the smallest doc_id per
                 md5(text); removes the re-crawl copies.
4. decontaminate— x30's doc-drop: remove survivors sharing any 5-word
                 shingle with the held-out eval slice (doc_id % 97 ==
                 0 of the base corpus stands in for the benchmark) —
                 operators/splits.decontaminate, eval side broadcast.
5. quality_gate— x95's learned linear classifier, same weight literal
                 and fold, keep score >= 0.
6. mix         — x47's deterministic hash-threshold mixing toward
                 40/40/10/10 token shares over src0-3 (the recipe
                 SELECTS its sources; others drop), fractions computed
                 inside the DAG, seed 104.
7. pack        — x81's concat-and-chunk into 512-token windows in
                 Knuth-hash order (+1 EOS per doc).

Scale: every stage keeps its standalone entry's 100 TB shape — narrow
codegen projections (1, 5), salted top-k (2), 16-byte-hash shuffle
(3), broadcast benchmark side (4), hash-threshold scan (6), one
cumsum + narrow explode (7; the x42 two-phase range-partition form at
corpus scale, as x81 documents). The audit forks re-scan the corpus
per stage at local scale; at 100 TB each stage boundary that feeds a
fork would be a documented checkpoint/parquet materialization — the
contract here is no DRIVER materialization: the DAG stays lazy end to
end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans.registry import register
from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.readers import read_table
from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.text import (
    token_count,
    sql_token_count_duck,
)
from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.web import (
    CRAWL_RANK_SQL,
    sql_canon_parts,
    sql_raw_url,
)
from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.skew import grouped_topk
from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators import splits as SP
from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.sampling import (
    mix_corpora_deterministic,
)

# ONE definition each, imported from the standalone entries' modules
from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans.catalog_llm import (
    _X95_SCORE_SPARK,
    _X95_W_DUCK,
    _X95_D,
)
from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans.catalog_more import (
    _MIX_SHARES,
)

_RECRAWL_OFFSET = 1_000_000
_HOST_CAP = 12
_MIX_SEED = 104
_PACK_C = 512

_RAW = sql_raw_url()
_HOST_SPARK = sql_canon_parts("raw_url", "spark")["host"]
_HOST_DUCK = sql_canon_parts("raw_url", "duckdb")["host"]
_TOKS_DUCK = sql_token_count_duck("text")

# x30's shingle rendering (w[i:i+4] spans 5 tokens; short docs yield
# their full token join) — kept textually identical to _DECON_ORACLE
_SH5_DUCK = (
    "list_distinct([array_to_string(w[i:i+4], ' ')"
    " FOR i IN range(1, GREATEST(len(w)-4, 1) + 1)])"
)

# x95's scoring fold, DuckDB rendering (same weight literal)
_SCORE_DUCK = (
    f"list_sum([({_X95_W_DUCK})["
    f"CAST(('0x' || substr(md5(t), 1, 8))::UBIGINT % {_X95_D} AS INT) + 1]"
    r" FOR t IN regexp_split_to_array(trim(text), '\s+')])"
)

_MIX_VALUES = ", ".join(f"('{s}', {w})" for s, w in _MIX_SHARES)

_PIPE_CTES = f"""
    WITH base AS (SELECT doc_id, source, text FROM documents),
    ing AS (
        SELECT doc_id, source, text, {_TOKS_DUCK} AS n_toks FROM base
        UNION ALL
        SELECT doc_id + {_RECRAWL_OFFSET} AS doc_id, source, text,
               {_TOKS_DUCK} AS n_toks
        FROM base WHERE doc_id % 13 = 0
    ),
    canon AS (
        SELECT doc_id, source, text, n_toks, {_HOST_DUCK} AS host
        FROM (SELECT *, {_RAW} AS raw_url FROM ing)
    ),
    budg AS (
        SELECT doc_id, source, text, n_toks, host
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY host ORDER BY {CRAWL_RANK_SQL}, doc_id
              ) AS __r FROM canon)
        WHERE __r <= {_HOST_CAP}
    ),
    ded AS (
        SELECT doc_id, source, text, n_toks
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY md5(text) ORDER BY doc_id
              ) AS __d FROM budg)
        WHERE __d = 1
    ),
    evs AS (
        SELECT DISTINCT unnest({_SH5_DUCK}) AS s
        FROM (SELECT regexp_split_to_array(trim(text), '\\s+') AS w
              FROM base WHERE doc_id % 97 = 0)
    ),
    hit AS (
        SELECT DISTINCT t.doc_id
        FROM (SELECT doc_id, unnest({_SH5_DUCK}) AS s
              FROM (SELECT doc_id,
                           regexp_split_to_array(trim(text), '\\s+') AS w
                    FROM ded)) t
        JOIN evs USING (s)
    ),
    dec AS (
        SELECT * FROM ded WHERE doc_id NOT IN (SELECT doc_id FROM hit)
    ),
    qua AS (SELECT * FROM dec WHERE {_SCORE_DUCK} >= 0),
    shares(source, share) AS (VALUES {_MIX_VALUES}),
    totals AS (
        SELECT q.source, CAST(s.share AS DOUBLE) AS share,
               SUM(q.n_toks) AS toks
        FROM qua q JOIN shares s ON q.source = s.source
        GROUP BY q.source, s.share
    ),
    fr AS (
        SELECT source,
               LEAST(1.0, (SUM(toks) OVER () * share)
                          / CAST(GREATEST(toks, 1) AS DOUBLE)) AS frac
        FROM totals
    ),
    mx AS (
        SELECT q.doc_id, q.source, q.n_toks
        FROM qua q JOIN fr ON q.source = fr.source
        WHERE ('0x' || substr(md5(CAST(q.doc_id AS VARCHAR)
                                  || ':{_MIX_SEED}'), 1, 8))::UBIGINT
              / 4294967296.0 < fr.frac
    ),
    pd AS (SELECT doc_id, n_toks + 1 AS n_toks FROM mx),
    pc AS (
        SELECT doc_id, n_toks,
               SUM(n_toks) OVER (ORDER BY {CRAWL_RANK_SQL}, doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_toks AS st
        FROM pd
    ),
    pe AS (
        SELECT doc_id, n_toks, st, st + n_toks AS en,
               CAST(FLOOR(CAST(st AS DOUBLE) / {_PACK_C}.0) AS BIGINT) AS c0,
               CAST(FLOOR(CAST(en - 1 AS DOUBLE) / {_PACK_C}.0) AS BIGINT) AS c1
        FROM pc
    ),
    pk AS (
        SELECT t.chunk_id AS chunk_id, doc_id,
               CAST(GREATEST(st - t.chunk_id * {_PACK_C}, 0) AS BIGINT)
                   AS offset_in_chunk,
               CAST(LEAST(en, (t.chunk_id + 1) * {_PACK_C})
                    - GREATEST(st, t.chunk_id * {_PACK_C}) AS BIGINT)
                   AS n_toks_in_chunk
        FROM pe, UNNEST([i FOR i IN range(c0, c1 + 1)]) AS t(chunk_id)
    )
"""


def pipeline_stages(
    spark: SparkSession, sf_dir: str
) -> dict[str, DataFrame]:
    """Build every stage frame of the corpus pipeline as ONE lazy DAG.

    Returns the ordered stage dict; nothing here runs a Spark job
    (pinned by tests/test_pipeline_e2e.py::test_build_runs_no_jobs).
    """
    base = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    recrawl = base.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + F.lit(_RECRAWL_OFFSET)).alias("doc_id"),
        "source",
        "text",
    )
    ing = base.unionByName(recrawl).withColumn(
        "n_toks", token_count(F.col("text")).cast("bigint")
    )
    canon = ing.withColumn("raw_url", F.expr(_RAW)).select(
        "doc_id", "source", "text", "n_toks",
        F.expr(_HOST_SPARK).alias("host"),
    )
    budg = grouped_topk(
        canon,
        ["host"],
        [F.expr(CRAWL_RANK_SQL).asc(), F.col("doc_id").asc()],
        _HOST_CAP,
        rank_col="__r",
    ).drop("__r")
    dw = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    ded = (
        budg.withColumn("__d", F.row_number().over(dw))
        .filter(F.col("__d") == 1)
        .select("doc_id", "source", "text", "n_toks")
    )
    eval_df = base.filter(F.col("doc_id") % 97 == 0)
    dec = SP.decontaminate(
        ded, eval_df, id_col="doc_id", text_col="text", n=5, mode="drop",
        widen=False,  # ded is post-shuffle wide; keep the DAG lazy
    )
    qua = dec.filter(F.expr(f"({_X95_SCORE_SPARK}) >= 0"))
    mx = mix_corpora_deterministic(
        qua,
        source_col="source",
        token_col="n_toks",
        key_col="doc_id",
        target_weights=dict(_MIX_SHARES),
        seed=_MIX_SEED,
    ).select("doc_id", "source", "n_toks")
    pd_ = mx.select("doc_id", (F.col("n_toks") + 1).alias("n_toks"))
    pc = pd_.select(
        "doc_id",
        "n_toks",
        (
            F.expr(
                f"SUM(n_toks) OVER (ORDER BY {CRAWL_RANK_SQL}, doc_id"
                " ROWS UNBOUNDED PRECEDING)"
            )
            - F.col("n_toks")
        ).alias("st"),
    )
    pe = pc.selectExpr(
        "doc_id", "n_toks", "st", "st + n_toks AS en",
        f"CAST(FLOOR(CAST(st AS DOUBLE) / {_PACK_C}.0) AS BIGINT) AS c0",
        f"CAST(FLOOR(CAST(en - 1 AS DOUBLE) / {_PACK_C}.0) AS BIGINT) AS c1",
    )
    pk = pe.select(
        F.explode(F.sequence("c0", "c1")).alias("chunk_id"),
        "doc_id",
        "st",
        "en",
    ).selectExpr(
        "chunk_id",
        "doc_id",
        f"CAST(GREATEST(st - chunk_id * {_PACK_C}, 0) AS BIGINT)"
        " AS offset_in_chunk",
        f"CAST(LEAST(en, (chunk_id + 1) * {_PACK_C})"
        f" - GREATEST(st, chunk_id * {_PACK_C}) AS BIGINT)"
        " AS n_toks_in_chunk",
    )
    return {
        "ingest": ing,
        "canonicalize": canon,
        "host_budget": budg,
        "exact_dedup": ded,
        "decontaminate": dec,
        "quality_gate": qua,
        "mix": mx,
        "pack": pk,
    }


@register(
    "x104_corpus_pipeline_e2e",
    _PIPE_CTES
    + """
    SELECT chunk_id, doc_id, offset_in_chunk, n_toks_in_chunk FROM pk
    """,
    doc="""End-to-end corpus pipeline, raw docs → training batches:
    ingest(∪ re-crawl) → x65 canonicalize → x67 host budget (salted
    top-k) → x01 exact dedup → x30 decontaminate → x95 quality gate →
    x47 deterministic mix → x81 pack — composed as ONE lazy DAG (zero
    Spark jobs during build, pinned) and value-hash-checked stage by
    stage against a single DuckDB WITH-chain. Output: the packed
    (chunk_id, doc_id, offset_in_chunk, n_toks_in_chunk) membership
    table; every interior chunk sums to exactly 512 tokens (pinned).
    See the module docstring for the per-stage 100 TB shapes.""",
)
def x104_corpus_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipeline_stages(spark, sf_dir)["pack"]


_AUDIT_STAGES = [
    "ingest",
    "canonicalize",
    "host_budget",
    "exact_dedup",
    "decontaminate",
    "quality_gate",
    "mix",
]

_AUDIT_UNION = "\n    UNION ALL\n".join(
    f"""
    SELECT CAST({i} AS BIGINT) AS stage_ord, '{s}' AS stage,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens
    FROM {cte}"""
    for i, (s, cte) in enumerate(
        zip(
            _AUDIT_STAGES,
            ["ing", "canon", "budg", "ded", "dec", "qua", "mx"],
        )
    )
)


@register(
    "x105_corpus_pipeline_audit",
    _PIPE_CTES
    + _AUDIT_UNION
    + f"""
    UNION ALL
    SELECT CAST({len(_AUDIT_STAGES)} AS BIGINT) AS stage_ord,
           'pack' AS stage,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks_in_chunk) AS BIGINT) AS n_tokens
    FROM pk
    """,
    doc="""Per-stage audit of the x104 corpus pipeline: one row per
    stage with surviving doc and token counts — the row-count lineage
    a production pipeline logs at every boundary. canonicalize must
    equal ingest (annotation stage); every later stage is a
    documented drop; the pack row counts packed docs and the chunk
    token mass (raw tokens + one EOS per doc). All 8 rows come from
    bounded aggregate forks of the SAME lazy DAG — no driver
    materialization anywhere (pinned in tests/test_pipeline_e2e.py).""",
)
def x105_corpus_pipeline_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames = pipeline_stages(spark, sf_dir)
    parts = []
    for i, s in enumerate(_AUDIT_STAGES):
        parts.append(
            frames[s]
            .agg(
                F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"),
                F.expr("CAST(SUM(n_toks) AS BIGINT)").alias("n_tokens"),
            )
            .select(
                F.lit(i).cast("bigint").alias("stage_ord"),
                F.lit(s).alias("stage"),
                "n_docs",
                "n_tokens",
            )
        )
    parts.append(
        frames["pack"]
        .agg(
            F.expr("CAST(COUNT(DISTINCT doc_id) AS BIGINT)").alias("n_docs"),
            F.expr("CAST(SUM(n_toks_in_chunk) AS BIGINT)").alias("n_tokens"),
        )
        .select(
            F.lit(len(_AUDIT_STAGES)).cast("bigint").alias("stage_ord"),
            F.lit("pack").alias("stage"),
            "n_docs",
            "n_tokens",
        )
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
