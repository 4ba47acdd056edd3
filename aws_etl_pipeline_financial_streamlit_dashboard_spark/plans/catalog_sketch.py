"""Deterministic mergeable-sketch operators (round 9).

The catalog's rule since round 3: every approximate/engine-specific
tier carries a DETERMINISTIC oracle-checked twin so its logic is
value-hash-verified end to end (x20→x55 sampling, x10→x58 IVF,
x24→x59 / x27→x60 LSH). Two rows-only entries still lacked twins:

- x15 ``approx_count_distinct`` (HyperLogLog++ — engine-internal
  registers, unverifiable) → **x113** re-implements the HLL register
  pipeline itself from the published algorithm (Flajolet et al. 2007;
  Heule et al. "HyperLogLog in Practice", EDBT'13) on a PORTABLE
  md5-derived 32-bit hash, in exact integer arithmetic, so Spark and
  DuckDB produce bit-identical registers and estimates.
- x21/q49 ``approx_percentile`` (t-digest-ish, engine-internal) →
  **x114** is the deterministic mergeable-histogram quantile sketch:
  fixed equi-width buckets, integer cumulative ranks, integer
  within-bucket interpolation.

Both sketches are the 100 TB shapes: ONE map-side-combining aggregate
collapses the fact stream to a constant-size state (≤256 registers /
≤1024 buckets per group) that merges associatively across partitions,
executors, or days — the estimate is then driver-trivial arithmetic
on the tiny frame. No sort, no second pass over the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans.registry import register
from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.readers import read_table

# ---------------------------------------------------------------------------
# x113 — deterministic HyperLogLog (the oracle-checked twin of x15)
# ---------------------------------------------------------------------------
# p = 8 → m = 256 registers; 32-bit portable hash (md5 hex prefix).
# bucket = h % 256, w = h div 256 (24 payload bits),
# rho(w) = leading zeros of w within 24 bits + 1 = 25 - bitlen(w)
# (w = 0 → 25). Register M_j = max rho over the bucket's elements.
# The indicator sum Σ 2^(-M_j) is kept EXACT by scaling with 2^25:
# T = Σ_present 2^(25-M_j) + V·2^25 (V = empty registers) — integers,
# order-independent, overflow-free (≤ 256·2^25 < 2^34). The raw HLL
# estimate alpha_256·m²/Σ2^(-M_j) = alpha_256·2^41 / T is ONE IEEE
# double division of exact integers, identical on any engine; the
# small-range regime is reported as a flag (linear counting needs
# ln(), whose last-ulp behavior is libm-specific — flagged, not
# computed, to keep the entry bit-deterministic).
# alpha_256, built from DOUBLE literals in BOTH dialects: Spark parses
# bare decimal literals as DECIMAL (exact decimal division ≠ IEEE — the
# standing failure class), so the Spark rendering casts every literal.
_HLL_ALPHA_DUCK = "(0.7213 / (1.0 + 1.079 / 256.0))"
_HLL_ALPHA_SPARK = (
    "(CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)"
    " + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE)))"
)
_HLL_2_41 = "CAST(2199023255552 AS DOUBLE)"  # 2^41 = m^2 * 2^25, exact

_X113_ORACLE = f"""
    WITH h AS (
        SELECT l_returnflag,
               l_orderkey,
               ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8))
                   ::UBIGINT::BIGINT AS h
        FROM lineitem
    ),
    reg AS (
        SELECT l_returnflag, h % 256 AS bucket,
               MAX(CASE WHEN h // 256 = 0 THEN 25
                        ELSE 25 - length(bin(h // 256)) END) AS m
        FROM h GROUP BY l_returnflag, h % 256
    ),
    agg AS (
        SELECT l_returnflag,
               CAST(SUM(1::BIGINT << (25 - m)) AS BIGINT) AS t_present,
               CAST(COUNT(*) AS BIGINT) AS n_buckets
        FROM reg GROUP BY l_returnflag
    ),
    ex AS (
        SELECT l_returnflag,
               CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_exact
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT a.l_returnflag,
           e.n_exact,
           CAST(256 - a.n_buckets AS BIGINT) AS v_empty,
           CAST(a.t_present + (256 - a.n_buckets) * 33554432 AS BIGINT)
               AS t_scaled,
           {_HLL_ALPHA_DUCK} * {_HLL_2_41}
               / (a.t_present + (256 - a.n_buckets) * 33554432)
               AS hll_raw_estimate,
           (256 - a.n_buckets) > 0
               AND 2.0 * ({_HLL_ALPHA_DUCK} * {_HLL_2_41}
                   / (a.t_present + (256 - a.n_buckets) * 33554432)) < 1280.0
               AS small_range_regime
    FROM agg a JOIN ex e ON a.l_returnflag = e.l_returnflag
"""


@register(
    "x113_hll_sketch_deterministic",
    _X113_ORACLE,
    doc="""Deterministic HyperLogLog distinct-count sketch — the
    oracle-checked twin x15 (engine-internal approx_count_distinct,
    rows-only) was missing: distinct orders per return flag via m=256
    integer registers over a portable md5-derived 32-bit hash.
    Registers, the 2^25-scaled indicator sum, the empty-register
    count, and the raw estimate are all bit-identical across engines
    (the estimate is one IEEE division of exact integers); the
    small-range (linear-counting) regime is FLAGGED rather than
    computed, because its ln() is the one libm-dependent term.
    n_exact rides along so the sketch's error is visible in the
    output (±~6.5% expected at m=256).

    Scale: the register build is ONE hash aggregate with map-side
    combine — (group, 256) keys regardless of fact count — and the
    finish is arithmetic on a |groups|-row frame. Registers merge by
    MAX, so shards/days/executors combine without re-scanning: the
    100 TB distinct-count shape (vs q24's exact key expansion).
    Flajolet et al. 2007; Heule et al. EDBT'13 (the ++ bias table is
    a float lookup, deliberately out of scope for the deterministic
    twin).""",
)
def x113_hll_sketch_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_orderkey")
    h = li.select(
        "l_returnflag",
        "l_orderkey",
        F.expr(
            "CAST(conv(substring(md5(CAST(l_orderkey AS STRING)), 1, 8), 16, 10)"
            " AS BIGINT)"
        ).alias("h"),
    )
    reg = (
        h.groupBy("l_returnflag", (F.col("h") % 256).alias("bucket"))
        .agg(
            F.max(
                F.expr(
                    "CASE WHEN h div 256 = 0 THEN 25"
                    "     ELSE 25 - length(bin(h div 256)) END"
                )
            ).alias("m")
        )
    )
    agg = reg.groupBy("l_returnflag").agg(
        F.expr("CAST(SUM(shiftleft(1L, 25 - m)) AS BIGINT)").alias("t_present"),
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_buckets"),
    )
    ex = li.groupBy("l_returnflag").agg(
        F.expr("CAST(COUNT(DISTINCT l_orderkey) AS BIGINT)").alias("n_exact")
    )
    t_total = "(t_present + (256 - n_buckets) * 33554432)"
    return (
        agg.join(ex, "l_returnflag")
        .select(
            "l_returnflag",
            "n_exact",
            F.expr("CAST(256 - n_buckets AS BIGINT)").alias("v_empty"),
            F.expr(t_total).alias("t_scaled"),
            F.expr(f"{_HLL_ALPHA_SPARK} * {_HLL_2_41} / {t_total}").alias(
                "hll_raw_estimate"
            ),
            F.expr(
                f"(256 - n_buckets) > 0 AND "
                f"CAST(2.0 AS DOUBLE) * ({_HLL_ALPHA_SPARK} * {_HLL_2_41} / {t_total}) < CAST(1280.0 AS DOUBLE)"
            ).alias("small_range_regime"),
        )
    )


# ---------------------------------------------------------------------------
# x114 — deterministic histogram quantile sketch (twin of x21/q49)
# ---------------------------------------------------------------------------
# Fixed equi-width layout over the DOMAIN-KNOWN price range: 1024
# buckets of width 128 covering [0, 131072) — l_extendedprice is
# bounded by 50 · max retail price ≈ 105k by construction, and the
# top bucket clamps defensively. Quantile q at integer rank
# r = ceil(q·n) (exact: 100·rank ≥ pct·n cross-multiplication); the
# answer interpolates inside the first bucket whose cumulative count
# reaches r, all in integer micros:
#   approx_micros = lo·1e6 + ((r - cum_before)·128·1e6) div cnt
_X114_PCTS = (25, 50, 75, 95)

_X114_ORACLE = f"""
    WITH b AS (
        SELECT l_returnflag,
               LEAST(CAST(FLOOR(l_extendedprice / 128.0) AS BIGINT), 1023)
                   AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY 1, 2
    ),
    c AS (
        SELECT l_returnflag, bucket, cnt,
               SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY bucket)
                   AS cum,
               SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
        FROM b
    ),
    p AS (SELECT unnest([{", ".join(str(p) for p in _X114_PCTS)}]) AS pct),
    hit AS (
        SELECT c.l_returnflag, p.pct, c.bucket, c.cnt, c.cum, c.n,
               ROW_NUMBER() OVER (
                   PARTITION BY c.l_returnflag, p.pct ORDER BY c.bucket
               ) AS rn
        FROM c JOIN p ON 100 * c.cum >= p.pct * c.n
    )
    SELECT l_returnflag, CAST(pct AS BIGINT) AS pct,
           CAST(n AS BIGINT) AS n_rows,
           CAST(CAST(bucket * 128 AS BIGINT) * 1000000
             + (((((pct * n + 99) // 100) - (cum - cnt)) * 128) * 1000000)
               // cnt AS BIGINT) AS approx_micros
    FROM hit
    WHERE rn = 1
"""


@register(
    "x114_histogram_quantile_sketch",
    _X114_ORACLE,
    doc="""Deterministic mergeable-histogram quantile sketch — the
    oracle-checked twin x21/q49 (engine-internal approx_percentile,
    rows-only) was missing: p25/p50/p75/p95 of extended price per
    return flag from a FIXED 1024-bucket equi-width histogram
    (width 128 over the domain-known [0, 131072) price range, top
    bucket clamped). Rank targets and within-bucket interpolation are
    exact integer arithmetic (ceil via (pct·n+99) div 100, micros via
    div), so both engines emit identical bigints; accuracy is bounded
    by the bucket width (±128 absolute — the sketch contract).

    Scale: ONE map-side-combining aggregate collapses any fact count
    to ≤ 1024·|groups| rows; the cumulative scan and rank probe run
    on that tiny frame (a |groups|-partitioned window over ≤1024
    rows, never the facts). Histograms merge by bucket-wise SUM
    across shards/days — the mergeability approx_percentile's
    t-digest offers, with none of its engine-specific centroid
    placement.""",
)
def x114_histogram_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    b = li.groupBy(
        "l_returnflag",
        F.expr(
            "LEAST(CAST(FLOOR(l_extendedprice / 128.0) AS BIGINT), 1023L)"
        ).alias("bucket"),
    ).agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("cnt"))
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("l_returnflag")
    c = b.select(
        "l_returnflag",
        "bucket",
        "cnt",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    pcts = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in _X114_PCTS])).alias("pct")
    )
    hit = c.join(pcts, F.expr("100 * cum >= pct * n"))
    w_first = Window.partitionBy("l_returnflag", "pct").orderBy("bucket")
    first = hit.withColumn("rn", F.row_number().over(w_first)).filter(
        F.col("rn") == 1
    )
    return first.select(
        "l_returnflag",
        F.col("pct").cast("long").alias("pct"),
        F.col("n").cast("long").alias("n_rows"),
        F.expr(
            "CAST(bucket * 128 AS BIGINT) * 1000000"
            " + ((((pct * n + 99) div 100) - (cum - cnt)) * 128 * 1000000)"
            " div cnt"
        ).alias("approx_micros"),
    )


# ---------------------------------------------------------------------------
# x130 — deterministic count-min sketch (round 11)
# ---------------------------------------------------------------------------
# The third sketch class: x113 estimates CARDINALITY (HLL), x114
# estimates QUANTILES (mergeable histogram); count-min (Cormode &
# Muthukrishnan 2005) estimates FREQUENCIES — the heavy-hitter /
# n-gram-count primitive a contamination checker or stop-list builder
# runs when the exact vocabulary no longer fits. D=4 hash rows of
# W=256 counters; est(g) = min over rows of cell[r][h_r(g)] — always
# an OVER-estimate, never under. Row hashes are the repo's portable
# md5 convention salted per row (md5(gram || '#' || r), first 8 hex),
# so every cell, estimate, and overestimate is bit-identical across
# engines, and the whole sketch — not just its size — value-hashes.
# W=256 is deliberately TIGHT against the 916-bigram gate vocabulary
# so the error the sketch trades for its 4·W footprint is VISIBLE in
# the checked output (the two-scale probe measured overestimates on
# 25-28 of the top-30 at both gate scales; a vacuous-at-gate width
# would check nothing).

_CM_D, _CM_W = 4, 256

_X130_ORACLE = rf"""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        FROM documents
    ),
    bg AS (
        SELECT unnest([array_to_string(w[i:i+1], ' ')
                FOR i IN range(1, GREATEST(len(w)-1, 1) + 1)]) AS gram
        FROM w
    ),
    freq AS (
        SELECT gram, CAST(COUNT(*) AS BIGINT) AS f FROM bg GROUP BY gram
    ),
    hashed AS (
        SELECT gram, f, r,
               CAST(('0x' || substr(md5(gram || '#' || CAST(r AS VARCHAR)),
                                    1, 8))::UBIGINT % {_CM_W} AS BIGINT) AS c
        FROM freq, UNNEST([0, 1, 2, 3]) AS t(r)
    ),
    sketch AS (
        SELECT r, c, CAST(SUM(f) AS BIGINT) AS cell
        FROM hashed GROUP BY r, c
    ),
    est AS (
        SELECT h.gram, h.f, MIN(s.cell) AS cm_est
        FROM hashed h JOIN sketch s ON s.r = h.r AND s.c = h.c
        GROUP BY h.gram, h.f
    )
    SELECT gram, f AS exact_count, cm_est,
           CAST((1000000 * (cm_est - f)) // f AS BIGINT) AS overestimate_ppm
    FROM est
    ORDER BY f DESC, gram ASC LIMIT 30
"""


@register(
    "x130_countmin_bigrams",
    _X130_ORACLE,
    doc="""Deterministic count-min sketch over the corpus bigram
    stream (Cormode & Muthukrishnan 2005) — frequency estimation, the
    sketch class x113 (cardinality) and x114 (quantiles) don't cover.
    D=4 portable md5-salted hash rows × W=256 counters; per bigram the
    estimate is the MIN of its D cells (never an under-count), and the
    checked output is the top-30 exact heavy hitters with exact count,
    sketch estimate, and overestimate in exact ppm — the width/error
    trade made visible and value-hashed (W is tight against the gate
    vocabulary BY DESIGN; at production scale W grows and the shape is
    unchanged).

    Scale: ONE map-side-combining aggregate collapses the gram stream
    to ≤ D·W integer cells (the sketch merges associatively across
    partitions/executors/days — the streaming-friendly property that
    motivates it); the estimate join BROADCASTS the sketch, which is
    bounded by construction (D·W rows, constants), never by data. The
    exact-count side exists only as the eval's ground truth — a
    production deployment keeps just the sketch aggregate.""",
)
def x130_countmin_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.dedup import (
        fan_out,
        word_ngrams_all,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    bg = fan_out(docs).select(
        F.explode(word_ngrams_all(F.col("text"), 2)).alias("gram")
    )
    freq = bg.groupBy("gram").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("f")
    )
    hashes = F.array(
        *[
            F.expr(
                f"CAST(conv(substring(md5(concat(gram, '#', '{r}')), 1, 8),"
                f" 16, 10) AS BIGINT) % {_CM_W}"
            )
            for r in range(_CM_D)
        ]
    )
    hashed = freq.select(
        "gram", "f", F.posexplode(hashes).alias("r", "c")
    )
    sketch = hashed.groupBy("r", "c").agg(
        F.expr("CAST(SUM(f) AS BIGINT)").alias("cell")
    )
    est = (
        hashed.join(F.broadcast(sketch), ["r", "c"])
        .groupBy("gram", "f")
        .agg(F.min("cell").alias("cm_est"))
    )
    return (
        est.select(
            "gram",
            F.col("f").alias("exact_count"),
            "cm_est",
            F.expr(
                "CAST((1000000 * (cm_est - f)) div f AS BIGINT)"
            ).alias("overestimate_ppm"),
        )
        .orderBy(F.col("exact_count").desc(), "gram")
        .limit(30)
    )


# ---------------------------------------------------------------------------
# x131 — deterministic Bloom filter (round 12: the MEMBERSHIP sketch)
# ---------------------------------------------------------------------------
# Completes the mergeable-sketch quartet (x113 cardinality, x114
# quantiles, x130 frequency). m = 2048 bits packed into 33 bigint
# words (63 bits/word — sign-safe shifts, probed bit-identical across
# engines), k = 2 md5-salted hashes. The corpus side (doc_id % 10 <> 0,
# x40's standing-corpus split) inserts its distinct text fingerprints;
# the new-batch side (doc_id % 10 = 0) probes. m is deliberately TIGHT
# against the ~450 gate-scale corpus fingerprints so the false-positive
# rate the filter trades for its 33-long footprint is VISIBLE in the
# checked output (two-scale probe: 4 false positives of 50 probes at
# sf0.001, 8 at sf0.01, zero true dups across the split at either —
# every hit row with in_corpus = 0 IS a measured false positive), and
# the never-false-negative side is structural: a probe with bloom_hit
# = 0 is PROVEN absent.

_BLOOM_M, _BLOOM_K = 2048, 2
_BLOOM_WORD = 63


def _bloom_oracle(m: int, k: int) -> str:
    rs = ", ".join(str(r) for r in range(k))
    pos = (
        "CAST(('0x' || substr(md5(fp || '#' || CAST(r AS VARCHAR)), 1, 8))"
        f"::UBIGINT % {m} AS BIGINT)"
    )
    return f"""
    WITH newd AS (SELECT doc_id, md5(text) AS fp FROM documents
                  WHERE doc_id % 10 = 0),
    corp AS (SELECT DISTINCT md5(text) AS fp FROM documents
             WHERE doc_id % 10 <> 0),
    cpos AS (SELECT {pos} AS pos FROM corp, UNNEST([{rs}]) AS t(r)),
    words AS (SELECT pos // {_BLOOM_WORD} AS w,
                     bit_or(CAST(1 AS BIGINT)
                            << CAST(pos % {_BLOOM_WORD} AS INT)) AS bits
              FROM cpos GROUP BY 1),
    ph AS (SELECT doc_id, {pos} AS pos FROM newd, UNNEST([{rs}]) AS t(r)),
    chk AS (SELECT ph.doc_id,
                   CASE WHEN (COALESCE(wo.bits, 0)
                              >> CAST(ph.pos % {_BLOOM_WORD} AS INT)) & 1 = 1
                        THEN 1 ELSE 0 END AS ok
            FROM ph LEFT JOIN words wo ON wo.w = ph.pos // {_BLOOM_WORD}),
    hit AS (SELECT doc_id,
                   CASE WHEN SUM(ok) = {k} THEN 1 ELSE 0 END AS bloom_hit
            FROM chk GROUP BY doc_id),
    exact AS (SELECT DISTINCT n.doc_id FROM newd n JOIN corp c USING (fp))
    SELECT h.doc_id,
           CAST(h.bloom_hit AS BIGINT) AS bloom_hit,
           CAST(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
               AS in_corpus
    FROM hit h LEFT JOIN exact e USING (doc_id)
    ORDER BY h.doc_id
"""


_X131_ORACLE = _bloom_oracle(_BLOOM_M, _BLOOM_K)


@register(
    "x131_bloom_membership",
    _X131_ORACLE,
    doc="""Deterministic Bloom filter (Bloom, CACM 1970) — MEMBERSHIP,
    the fourth mergeable-sketch class (x113 cardinality, x114
    quantiles, x130 frequency): the standing corpus's distinct text
    fingerprints insert into a 2048-bit filter packed as 33 bigint
    words (63 bits/word, sign-safe cross-engine shifts; k = 2
    md5-salted hashes, the repo's portable convention), and every
    new-batch document is probed — output is the per-probe verdict
    (bloom_hit) against the exact truth (in_corpus), so the filter's
    ONE-SIDED error is value-hashed: bloom_hit = 0 rows are proofs of
    absence (never a false negative, structural), bloom_hit = 1 /
    in_corpus = 0 rows are the measured false positives the tight
    gate-scale m makes visible BY DESIGN (4 of 50 probes at sf0.001,
    8 at sf0.01; at production scale m grows with the corpus and the
    shape is unchanged).

    Scale: building the filter is ONE map-side-combining bit_or
    aggregate to ≤ 33 word rows (associative shard-merge, same algebra
    as the other three sketches — pinned in test_sketch_merge.py);
    probing broadcasts the densified single-row word array and runs k
    shifts per row in a narrow projection — no explode, no per-probe
    exchange. This is the join-prune primitive x132 wires into x40's
    incremental dedup.""",
)
def x131_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.bloom import (
        bloom_word_table,
        with_bloom_hit,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    fp = F.md5(F.col("text")).alias("fp")
    newd = docs.filter(F.col("doc_id") % 10 == 0).select("doc_id", fp)
    corp = docs.filter(F.col("doc_id") % 10 != 0).select(fp).distinct()

    words = bloom_word_table(corp, "fp", _BLOOM_M, _BLOOM_K)
    probed = with_bloom_hit(newd, "fp", words, _BLOOM_M, _BLOOM_K)
    # the exact side is the eval's ground truth only (a production
    # deployment keeps just the filter); it is corpus-sized, so no
    # forced broadcast — the planner picks the strategy
    exact = corp.withColumnRenamed("fp", "__cfp")
    return (
        probed.join(exact, probed["fp"] == exact["__cfp"], "left")
        .select(
            "doc_id",
            F.col("bloom_hit").cast("long").alias("bloom_hit"),
            F.when(F.col("__cfp").isNotNull(), 1)
            .otherwise(0)
            .cast("long")
            .alias("in_corpus"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# x132 — Bloom-pruned incremental dedup (the sketch wired into its
# consumer; round 12, VERDICT r11 item 5)
# ---------------------------------------------------------------------------
# x40's per-source dedup audit, with the exact tier pre-filtered by a
# corpus Bloom filter: only Bloom-POSITIVE new docs enter the exact
# anti-join; never-false-negative makes the prune LOSSLESS, so the
# four x40 columns are IDENTICAL to the unpruned entry — and the
# oracle PROVES that by construction: it computes the dedup columns
# the exact (unpruned) way and only uses the bloom CTEs for the
# n_bloom_pruned audit column, so a MATCH certifies pruned ≡ unpruned
# cross-engine. m = 4096 here (sized for pruning POWER where x131's
# 2048 is sized for visible error): prunes 49/50 new docs at sf0.001,
# 46/50 at sf0.01, 104/500 at sf0.1 (exact, deterministic).

_BLOOM2_M, _BLOOM2_K = 4096, 2


def _x132_oracle() -> str:
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans.catalog_llm import (
        _INCR_DEDUP_ORACLE,
    )

    # reuse x40's CTE body verbatim (everything before its final
    # SELECT) — anchored on the LAST occurrence via rsplit so an
    # earlier appearance of the marker inside a CTE could never
    # truncate the body early and still pass the shape assert
    # (ADVICE r12); if x40's oracle changes shape, this fails the
    # driver gate loudly rather than drifting silently
    parts = _INCR_DEDUP_ORACLE.rsplit("SELECT d.source,", 1)
    assert len(parts) == 2, "x40 oracle shape changed (marker missing)"
    body = parts[0].rstrip()
    assert body.endswith(")"), "x40 oracle shape changed"
    rs = ", ".join(str(r) for r in range(_BLOOM2_K))
    pos = (
        "CAST(('0x' || substr(md5(fp || '#' || CAST(r AS VARCHAR)), 1, 8))"
        f"::UBIGINT % {_BLOOM2_M} AS BIGINT)"
    )
    return f"""{body},
    bcorp AS (SELECT DISTINCT md5(text) AS fp FROM corp),
    bnew AS (SELECT doc_id, md5(text) AS fp FROM newd),
    bcpos AS (SELECT {pos} AS pos FROM bcorp, UNNEST([{rs}]) AS t(r)),
    bwords AS (SELECT pos // {_BLOOM_WORD} AS w,
                      bit_or(CAST(1 AS BIGINT)
                             << CAST(pos % {_BLOOM_WORD} AS INT)) AS bits
               FROM bcpos GROUP BY 1),
    bph AS (SELECT doc_id, {pos} AS pos FROM bnew, UNNEST([{rs}]) AS t(r)),
    bchk AS (SELECT bph.doc_id,
                    CASE WHEN (COALESCE(wo.bits, 0)
                               >> CAST(bph.pos % {_BLOOM_WORD} AS INT)) & 1 = 1
                         THEN 1 ELSE 0 END AS ok
             FROM bph LEFT JOIN bwords wo ON wo.w = bph.pos // {_BLOOM_WORD}),
    bhit AS (SELECT doc_id,
                    CASE WHEN SUM(ok) = {_BLOOM2_K} THEN 1 ELSE 0 END
                        AS bloom_hit
             FROM bchk GROUP BY doc_id)
    SELECT d.source,
           COUNT(*) AS n_new,
           CAST(SUM(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact_dup,
           CAST(SUM(CASE WHEN e.doc_id IS NULL AND nr.doc_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
           CAST(SUM(CASE WHEN e.doc_id IS NULL AND nr.doc_id IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN bh.bloom_hit = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bloom_pruned
    FROM newd d
    LEFT JOIN exact e ON d.doc_id = e.doc_id
    LEFT JOIN near nr ON d.doc_id = nr.doc_id
    JOIN bhit bh ON d.doc_id = bh.doc_id
    GROUP BY d.source
"""


@register(
    "x132_bloom_pruned_incremental_dedup",
    _x132_oracle(),
    doc="""x40's incremental dedup with the Bloom filter doing the
    work it exists for (VERDICT r11 item 5 — the sketch as a SCALE
    LEVER, not a statistic): the standing corpus's fingerprints build
    a 4096-bit packed filter (one bit_or aggregate, ceil(4096/63) =
    66 bigint words), the broadcast filter classifies every new
    document in a
    narrow projection, and ONLY the Bloom-positive slice enters the
    exact-tier anti-join. Lossless by the filter's one-sided error —
    a miss PROVES the fingerprint is new — so the four audit columns
    are IDENTICAL to unpruned x40 (the oracle computes them the exact
    unpruned way; a value-hash MATCH therefore CERTIFIES the
    equality cross-engine, and tests/test_sketch_merge.py pins it
    Spark-vs-Spark too). The new n_bloom_pruned column surfaces the
    prune: 49/50 new docs skip the join at sf0.001, 46/50 at sf0.01,
    104/500 at sf0.1 — deterministic, hash-checked.

    Scale: at 100 TB the exact tier's cost is shuffling the daily
    increment's fingerprints into the anti-join against a corpus-
    sized standing table; with the filter broadcast ingest-side, the
    join's probe input shrinks to the true-dup rate plus the filter's
    FP rate (tunable with m), and the filter itself costs one
    map-side-combining pass that merges associatively across shards
    and days. The near tier is untouched — its inverted-index join
    already scales with true overlap.""",
)
def x132_bloom_pruned_incremental_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.dedup import (
        incremental_dedup_flags,
    )

    docs = read_table(spark, sf_dir, "documents")
    new_batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    flagged = incremental_dedup_flags(
        new_batch,
        corpus,
        id_col="doc_id",
        text_col="text",
        n=3,
        threshold=0.2,
        bloom_prune=(_BLOOM2_M, _BLOOM2_K),
    )
    return flagged.groupBy("source").agg(
        F.count("*").alias("n_new"),
        F.sum(F.col("dup_exact").cast("int")).cast("long").alias("n_exact_dup"),
        F.sum(F.col("dup_near").cast("int")).cast("long").alias("n_near_dup"),
        F.sum(
            (~F.col("dup_exact") & ~F.col("dup_near")).cast("int")
        ).cast("long").alias("n_kept"),
        F.sum(F.col("bloom_pruned").cast("int"))
        .cast("long")
        .alias("n_bloom_pruned"),
    )
