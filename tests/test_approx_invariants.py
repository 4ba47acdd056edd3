"""Quality invariants for the rows-only (engine-specific) operators:
the driver's oracle can't hash-match hash signatures, LSH candidate
sets, IVF results, or HLL estimates — so pin their quality against the
exact twins instead. Bounds carry slack under measured values (LSH
recall measured 1.0, IVF 0.8, HLL error < 1%) so they catch real
regressions, not seed jitter."""

from __future__ import annotations

import duckdb

from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans.catalog import QUERIES


def test_minhash_lsh_recall_vs_exact_jaccard(spark, sf_dir):
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["x02_ngram_jaccard_pairs"].spark(spark, sf_dir).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["x04_minhash_lsh_pairs"].spark(spark, sf_dir).collect()
    }
    assert exact, "exact pair set empty — threshold no longer exercises dedup"
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.8, f"LSH recall degraded: {recall:.2f}"
    # candidate pairs must be ordered and self-free
    assert all(a < b for a, b in lsh)


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    exact = {
        r["neighbor_id"]
        for r in QUERIES["x09_cosine_topk"].spark(spark, sf_dir).collect()
    }
    ivf = {
        r["neighbor_id"]
        for r in QUERIES["x10_ivf_topk"].spark(spark, sf_dir).collect()
    }
    assert len(ivf) == len(exact)  # same k
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.5, f"IVF recall degraded: {recall:.2f}"


def test_lsh_topk_recall_vs_brute_force(spark, sf_dir):
    exact = {
        r["neighbor_id"]
        for r in QUERIES["x09_cosine_topk"].spark(spark, sf_dir).collect()
    }
    lsh = {
        r["neighbor_id"]
        for r in QUERIES["x24_lsh_topk"].spark(spark, sf_dir).collect()
    }
    assert len(lsh) == len(exact)  # same k
    # measured 0.7 at sf0.001/sf0.01 with decorrelated planes (synthetic
    # near-isotropic embeddings are LSH's hardest case); 0.4 bound
    # catches collapse (bucket predicate broken → random 10, or
    # correlated planes → 0.3-0.5) without seed jitter
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.4, f"LSH top-k recall degraded: {recall:.2f}"


def test_hll_within_declared_error(spark, sf_dir):
    approx = {
        r["o_orderstatus"]: r["n_custkeys_approx"]
        for r in QUERIES["x15_approx_distinct"].spark(spark, sf_dir).collect()
    }
    exact = dict(
        duckdb.sql(
            "SELECT o_orderstatus, COUNT(DISTINCT o_custkey) "
            f"FROM read_parquet('{sf_dir}/orders.parquet') GROUP BY 1"
        ).fetchall()
    )
    assert set(approx) == set(exact)
    for k, e in exact.items():
        rel = abs(approx[k] - e) / max(e, 1)
        # rsd=0.02 → 3σ ≈ 6%; 10% bound leaves margin
        assert rel <= 0.10, f"{k}: HLL error {rel:.3f}"


def test_simhash_signatures_deterministic(spark, sf_dir):
    a = {
        r["doc_id"]: r["simhash"]
        for r in QUERIES["x03_simhash_dedup"].spark(spark, sf_dir).collect()
    }
    b = {
        r["doc_id"]: r["simhash"]
        for r in QUERIES["x03_simhash_dedup"].spark(spark, sf_dir).collect()
    }
    assert a == b  # content-derived, run-independent
    assert len(a) > 0


def test_approx_percentile_near_exact(spark, sf_dir):
    approx = {
        r["o_orderstatus"]: (r["median_approx"], r["p95_approx"])
        for r in QUERIES["x21_approx_percentiles"].spark(spark, sf_dir).collect()
    }
    exact = {
        r["o_orderstatus"]: (r["median_price"], r["p95_price"])
        for r in QUERIES["q26_percentiles"].spark(spark, sf_dir).collect()
    }
    assert set(approx) == set(exact)
    for k in exact:
        for a, e in zip(approx[k], exact[k]):
            assert abs(a - e) / max(abs(e), 1) <= 0.01, (k, a, e)


def test_windowed_percentiles_approx_within_rank_bound(spark, sf_dir):
    """q49 (percentile_approx, the 100 TB path) vs q47 (exact pinned
    interpolation): the error bound that actually defines the sketch
    is RANK-space, not value-space — a t-digest at accuracy=10000 on
    groups « 10000 rows must return an actual group value within ±1
    row of the target rank (value-space distance can be arbitrarily
    large in a 2-row group where exact interpolation sits mid-gap).
    Checked per group: #(v < approx) ≤ q·n + 1 and #(v ≤ approx) ≥
    q·n − 1, plus the exact bands bracket the approx ones."""
    exact = {
        (r["w_start"], r["event_type"]): (r["p50"], r["p90"])
        for r in QUERIES["q47_windowed_percentiles"].spark(spark, sf_dir).collect()
    }
    approx = {
        (r["w_start"], r["event_type"]): (r["p50"], r["p90"])
        for r in QUERIES["q49_windowed_percentiles_approx"].spark(spark, sf_dir).collect()
    }
    assert set(approx) == set(exact) and exact

    from aws_etl_pipeline_financial_streamlit_dashboard_spark.functions.scalars import ts_micros
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.readers import read_table
    from pyspark.sql import functions as F

    ev = read_table(spark, sf_dir, "events").select(
        "event_type", "value", F.col("ts").cast("timestamp").alias("ts")
    )
    bucket = F.timestamp_micros(
        (ts_micros("ts") / 21_600_000_000).cast("long") * 21_600_000_000
    )
    groups: dict = {}
    for r in ev.select(
        F.date_format(bucket, "yyyy-MM-dd HH:mm:ss").alias("w_start"),
        "event_type",
        "value",
    ).collect():
        if r["value"] is not None:
            groups.setdefault((r["w_start"], r["event_type"]), []).append(r["value"])

    for k, (a50, a90) in approx.items():
        vals = sorted(groups[k])
        n = len(vals)
        for q, a in ((0.5, a50), (0.9, a90)):
            lt = sum(1 for v in vals if v < a)
            le = sum(1 for v in vals if v <= a)
            assert lt <= q * n + 1, (k, q, a, lt, n)
            assert le >= q * n - 1, (k, q, a, le, n)
        e50, e90 = exact[k]
        assert a50 <= e90 and a90 >= e50, (k, (a50, a90), (e50, e90))


def test_lsh_blocked_pairs_recall_and_exact_precision(spark, sf_dir):
    exact = {
        (r["id_a"], r["id_b"], r["cosine_sim"])
        for r in QUERIES["x16_embedding_dup_pairs"].spark(spark, sf_dir).collect()
    }
    blocked = {
        (r["id_a"], r["id_b"], r["cosine_sim"])
        for r in QUERIES["x27_lsh_blocked_dup_pairs"].spark(spark, sf_dir).collect()
    }
    assert exact, "exact pair set empty — x16 threshold no longer bites"
    # the verify step applies x16's exact predicate, so every survivor
    # must be an exact pair with the identical rounded similarity
    assert blocked <= exact
    # measured 0.885 (sf0.001) / 1.0 (sf0.01) at L=16; 0.7 catches
    # collapse (e.g. correlated planes — the bug this test was born
    # from measured flat 0.5) without seed jitter
    recall = len(blocked & exact) / len(exact)
    assert recall >= 0.7, f"blocked near-dup recall degraded: {recall:.2f}"


def test_codegen_kernels_match_hof_reference(spark, sf_dir):
    """The dim-unrolled codegen kernels (cosine_fixed/cosine_pre,
    simhash_table, hyperplane_bucket_table) must stay bit-identical to
    their interpreted HOF reference forms — they were introduced as
    pure execution-path swaps, and any drift (accumulation order, null
    handling, tie behavior) would silently change oracle-checked
    results downstream."""
    from pyspark.sql import functions as F

    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators import dedup as D
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators import similarity as S
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 40)
    a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    pairs = a.join(F.broadcast(b), F.col("ia") < F.col("ib"))
    bad = pairs.select(
        S.cosine(F.col("va"), F.col("vb")).alias("hof"),
        S.cosine_fixed("va", "vb", 64).alias("fixed"),
    ).filter(~F.col("hof").eqNullSafe(F.col("fixed")))
    assert bad.count() == 0

    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 80)
    col_form = {
        r["doc_id"]: r["s"]
        for r in docs.select(
            "doc_id", D.simhash(F.col("text"), n=2).alias("s")
        ).collect()
    }
    table_form = {
        r["doc_id"]: r["simhash"]
        for r in D.simhash_table(docs, "doc_id", "text", n=2).collect()
    }
    assert col_form == table_form and len(col_form) > 0

    col_buckets = {
        r["vec_id"]: list(r["b"])
        for r in emb.select(
            "vec_id", S._hyperplane_buckets(F.col("embedding"), 64, 4, 8).alias("b")
        ).collect()
    }
    table_buckets = {
        r["id"]: list(r["__buckets"])
        for r in S.hyperplane_bucket_table(emb, 64, 4, 8).collect()
    }
    assert col_buckets == table_buckets and len(col_buckets) > 0


def test_fan_out_guard(spark, sf_dir):
    """fan_out must be the IDENTITY when the input already has at least
    default-parallelism partitions (the 100 TB case — adding a
    repartition there would shuffle the corpus), and must repartition
    up to default parallelism when the scan is under-split (the
    single-row-group local case)."""
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.dedup import fan_out
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.readers import read_table

    par = spark.sparkContext.defaultParallelism
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    wide = docs.repartition(par + 4)
    assert fan_out(wide) is wide  # no exchange added at scale
    narrow = docs.coalesce(1)
    assert fan_out(narrow).rdd.getNumPartitions() == par


def test_fan_out_ignores_file_count_past_an_exchange(spark, tmp_path):
    """Round-13 regression: the inputFiles() fast path reported the
    SCAN's file count for a dropDuplicates OUTPUT, so over a multi-file
    input the guard no-op'ed while AQE had coalesced the dedup exchange
    to one partition — the downstream shingle join ran a single core
    (53 s vs 6 s on the all-distinct probe corpus, docs/PERF.md). The
    fast path must only trust the file count on scan-rooted frames."""
    from pyspark.sql import functions as F

    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.dedup import (
        _scan_rooted,
        fan_out,
    )

    par = spark.sparkContext.defaultParallelism
    d = str(tmp_path / "multi")
    spark.range(2000).select(
        F.col("id"), F.col("id").cast("string").alias("text")
    ).repartition(par + 4).write.parquet(d)
    docs = spark.read.parquet(d)
    assert len(docs.inputFiles()) >= par
    assert _scan_rooted(docs) and fan_out(docs) is docs

    deduped = docs.dropDuplicates(["text"])
    assert not _scan_rooted(deduped)
    fanned = fan_out(deduped)
    assert fanned is not deduped or (
        deduped.rdd.getNumPartitions() >= par
    ), "guard trusted the scan's file count past the dedup exchange"
    assert fanned.rdd.getNumPartitions() >= par

    # Round 14 (VERDICT r13 item 2): SQL-origin exchanges analyze to
    # node names the old denylist did not carry — `SELECT DISTINCT`
    # analyzes to ``Distinct`` (only the DataFrame API's dropDuplicates
    # produces ``Deduplicate``), so the fast path fired past an
    # AQE-coalesced exchange: the exact single-core trap, reachable
    # from SQL. The allowlist fails closed on any unknown node.
    docs.createOrReplaceTempView("fanout_probe_docs")
    sql_distinct = spark.sql("SELECT DISTINCT text FROM fanout_probe_docs")
    assert not _scan_rooted(sql_distinct)
    assert fan_out(sql_distinct).rdd.getNumPartitions() >= par
    # and the other two analyzer-level exchange nodes the denylist missed
    sql_except = spark.sql(
        "SELECT text FROM fanout_probe_docs EXCEPT "
        "SELECT text FROM fanout_probe_docs WHERE id < 0"
    )
    assert not _scan_rooted(sql_except)
    # a narrow SQL frame over the same files must still take the fast path
    sql_narrow = spark.sql(
        "SELECT id, text FROM fanout_probe_docs WHERE id >= 0"
    )
    assert _scan_rooted(sql_narrow) and fan_out(sql_narrow) is sql_narrow


def test_ivf_deterministic_recall_vs_brute_force(spark, sf_dir):
    exact = {
        r.neighbor_id
        for r in QUERIES["x09_cosine_topk"].spark(spark, sf_dir).collect()
    }
    ivf = {
        r.neighbor_id
        for r in QUERIES["x58_ivf_deterministic_topk"].spark(spark, sf_dir).collect()
    }
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.5, f"deterministic IVF recall degraded: {recall:.2f}"


def test_lsh_deterministic_recall_vs_brute_force(spark, sf_dir):
    exact = {
        r.neighbor_id
        for r in QUERIES["x09_cosine_topk"].spark(spark, sf_dir).collect()
    }
    lsh = {
        r.neighbor_id
        for r in QUERIES["x59_lsh_deterministic_topk"].spark(spark, sf_dir).collect()
    }
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.5, f"deterministic LSH recall degraded: {recall:.2f}"


def test_int_buckets_match_float_buckets_mostly(spark, sf_dir):
    """Micro-quantizing coefficients moves each hyperplane by ≤ 5e-7
    per axis — only vectors essentially ON a plane can change sign, so
    integer and float buckets must agree for almost every vector."""
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.similarity import (
        hyperplane_bucket_table,
        hyperplane_bucket_table_int,
    )
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.readers import (
        read_table,
    )

    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    f = hyperplane_bucket_table(emb, 64, 4, 8).withColumnRenamed(
        "__buckets", "bf"
    )
    i = hyperplane_bucket_table_int(emb, 64, 4, 8).withColumnRenamed(
        "__buckets", "bi"
    )
    joined = f.join(i, "id").collect()
    same = sum(1 for r in joined if r.bf == r.bi)
    assert same / len(joined) >= 0.95


def test_pq_fused_training_bit_identical_to_sequential(spark, sf_dir):
    """VERDICT r11 item 1: x108's fused subspace-keyed Lloyd DAG must
    reproduce the four sequential 16-dim trainings EXACTLY — same
    seed rows (slicing commutes with the (id mod m, id) order/limit),
    same integer-micro distances and means — so the entry's oracle is
    untouched. Profiled 1.85× faster at sf10
    (``git show 130db1f:tools/profile_pq_fuse.py``)."""
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans.catalog_ext import (
        _pq_recon_fused,
        _pq_recon_sequential,
    )
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    seq = {
        r["vec_id"]: tuple(r["__cvec"])
        for r in _pq_recon_sequential(emb).collect()
    }
    fused = {
        r["vec_id"]: tuple(r["__cvec"])
        for r in _pq_recon_fused(emb).collect()
    }
    assert seq == fused
    assert len(seq) == emb.count()


def test_ivf_train_sampling_gate(spark, sf_dir):
    """Round 14: the IVF trainer's size-gated training subsample. With
    the gate forced ON (min_bytes=0) and a tiny training target, the
    Lloyd iterations see a subsample but the FINAL assignment must
    still cover every corpus row exactly once with in-range cells;
    with the default gate, the local corpora sit far below 32 MB so
    the plan is the ungated one (train_pts is points — the bit-
    identical-below-gate contract)."""
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.similarity import (
        ivf_assign_centroids,
    )
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.readers import (
        read_table,
    )

    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = emb.count()

    assigned, cents = ivf_assign_centroids(
        emb, n_cells=8, n_iters=3, dim=64,
        train_sample_rows=50, train_sample_min_bytes=0,
    )
    rows = assigned.collect()
    assert len(rows) == n, "sampled training must not drop corpus rows"
    assert len({r["pid"] for r in rows}) == n
    cells = {r["cell"] for r in rows}
    assert cells and cells <= set(range(1, 9))
    assert cents.count() == len(cells)

    # the sample selector is pure arithmetic on a HASH of the id
    # (ADVICE r14 — id-layout-independent), so two builds pick the
    # same training rows (reproducible index contract) and a sparse /
    # stride-allocated id space still yields ~n/step rows
    from pyspark.sql import functions as F

    step = -(-n // 50)
    s1 = {r["vec_id"] for r in emb.filter(
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(step)) == 0).collect()}
    assert 0 < len(s1) < n
    # stride-allocated ids (every id ≡ 0 mod a large stride) — the raw
    # pmod selector would have taken the WHOLE corpus or nothing
    sparse = emb.select((F.col("vec_id") * 1000).alias("vec_id"), "embedding")
    s2 = sparse.filter(
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(step)) == 0
    ).count()
    assert 0 < s2 < n
