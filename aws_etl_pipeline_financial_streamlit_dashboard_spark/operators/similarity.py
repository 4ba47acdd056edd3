"""Similarity search over embedding columns (driver-mandated extension
surface, SURVEY.md §2.13): brute-force cosine top-k as the exact
baseline, LSH-bucketed and IVF variants as the scale paths.

Embeddings are ``array<float>`` columns; all math is done in built-in
higher-order functions (zip_with/aggregate — JVM-side, codegen'd), cast
to double for deterministic parity with the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from aws_etl_pipeline_financial_streamlit_dashboard_spark.functions.scalars import round_half_up as rhu


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢbᵢ over two array columns, computed in double.

    Column-API twin of the :func:`_sql_dot` fold (same accumulation
    order, bit-identical values). Since round 11 the fold IS the hot
    kernel form — the old dim-unrolled chain was re-measured 6.7×
    slower at pair-kernel scale
    (``git show 130db1f:tools/profile_dot_kernel.py``); the named-column
    helpers (:func:`cosine_fixed`/:func:`cosine_pre`)
    remain the per-table entry points."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity with NULL on zero-norm inputs (nullif guard —
    same NULL-division semantic as the rest of the engine). Column-API
    twin of :func:`cosine_fixed` — identical values."""
    return dot(a, b) / F.nullif(l2_norm(a) * l2_norm(b), F.lit(0.0))


def _sql_dot(a: str, b: str, dim: int) -> str:
    """SQL text for the pairwise dot product as a HOF fold,
    left-associated from 0.0D — the accumulation order (and hence
    every float result) is bit-identical to :func:`dot` AND to the
    previous dim-unrolled ``get()`` chain (probed over 18k sf0.01
    pairs, 0 mismatches, round 11).

    Form chosen by measurement
    (``git show 130db1f:tools/profile_dot_kernel.py``, sf10 7M-pair
    eval-ladder kernel, VERDICT r10 item 1): the unrolled
    64-term ``+`` chain codegens to a straight-line expression tree
    the JIT cannot vectorize — r10 measured its ~45 core-µs/pair
    floor — while this fold gives the engine a loop over the array
    data and runs the identical kernel **6.7× faster** (22.9 s →
    3.4 s median, same result set). ``dim`` is kept for signature
    stability; the fixed-dim contract stands (arrays are exactly
    ``dim`` — every sub/truncated-vector call site materializes via
    ``slice()`` first), and a malformed SHORT vector still yields
    NULL: ``zip_with`` pads the shorter side with NULLs, NULL·cast
    propagates through the sum exactly like the old get()-past-end
    NULL. EMPTY-array semantics differ from the old chain, though:
    ``aggregate`` over two empty arrays returns the ``0.0`` init
    where ``get(a, 0)`` returned NULL — so dot([],[]) = 0.0 and
    :func:`l2_dist2_fixed` ([],[]) = 0.0 ("identical"), not NULL.
    No catalog data path can produce an empty embedding (readers
    enforce the fixed dim; every truncation is ``slice(1, k)`` with
    k ≥ 1), and cosine stays NULL-safe regardless via its
    nullif-zero-norm guard, so the fold keeps the simple init rather
    than paying a size() guard per pair (ADVICE r11)."""
    return (
        f"aggregate(zip_with({a}, {b},"
        " (x, y) -> cast(x as double) * cast(y as double)),"
        " 0.0D, (acc, v) -> acc + v)"
    )


def _sql_norm2(a: str, dim: int) -> str:
    """Σ aᵢ² as the same left-associated fold (see :func:`_sql_dot`;
    bit-identical to the previous unrolled form)."""
    return (
        f"aggregate({a}, 0.0D,"
        " (acc, x) -> acc + cast(x as double) * cast(x as double))"
    )


def cosine_fixed(a: str, b: str, dim: int) -> Column:
    """Cosine similarity for two array columns of known dimensionality,
    referenced BY NAME, built as one parsed SQL expression.

    Same value as :func:`cosine` (identical accumulation order, same
    nullif zero-norm guard). Since round 11 the kernel body is the
    HOF fold itself (see :func:`_sql_dot` — re-measured 6.7× faster
    than the old unrolled chain at the sf10 pair-kernel scale); one
    ``F.expr`` keeps plan-build cost at a single py4j call, and the
    fold form stays tiny for any dim (no janino method-size concern).
    Callers know their embedding dim (same contract as lsh/ivf)."""
    return F.expr(
        f"{_sql_dot(a, b, dim)} / nullif(sqrt({_sql_norm2(a, dim)})"
        f" * sqrt({_sql_norm2(b, dim)}), 0.0D)"
    )


def with_l2_norm(
    df: DataFrame, vec_col: str, dim: int, out_col: str = "__nrm"
) -> DataFrame:
    """Attach the vector's L2 norm as a column (fold form, _sql_norm2).

    Precompute norms BEFORE a pair join: a norm inlined at the pair
    site is recomputed for every candidate pair — O(|pairs|·d) work
    for a quantity that is O(|rows|·d). (Historically this also dodged
    a janino 64 KB method overflow when the old unrolled cosine was
    inlined twice; the fold form no longer risks that, but the
    work-factoring argument stands on its own.)"""
    return df.withColumn(out_col, F.expr(f"sqrt({_sql_norm2(vec_col, dim)})"))


def cosine_pre(
    a_vec: str, b_vec: str, a_nrm: str, b_nrm: str, dim: int
) -> Column:
    """Cosine from precomputed norms (see :func:`with_l2_norm`):
    identical value to :func:`cosine_fixed` — same dot accumulation
    order, same norm arithmetic, same nullif zero guard — but only
    the dot fold runs at the per-pair site."""
    return F.expr(_sql_dot(a_vec, b_vec, dim)) / F.nullif(
        F.col(a_nrm) * F.col(b_nrm), F.lit(0.0)
    )


def l2_dist2_fixed(a: str, b: str, dim: int) -> Column:
    """Squared L2 distance for named array columns of known dim — the
    same left-associated HOF fold as :func:`_sql_dot` (bit-identical
    values to the previous unrolled form; same round-11 measurement
    basis). Empty-array caveat as in :func:`_sql_dot`: ([],[]) folds
    to the 0.0 init ("distance 0") where the old get() chain gave
    NULL — unreachable under the fixed-dim contract, documented per
    ADVICE r11."""
    return F.expr(
        f"aggregate(zip_with({a}, {b},"
        " (x, y) -> (cast(x as double) - cast(y as double))"
        " * (cast(x as double) - cast(y as double))),"
        " 0.0D, (acc, v) -> acc + v)"
    )


def brute_force_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine top-k neighbors of one stored vector.

    The single query vector broadcasts to every partition (a 1-row
    broadcast nested-loop join); similarity is computed in one narrow
    pass and top-k resolves as TakeOrderedAndProject (per-partition
    heaps + driver merge — no global sort, no full shuffle). This is
    the exact-scan baseline: O(N·d) work fully parallel across splits.

    Determinism: similarity is rounded before ranking and ties break on
    id, so the result set is stable across engines and partitionings.
    """
    if dim is None:
        query = embeddings.filter(F.col(id_col) == query_id).select(
            F.col(vec_col).alias("__qvec")
        )
        sim = rhu(cosine(F.col(vec_col), F.col("__qvec")), 6)
        corpus = embeddings
    else:
        query = with_l2_norm(
            embeddings.filter(F.col(id_col) == query_id).select(
                F.col(vec_col).alias("__qvec")
            ),
            "__qvec",
            dim,
            "__qnrm",
        )
        sim = rhu(cosine_pre(vec_col, "__qvec", "__nrm", "__qnrm", dim), 6)
        corpus = with_l2_norm(embeddings, vec_col, dim)
    return (
        corpus.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(query))
        .select(F.col(id_col).alias("neighbor_id"), sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id"))
        .limit(k)
    )


def _pairwise_sim(q, c, dim):
    """ONE definition of the pinned pairwise-cosine convention (rhu 6dp;
    precomputed norms + the _sql_dot fold when dim is known) shared by every
    brute-force ranking op — knn_join_brute_force and
    hard_negative_topk must never diverge on it, or their oracles'
    shared arithmetic (the x72/x74/x77 triad convention) silently
    splits. Returns (q, c, sim_column); expects __qvec/__cvec."""
    if dim is None:
        return q, c, rhu(cosine(F.col("__cvec"), F.col("__qvec")), 6)
    q = with_l2_norm(q, "__qvec", dim, "__qnrm")
    c = with_l2_norm(c, "__cvec", dim, "__cnrm")
    return q, c, rhu(cosine_pre("__cvec", "__qvec", "__cnrm", "__qnrm", dim), 6)


def knn_join_brute_force(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id_col: str = "vec_id",
    corpus_id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """k-NN join: for every query vector, its k nearest corpus vectors.

    Broadcast the smaller side (queries); rank per query with the
    SKEW-SAFE two-phase top-k (operators/skew.grouped_topk): a partial
    rank within (query, scan-split) keeps k survivors per split before
    the per-query window, so the final exchange carries ≤ k·|splits|
    rows per query instead of the full |Q|·|C| candidate stream. On
    the toy x57 shape this is timing-neutral (the single-task scan
    dominates there — fan_out is that fix; docs/PERF.md); the
    pre-reduction is the property that matters when |C| is a corpus
    and the candidate stream would otherwise hit one reducer per
    query. Results are exactly
    the plain window's (total order: sim desc, id asc).
    O(|Q|·|C|·d) similarity work — exact, parallel over corpus splits;
    use the IVF/LSH paths when |Q|·|C| is too large.
    """
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.skew import (
        grouped_topk,
    )

    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    c = corpus.select(
        F.col(corpus_id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
    )
    q, c, sim = _pairwise_sim(q, c, dim)
    q = F.broadcast(q)
    cands = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine_sim"))
    )
    return grouped_topk(
        cands,
        ["query_id"],
        [F.col("cosine_sim").desc(), F.col("neighbor_id")],
        k,
        rank_col="__rn",
    ).drop("__rn")


def _argmin_cell_sql(vec: str, cs: str) -> str:
    """SQL text for broadcast-codebook cell assignment: fold the
    codebook row's (cell, centroid) struct array into per-cell squared
    L2 distances and take ``array_min`` — struct ordering compares
    (d2, cell) lexicographically, which IS the previous
    ``min_by("cell", struct("d2", "cell"))`` total order (nearest
    cell, smaller id on ties), and makes the result independent of
    the codebook array's collect_list order. The distance is the same
    left-associated zip_with fold as :func:`l2_dist2_fixed`, so every
    d2 is bit-identical to the old crossJoin form."""
    return (
        f"array_min(transform({cs}, s -> struct("
        f"aggregate(zip_with({vec}, s.centroid,"
        " (x, y) -> (cast(x as double) - cast(y as double))"
        " * (cast(x as double) - cast(y as double))),"
        " 0.0D, (acc, v) -> acc + v) AS d2,"
        " s.cell AS cell))).cell"
    )


def ivf_assign_centroids(
    embeddings: DataFrame,
    n_cells: int = 16,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_mod: int = 9973,
    dim: int | None = None,
    train_sample_rows: int = 25_000,
    train_sample_min_bytes: int = 32 * 1024 * 1024,
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: k-means over the corpus (Lloyd iterations
    expressed as DataFrame ops — no driver-side loops over rows).

    Round-13 restructure (VERDICT r12 item 1): ASSIGNMENT IS A NARROW
    PROJECTION. The k (cell, centroid) pairs fold into a single
    broadcast codebook row (bounded by n_cells BY CONSTRUCTION) and
    each vector takes an in-row argmin over that array
    (:func:`_argmin_cell_sql`) — the production IVF shape: broadcast
    the codebook, assign map-side. A Lloyd iteration therefore
    shuffles ONLY the centroid mean (one map-side-combining
    groupBy(cell) with dim avg aggregates), and the tiny centroid
    table is eagerly localCheckpoint'ed per round so no consumer
    re-derives the training lineage.

    The previous shape — per-iteration crossJoin(broadcast(cents)) +
    min_by groupBy(pid), with the final assignment ``.cache()``d —
    computed the same cells but cost 6 wide exchanges, and the cache
    pinned every one of them at the session's static shuffle width:
    AQE cannot re-plan cached subtrees under the default
    ``canChangeCachedPlanOutputPartitioning=false``, so the driver's
    vanilla 200-partition session ran ~25 scheduling waves per stage
    over 500 rows — the whole of x10's 9.7 s full-sweep line
    (decomposition in docs/PERF.md round-13).

    Seeding is deterministic: the ``n_cells`` vectors with the smallest
    ``id mod seed_mod`` act as initial centroids (reproducible without
    RNG). Float means remain summation-order-dependent → consumers
    stay rows-only with recall-invariant tests. Returns
    (assignments(pid, cell, vec), centroids(cell, centroid)).

    Above ``train_sample_min_bytes`` of input (metadata size, no job)
    the Lloyd iterations train on a deterministic ~``train_sample_rows``
    subsample (round 14 — see the inline comment); the final
    assignment always covers the full corpus. Below the gate the plan
    is bit-identical to the ungated form.

    Fault-tolerance note (ADVICE r13): the checkpoints here are LOCAL
    (executor block storage) — on a multi-node cluster an executor
    loss after materialization fails the job instead of recomputing
    from lineage. Acceptable for an index BUILD (re-runnable, and a
    production build persists ``assigned``/``cents`` as tables — the
    durable form); iterative operators that accumulate many rounds of
    lineage route through ``lineage.truncate_lineage(reliable=True)``
    instead.
    """
    seeds = (
        embeddings.orderBy(F.pmod(F.col(id_col), F.lit(seed_mod)), F.col(id_col))
        .limit(n_cells)
        .select(
            F.row_number()
            .over(Window.orderBy(F.col(id_col)))
            .alias("cell"),
            F.expr(
                f"transform({vec_col}, x -> cast(x as double))"
            ).alias("centroid"),
        )
    )
    # fan_out: the argmin fold is O(n_cells·dim) CPU per row on an
    # otherwise NARROW plan — over the testdata's one-row-group files
    # the scan is a single task, so without this the whole assignment
    # runs on one core (measured 19 s at sf10 vs 3 s fanned; identity
    # on a real multi-split corpus).
    from .dedup import fan_out

    points = fan_out(
        embeddings.select(
            F.col(id_col).alias("pid"),
            F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("vec"),
        )
    )

    # Size-gated TRAINING sample (round 14, VERDICT r13 item 6 —
    # standard faiss practice): Lloyd iterations only need enough
    # points to place k centroids well (~1000×k is generous; faiss
    # warns under ~39×k), so above ``train_sample_min_bytes`` the
    # training assigns run over a deterministic ~train_sample_rows
    # subsample instead of the full corpus — the FINAL assignment (the
    # index artifact) still covers every row, so serve-path results
    # always cover the whole corpus. Gate reads the relation's
    # metadata size (parquet footer stats — no job), so below the gate
    # the plan is BIT-IDENTICAL to the ungated form (every gate-scale
    # draw unchanged); the one count() job above the gate is amortized
    # into a build that saves (n_iters-1)·(1 − sample/corpus) argmin
    # passes. Sampling is deterministic (pmod on the id), so the
    # trained index is reproducible run-to-run.
    train_pts = points
    try:
        rel_bytes = int(
            str(
                embeddings._jdf.queryExecution()
                .optimizedPlan()
                .stats()
                .sizeInBytes()
            )
        )
    except Exception:
        rel_bytes = -1
    if (
        train_sample_rows > 0
        and 0 <= train_sample_min_bytes <= rel_bytes
        and n_iters > 1
    ):
        n_rows = points.count()
        step = -(-n_rows // train_sample_rows)  # ceil div
        if step > 1:
            # Select on a HASH of the id (ADVICE r14): pmod on the raw
            # id assumes dense/uniform residues — a stride-allocated or
            # sparse id space could yield a far-smaller (even empty)
            # training sample, and an empty sample propagates to an
            # empty codebook and NULL cells with no error. xxhash64
            # spreads any id structure uniformly, stays deterministic
            # (reproducible-index contract), and the expected sample
            # size is n/step for ANY id layout.
            train_pts = points.filter(
                F.pmod(F.xxhash64(F.col("pid")), F.lit(step)) == 0
            )

    def assign(cents: DataFrame, pts: DataFrame = points) -> DataFrame:
        codebook = cents.agg(
            F.expr("collect_list(struct(cell, centroid)) AS cs")
        )
        return pts.crossJoin(F.broadcast(codebook)).select(
            "pid",
            "vec",
            F.expr(_argmin_cell_sql("vec", "cs")).alias("cell"),
        )

    if dim is not None:
        # one exchange: dim avg aggregates in a single map-side-combining
        # hash agg, rebuilt into the centroid array in the same expr
        avg_terms = ", ".join(f"avg(vec[{i}])" for i in range(dim))
        mean_sql = f"array({avg_terms}) AS centroid"

        def mean(assigned: DataFrame) -> DataFrame:
            return assigned.groupBy("cell").agg(F.expr(mean_sql))

    else:
        # unknown dim: elementwise mean via posexplode (two exchanges)

        def mean(assigned: DataFrame) -> DataFrame:
            return (
                assigned.select("cell", F.posexplode("vec").alias("pos", "x"))
                .groupBy("cell", "pos")
                .agg(F.avg("x").alias("m"))
                .groupBy("cell")
                .agg(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm")
                )
                .select(
                    "cell", F.transform("pm", lambda s: s["m"]).alias("centroid")
                )
            )

    # checkpoint the trained centroids (k rows — the INDEX artifact),
    # not the seeds (single consumer, one TakeOrdered) and not the
    # corpus-sized assignments (recomputed as a narrow pass per
    # consumer — the standard serve shape). Measured at gate scale the
    # three checkpoint placements converge once the session is warm
    # (docs/PERF.md round-13); this placement is the one whose eager
    # jobs stay O(k·dim) at any corpus size.
    cents = seeds
    for _ in range(n_iters - 1):
        cents = mean(assign(cents, train_pts)).localCheckpoint(eager=True)
    # the final assignment is consumed twice (the final centroid mean
    # and the caller's probe path) — lazily checkpoint it so the
    # corpus argmin pass runs ONCE and the second consumer reads the
    # materialized index instead of recomputing it (measured 6.5 →
    # ~4 s at sf10; this is the IVF index a production build persists
    # anyway). Lazy (eager=False): the first consumer's job
    # materializes it, no extra build-time job.
    assigned = assign(cents).localCheckpoint(eager=False)
    final_cents = mean(assigned).localCheckpoint(eager=True)
    return assigned, final_cents


def ivf_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    train_sample_rows: int = 25_000,
    train_sample_min_bytes: int = 32 * 1024 * 1024,
) -> DataFrame:
    """Approximate top-k via IVF: probe only the ``n_probe`` cells whose
    centroids are closest to the query, then exact cosine inside those
    cells. Scan cost drops to ~n_probe/n_cells of the corpus; recall
    is tunable via n_probe. Approximate → rows-only oracle check.

    Round 13: the serve path is ONE narrow pass over the corpus —
    broadcast-codebook argmin assignment fused into the scan, the
    probe-cell set and query vector broadcast (each bounded by
    construction: n_probe rows / 1 row), top-k via
    TakeOrderedAndProject per-partition heaps. No cache, no wide
    exchange anywhere on the query path; the only shuffles live in
    the (checkpointed, index-build-time) centroid means."""
    assigned, cents = ivf_assign_centroids(
        embeddings, n_cells, 2, id_col, vec_col, dim=dim,
        train_sample_rows=train_sample_rows,
        train_sample_min_bytes=train_sample_min_bytes,
    )
    qvec = embeddings.filter(F.col(id_col) == query_id).select(
        F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("__qvec")
    )
    cdist = (
        l2_dist2_fixed("centroid", "__qvec", dim)
        if dim is not None
        else F.aggregate(
            F.zip_with("centroid", "__qvec", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    probe_cells = (
        cents.crossJoin(F.broadcast(qvec))
        .select("cell", cdist.alias("d2"))
        .orderBy("d2", "cell")
        .limit(n_probe)
        .select("cell")
    )
    if dim is None:
        sim = rhu(cosine(F.col("vec"), F.col("__qvec")), 6)
        probed = assigned
    else:
        qvec = with_l2_norm(qvec, "__qvec", dim, "__qnrm")
        sim = rhu(cosine_pre("vec", "__qvec", "__nrm", "__qnrm", dim), 6)
        probed = with_l2_norm(assigned, "vec", dim)
    return (
        probed.join(F.broadcast(probe_cells), "cell")
        .filter(F.col("pid") != query_id)
        .crossJoin(F.broadcast(qvec))
        .select(F.col("pid").alias("neighbor_id"), sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id"))
        .limit(k)
    )


def _plane_coeffs(t: int, p: int, dim: int, n_planes: int) -> list[float]:
    """Deterministic decorrelated hyperplane coefficients via the
    fract-sin hash (sin at a huge amplitude, keep the fractional part):
    each (table, plane, dim) index maps to an effectively independent
    value in [-1, 1). A plain phase-shifted sin across tables (earlier
    version) made every table a shifted copy of the same plane —
    correlated sign patterns, so OR-amplification across tables bought
    no recall (measured flat at 0.5 from L=8 to 32)."""
    import math

    out = []
    for d in range(dim):
        k = (t * n_planes + p) * dim + d + 1
        v = math.sin(k * 12.9898) * 43758.5453
        out.append(2.0 * (v - math.floor(v)) - 1.0)
    return out


def _hyperplane_buckets(
    col: Column, dim: int, n_planes: int, n_tables: int
) -> Column:
    """Array of ``n_tables`` sign-pattern bucket ids for a vector column
    under fixed deterministic hyperplanes (no RNG — reproducible across
    runs and engines).

    Plane coefficients are literal arrays with zip_with/aggregate dots:
    the expression tree stays O(tables·planes) nodes, not
    O(tables·planes·dim) unrolled adds (which overflows janino's
    method-size limit for realistic dims). NOTE: the zip_with/aggregate
    dots run on the interpreted HOF path — per-table computation should
    use :func:`hyperplane_bucket_table` (bit-identical buckets, all
    codegen); this column form remains for single-row/broadcast use.
    """

    def bucket_expr(t: int) -> Column:
        out = None
        for p in range(n_planes):
            coeffs = F.array(*[F.lit(c) for c in _plane_coeffs(t, p, dim, n_planes)])
            s = F.aggregate(
                F.zip_with(col, coeffs, lambda x, c: x.cast("double") * c),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            bit = F.when(s >= 0, F.lit(1)).otherwise(F.lit(0)) * (1 << p)
            out = bit if out is None else out + bit
        return out

    return F.array(*[bucket_expr(t) for t in range(n_tables)])


def hyperplane_bucket_table(
    embeddings: DataFrame,
    dim: int,
    n_planes: int,
    n_tables: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, __buckets) for every vector: the same deterministic
    sign-pattern buckets as :func:`_hyperplane_buckets`, computed on
    the codegen fast path — posexplode the vector, then one
    hash-aggregate with ``n_tables·n_planes`` conditional dot-product
    sums (coefficient looked up from a literal array by position), then
    pack sign bits per table. The column form runs every dot product as
    an interpreted higher-order walk (~tables·planes·dim interpreted
    ops per vector); this form keeps them all inside whole-stage
    codegen. Sums accumulate in position order from 0.0, matching the
    column form's left fold bit-for-bit.

    Scale shape: map-side partial aggregation collapses each vector's
    components inside its scan partition, so the exchange carries
    ``n_tables·n_planes`` doubles per vector — comparable to the
    vector itself and far cheaper than the interpreted CPU it
    replaces."""
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.dedup import fan_out

    ex = fan_out(embeddings.select(id_col, vec_col)).select(
        F.col(id_col).alias("id"),
        F.posexplode(vec_col).alias("pos", "v"),
    )
    # Coefficient arrays are embedded as parsed SQL literals, not
    # F.array(F.lit(...)) trees: each F.lit is a py4j round trip, and
    # tables·planes·dim of them cost ~6 s of driver-side chatter per
    # plan build (measured; the JVM parse of the same text is ~ms).
    # repr() round-trips doubles exactly, so the parsed coefficients
    # are bit-identical to the column form's literals.
    def dot_sql(t: int, p: int) -> str:
        arr = ",".join(f"{c!r}D" for c in _plane_coeffs(t, p, dim, n_planes))
        return f"sum(cast(v as double) * element_at(array({arr}), pos + 1))"

    dots = ex.groupBy("id").agg(
        *[
            F.expr(dot_sql(t, p)).alias(f"__d_{t}_{p}")
            for t in range(n_tables)
            for p in range(n_planes)
        ]
    )
    def bucket(t: int) -> Column:
        out = None
        for p in range(n_planes):
            bit = F.when(F.col(f"__d_{t}_{p}") >= 0, F.lit(1)).otherwise(
                F.lit(0)
            ) * (1 << p)
            out = bit if out is None else out + bit
        return out

    return dots.select(
        "id", F.array(*[bucket(t) for t in range(n_tables)]).alias("__buckets")
    )


def lsh_blocked_dup_pairs(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.35,
    n_planes: int = 4,
    n_tables: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    integer_buckets: bool = False,
) -> DataFrame:
    """Embedding near-duplicate pairs at scale: LSH blocking feeding the
    exact-cosine verification kernel — the blocked form of the all-pairs
    join (x16), which is O(n²) by construction and only exists as a
    capped verification kernel.

    Pipeline (all equi-joins, no cross join anywhere):
    1. one narrow pass computes ``n_tables`` sign-pattern buckets per
       vector (:func:`_hyperplane_buckets`);
    2. explode to (id, table, bucket) and self-join on (table, bucket)
       with id_a < id_b → candidate id-pairs, deduped. Candidates are
       ~Σ bucket_size² per table — near-linear when buckets are balanced
       (2^planes buckets/table), vs n² for the unblocked join;
    3. join the two vectors back by id (the shuffle carries ids until
       this point, never vectors redundantly) and keep exact cosine ≥
       ``threshold``.

    Recall follows the OR-amplified S-curve 1-(1-p^planes)^tables with
    p = 1 - θ/π; misses are pairs whose similarity sits far below the
    curve's knee — tunable via ``n_tables``. Rows-only driver check;
    recall vs the exact x16 kernel is asserted in tests.

    ``integer_buckets=True`` swaps in the micro-quantized integer
    bucket table (:func:`hyperplane_bucket_table_int`) — exact int64
    dots, no boundary sign flips — which makes the whole pair set
    cross-engine deterministic and fully oracle-checkable (x60), at
    identical cost shape.
    """
    bucket_table = (
        hyperplane_bucket_table_int if integer_buckets else hyperplane_bucket_table
    )
    ids = bucket_table(
        embeddings, dim, n_planes, n_tables, id_col, vec_col
    ).select(
        "id",
        F.posexplode("__buckets").alias("table", "bucket"),
    )
    a, b = ids.alias("a"), ids.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # Norms precomputed per side — O(rows·d) once, not O(pairs·d)
    # at every candidate pair; see with_l2_norm.
    va = with_l2_norm(
        embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")),
        "va", dim, "__na",
    )
    vb = with_l2_norm(
        embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")),
        "vb", dim, "__nb",
    )
    sim = rhu(cosine_pre("va", "vb", "__na", "__nb", dim), 6)
    return (
        candidates.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def lsh_bucketed_topk(
    embeddings: DataFrame,
    query_id: int,
    dim: int,
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH with OR-amplification:
    ``n_tables`` independent hash tables, each a sign-pattern bucket over
    ``n_planes`` fixed pseudo-random hyperplanes (deterministic
    coefficients — reproducible across runs). A vector is a candidate if
    it shares the query's bucket in ANY table (the classic AND-within /
    OR-across construction: per-table collision prob s_cos^p, overall
    1-(1-s^p)^L — the S-curve that keeps recall high while each table
    still prunes to ~1/2^p of the corpus). Candidates are exact-cosine
    re-ranked. Approximate → rows-only check; recall vs the exact x09
    baseline is asserted in tests.

    ``dim`` (the embedding dimensionality) is an explicit parameter:
    deriving it from the data would need a driver-side ``.first()`` —
    a collect-class job before the real one, which at 100 TB is an
    extra scan. Callers know their embedding dim; pass it.

    Scale shape: buckets come from :func:`hyperplane_bucket_table`
    (codegen'd explode-aggregate; the id-keyed join back costs a
    shuffle of 16 ints per vector — far cheaper than the
    tables·planes·dim interpreted ops per vector it replaces); the
    query row broadcasts; candidate filtering is a per-partition
    predicate. At corpus scale you'd materialize the bucket table once
    and equi-join queries on (table, bucket) instead of broadcasting a
    predicate — exactly what :func:`lsh_blocked_dup_pairs` does for
    the all-pairs problem.
    """
    with_bucket = embeddings.join(
        hyperplane_bucket_table(
            embeddings, dim, n_planes, n_tables, id_col, vec_col
        ).withColumnRenamed("id", id_col),
        id_col,
    )
    q = with_l2_norm(
        with_bucket.filter(F.col(id_col) == query_id).select(
            F.col(vec_col).alias("__qvec"), F.col("__buckets").alias("__qbuckets")
        ),
        "__qvec", dim, "__qnrm",
    )
    # candidate ⇔ buckets collide in at least one table
    collides = F.exists(
        F.zip_with("__buckets", "__qbuckets", lambda a, b: a == b),
        lambda x: x,
    )
    sim = rhu(cosine_pre(vec_col, "__qvec", "__nrm", "__qnrm", dim), 6)
    return (
        with_l2_norm(with_bucket, vec_col, dim).crossJoin(F.broadcast(q))
        .filter(collides & (F.col(id_col) != query_id))
        .select(F.col(id_col).alias("neighbor_id"), sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id"))
        .limit(k)
    )


def quantize_int8_audit(
    embeddings: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization audit — the storage-side
    embedding compression step (4× smaller than float32) with its
    quality report: per vector, the quantization scale, the exact sum
    of quantized codes (integer checksum of the codebook output), the
    saturation count, and max/total absolute dequantization error.

    Quantization: ``scale = max|v_i| / 127``; ``q_i = clamp(
    floor(v_i/scale + 0.5), -127, 127)`` (explicit half-up — engine
    ROUND functions disagree on ties across engines); zero vectors
    quantize to all-zero codes with scale 0. Dequantized error
    ``|v_i − q_i·scale|``.

    All dim-unrolled codegen expressions in one narrow projection (a
    plain project is code-split safely by Spark, unlike join-condition
    expressions — see :func:`with_l2_norm`); no HOF, no shuffle, no
    Python. The oracle twin (:func:`quantize_int8_oracle_sql`)
    generates the SAME explicit expression chain for DuckDB, so float
    accumulation order is identical by construction and parity is
    exact."""
    c = _int8_chain(dim, "spark", vec_col)
    v, qi, sfx = c["v"], c["qi"], c["sfx"]
    err = lambda i: f"abs({v(i)} - {qi(i)} * __scale)"  # noqa: E731
    q_sum = (
        f"cast(0.0{sfx} + " + " + ".join(qi(i) for i in range(dim)) + " as bigint)"
    )
    n_sat = (
        "cast(0 + "
        + " + ".join(f"(case when abs({qi(i)}) >= 127.0{sfx} then 1 else 0 end)" for i in range(dim))
        + " as int)"
    )
    max_err = "greatest(" + ",".join(err(i) for i in range(dim)) + ")"
    sum_err = f"(0.0{sfx} + " + " + ".join(err(i) for i in range(dim)) + ")"
    return (
        embeddings.select(
            F.col(id_col), F.col(vec_col), F.expr(c["scale"]).alias("__scale")
        )
        .select(
            id_col,
            rhu(F.col("__scale"), 6).alias("scale8"),
            F.expr(q_sum).alias("q_sum"),
            F.expr(n_sat).alias("n_saturated"),
            rhu(F.expr(max_err), 6).alias("max_abs_err"),
            rhu(F.expr(sum_err), 6).alias("sum_abs_err"),
        )
    )


def quantize_int8_oracle_sql(
    dim: int, table: str = "embeddings", id_col: str = "vec_id", vec_col: str = "embedding"
) -> str:
    """DuckDB twin of :func:`quantize_int8_audit`: the same explicit
    dim-unrolled expression chain (1-based ``[]`` indexing instead of
    0-based ``get``), so every float op happens in the same order."""
    c = _int8_chain(dim, "duckdb", vec_col)
    v, qi = c["v"], c["qi"]
    err = lambda i: f"abs({v(i)} - {qi(i)} * __scale)"  # noqa: E731
    q_sum = "cast(0.0 + " + " + ".join(qi(i) for i in range(dim)) + " as bigint)"
    n_sat = (
        "cast(0 + "
        + " + ".join(f"(case when abs({qi(i)}) >= 127.0 then 1 else 0 end)" for i in range(dim))
        + " as int)"
    )
    max_err = "greatest(" + ",".join(err(i) for i in range(dim)) + ")"
    sum_err = "(0.0 + " + " + ".join(err(i) for i in range(dim)) + ")"
    rq6 = lambda e: f"floor(({e}) * 1000000.0 + 0.5) / 1000000.0"  # noqa: E731
    return f"""
    WITH s AS (
        SELECT {id_col}, {vec_col}, {c["scale"]} AS __scale
        FROM {table}
    )
    SELECT {id_col},
           {rq6("__scale")} AS scale8,
           {q_sum} AS q_sum,
           {n_sat} AS n_saturated,
           {rq6(max_err)} AS max_abs_err,
           {rq6(sum_err)} AS sum_abs_err
    FROM s
    """


# ---------------------------------------------------------------------------
# Deterministic-integer LSH: the oracle-checkable twin of the float path
# ---------------------------------------------------------------------------


def _plane_coeffs_mic(t: int, p: int, dim: int, n_planes: int) -> list[int]:
    """Integer-micro hyperplane coefficients: the fract-sin floats of
    :func:`_plane_coeffs` HALF_UP-quantized once in Python, so BOTH
    engines consume the identical bigint literals — no float dot, no
    last-ulp sign flips at the bucket boundary."""
    import math

    return [
        int(math.floor(c * 1_000_000.0 + 0.5))
        for c in _plane_coeffs(t, p, dim, n_planes)
    ]


def duckdb_vm_sql(vec_col: str, dim: int) -> str:
    """DuckDB list-comprehension text for the micro-quantized bigint
    vector — ONE definition shared by every integer-LSH oracle so the
    quantization can never drift between them."""
    return (
        f"[CAST(FLOOR(CAST({vec_col}[i] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"
        f" FOR i IN range(1, {dim} + 1)]"
    )


def duckdb_bucket_sql(t: int, n_planes: int, dim: int) -> str:
    """DuckDB text for one table's sign-pattern bucket over the
    quantized column ``xm`` (shared by the topk and pairs oracles)."""
    bits = []
    for p in range(n_planes):
        arr = ",".join(str(c) for c in _plane_coeffs_mic(t, p, dim, n_planes))
        dot = f"list_sum([xm[i] * ([{arr}])[i] FOR i IN range(1, {dim} + 1)])"
        bits.append(f"(CASE WHEN {dot} >= 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(bits)


def duckdb_cosine_sql(a: str, b: str) -> str:
    """DuckDB text for the pinned rounded cosine between two vector
    expressions (e.g. ``e.embedding`` and ``qv.qv``) — the single
    source for every oracle's re-rank arithmetic."""
    return (
        f"FLOOR((list_sum([CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)"
        f" FOR i IN range(1, len({a}) + 1)])"
        f" / NULLIF(SQRT(list_sum([CAST({a}[i] AS DOUBLE)"
        f" * CAST({a}[i] AS DOUBLE)"
        f" FOR i IN range(1, len({a}) + 1)]))"
        f" * SQRT(list_sum([CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)"
        f" FOR i IN range(1, len({b}) + 1)])), 0))"
        f" * 1000000.0 + 0.5) / 1000000.0"
    )


def hyperplane_bucket_table_int(
    embeddings: DataFrame,
    dim: int,
    n_planes: int,
    n_tables: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, __buckets) with INTEGER sign-pattern buckets: vector
    components and plane coefficients are both micro-quantized, each
    dot is an exact int64 sum (|term| ≤ 1e12, ×dim ≤ 256 within
    headroom), so every bucket id is bit-identical on any engine or
    partitioning — what makes x59 fully oracle-checkable where the
    float path (``hyperplane_bucket_table``) can only be rows-only.

    Shape (round 11): per-row integer-dot FOLDS in one narrow
    projection — ``aggregate(zip_with(__vm, plane_literals, ...))``
    per (table, plane) — replacing the old posexplode + groupBy(id)
    with tables·planes conditional sums. The explode+agg form pushed
    |rows|·dim exploded rows through a hash aggregate (an EXCHANGE on
    id at scale); the fold form is exchange-free and measured 2.3×
    faster at sf10 (``git show 130db1f:tools/profile_lsh_stage.py``:
    1.59 s → 0.71 s).
    Integer arithmetic is exact, so bucket ids are bit-identical by
    construction (checked: fold_eq_current=True over all sf0.1 ids).

    Malformed-row caveat (ADVICE r11): the old posexplode+groupBy
    DROPPED an id whose vector was empty/NULL (nothing to explode);
    the per-row fold KEEPS it — a NULL/empty dot folds to NULL→
    otherwise(0)→sign bit 0, so such an id lands in bucket 0 of every
    table and can surface as a candidate there. Acceptable under the
    fixed-dim contract (readers enforce exactly-``dim`` arrays; no
    catalog path feeds malformed vectors here), and harmless to
    correctness in :func:`lsh_deterministic_topk` because the exact
    re-rank's cosine is NULL for a NULL/zero-norm vector and NULL
    sims sort last / fail the top-k filter. Callers outside that
    contract should pre-filter ``size(vec) = dim``."""
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.dedup import fan_out

    base = fan_out(embeddings.select(id_col, vec_col)).select(
        F.col(id_col).alias("id"),
        F.expr(
            f"transform({vec_col}, x ->"
            " CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))"
        ).alias("__vm"),
    )

    def dot_expr(t: int, p: int) -> str:
        arr = ",".join(
            f"{c}L" for c in _plane_coeffs_mic(t, p, dim, n_planes)
        )
        return (
            f"aggregate(zip_with(__vm, array({arr}), (x, c) -> x * c),"
            " 0L, (acc, v) -> acc + v)"
        )

    def bucket(t: int) -> Column:
        out = None
        for p in range(n_planes):
            bit = F.when(F.expr(dot_expr(t, p)) >= 0, F.lit(1)).otherwise(
                F.lit(0)
            ) * (1 << p)
            out = bit if out is None else out + bit
        return out

    return base.select(
        "id", F.array(*[bucket(t) for t in range(n_tables)]).alias("__buckets")
    )


def lsh_deterministic_topk(
    embeddings: DataFrame,
    query_id: int,
    dim: int,
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hyperplane-LSH approximate top-k with EXACT cross-engine parity:
    integer-micro buckets (above), OR-across-tables candidates, pinned
    exact-cosine re-rank. Same S-curve recall and ~1/2^p-per-table
    pruning as :func:`lsh_bucketed_topk`; the difference is that every
    stage is deterministic, so the whole result hash-checks against
    :func:`lsh_oracle_sql`."""
    with_bucket = embeddings.join(
        hyperplane_bucket_table_int(
            embeddings, dim, n_planes, n_tables, id_col, vec_col
        ).withColumnRenamed("id", id_col),
        id_col,
    )
    q = with_l2_norm(
        with_bucket.filter(F.col(id_col) == query_id).select(
            F.col(vec_col).alias("__qvec"), F.col("__buckets").alias("__qbuckets")
        ),
        "__qvec",
        dim,
        "__qnrm",
    )
    collides = F.exists(
        F.zip_with("__buckets", "__qbuckets", lambda a, b: a == b),
        lambda x: x,
    )
    sim = rhu(cosine_pre(vec_col, "__qvec", "__nrm", "__qnrm", dim), 6)
    return (
        with_l2_norm(with_bucket, vec_col, dim)
        .crossJoin(F.broadcast(q))
        .filter(collides & (F.col(id_col) != query_id))
        .select(F.col(id_col).alias("neighbor_id"), sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id"))
        .limit(k)
    )


def lsh_oracle_sql(
    table: str = "embeddings",
    query_id: int = 1,
    dim: int = 64,
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`lsh_deterministic_topk`: the identical
    integer-micro quantization and coefficient literals, per-table
    bucket CASE sums, OR-across-tables candidate predicate, and x09's
    cosine re-rank text (all from the shared duckdb_*_sql helpers)."""
    vm = duckdb_vm_sql(vec_col, dim)
    bcols = ",\n           ".join(
        f"{duckdb_bucket_sql(t, n_planes, dim)} AS b{t}" for t in range(n_tables)
    )
    collide = " OR ".join(f"b.b{t} = q.b{t}" for t in range(n_tables))
    cos = duckdb_cosine_sql(f"e.{vec_col}", "qv.qv")
    return f"""
    WITH vm AS (SELECT {id_col}, {vm} AS xm FROM {table}),
    b AS (SELECT {id_col},
           {bcols}
          FROM vm),
    q AS (SELECT * FROM b WHERE {id_col} = {query_id}),
    cand AS (SELECT b.{id_col} FROM b, q
             WHERE b.{id_col} <> {query_id} AND ({collide})),
    qv AS (SELECT {vec_col} AS qv FROM {table} WHERE {id_col} = {query_id}),
    sims AS (SELECT e.{id_col} AS neighbor_id, {cos} AS cosine_sim
             FROM {table} e JOIN cand ON e.{id_col} = cand.{id_col}
             CROSS JOIN qv)
    SELECT neighbor_id, cosine_sim FROM sims
    ORDER BY cosine_sim DESC, neighbor_id LIMIT {k}
    """


def lsh_pairs_oracle_sql(
    table: str = "embeddings",
    dim: int = 64,
    threshold: float = 0.35,
    n_planes: int = 4,
    n_tables: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    id_filter: str = "",
) -> str:
    """DuckDB twin of ``lsh_blocked_dup_pairs(integer_buckets=True)``:
    identical integer buckets, OR-across-tables pair predicate, pinned
    cosine verify ≥ threshold (shared duckdb_*_sql helpers). The
    oracle's pair join is an O(n²) predicate join — fine at oracle
    scale; the ENGINE's plan is the equi-join on (table, bucket)."""
    vm = duckdb_vm_sql(vec_col, dim)
    bcols = ",\n           ".join(
        f"{duckdb_bucket_sql(t, n_planes, dim)} AS b{t}" for t in range(n_tables)
    )
    collide = " OR ".join(f"a.b{t} = c.b{t}" for t in range(n_tables))
    where = f"WHERE {id_filter}" if id_filter else ""
    cos = duckdb_cosine_sql(f"ea.{vec_col}", f"eb.{vec_col}")
    return f"""
    WITH src AS (SELECT * FROM {table} {where}),
    vm AS (SELECT {id_col}, {vm} AS xm FROM src),
    b AS (SELECT {id_col},
           {bcols}
          FROM vm),
    cand AS (SELECT a.{id_col} AS id_a, c.{id_col} AS id_b
             FROM b a JOIN b c
               ON a.{id_col} < c.{id_col} AND ({collide})),
    sims AS (SELECT cand.id_a, cand.id_b, {cos} AS cosine_sim
             FROM cand
             JOIN src ea ON ea.{id_col} = cand.id_a
             JOIN src eb ON eb.{id_col} = cand.id_b)
    SELECT id_a, id_b, cosine_sim FROM sims WHERE cosine_sim >= {threshold}
    """


def _int8_chain(dim: int, engine: str, vec_col: str = "embedding") -> dict:
    """THE single definition of the symmetric int8 quantization
    expression chain, rendered per engine: ``v(i)`` element access
    (0-based ``get`` vs 1-based ``[]``), ``qi(i)`` the clamp-floor
    quantized code (referencing ``__scale``), ``scale`` = max|v|/127,
    plus the ``z``/``sfx`` literal dialect bits. quantize_int8_audit,
    quantize_int8_oracle_sql and sql_dequantize_int8 all render from
    here, so the scheme cannot drift between the audit (x39) and the
    recall eval (x77)."""
    if engine == "duckdb":
        v = lambda i: f"cast({vec_col}[{i + 1}] as double)"  # noqa: E731
        z, sfx = "0.0", ""
    else:
        v = lambda i: f"cast(get({vec_col}, {i}) as double)"  # noqa: E731
        z, sfx = "0.0D", "D"
    absmax = "greatest(" + ",".join(f"abs({v(i)})" for i in range(dim)) + ")"
    qi = lambda i: (  # noqa: E731
        f"(case when __scale = {z} then {z} else "
        f"greatest(least(floor({v(i)} / __scale + 0.5{sfx}), 127.0{sfx}),"
        f" -127.0{sfx}) end)"
    )
    return {"v": v, "qi": qi, "scale": f"{absmax} / 127.0{sfx}", "z": z, "sfx": sfx}


def sql_dequantize_int8(
    dim: int, engine: str, vec_col: str = "embedding"
) -> dict[str, str]:
    """Shared-template SQL for symmetric int8 de/re-quantization —
    the round-trip :func:`quantize_int8_audit` audits, as a VECTOR so
    a search kernel can consume it. Returns ``scale`` (per-vector
    max|v|/127, computed over ``vec_col``) and ``deq`` (the
    dequantized array ``q_i · scale``, referencing ``__scale``). One
    Python chain (:func:`_int8_chain`) renders both engines (0- vs
    1-based indexing and Spark's D-suffixed double literals are the
    only splits), so every float op happens in the same order and
    parity is exact."""
    c = _int8_chain(dim, engine, vec_col)
    qi = c["qi"]
    es = [f"({qi(i)} * __scale)" for i in range(dim)]
    deq = ("[" + ", ".join(es) + "]") if engine == "duckdb" else (
        "array(" + ", ".join(es) + ")"
    )
    return {"scale": c["scale"], "deq": deq}


def dequantize_int8(
    embeddings: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec) with the int8 quantize→dequantize round trip applied —
    what a serving index actually searches after 4× compression. Two
    narrow projections (scale, then the dim-unrolled array); Catalyst's
    GetArrayItem-over-CreateArray simplification lets a downstream
    unrolled kernel consume elements without materializing the array."""
    parts = sql_dequantize_int8(dim, "spark", vec_col)
    return embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        F.expr(parts["scale"]).alias("__scale"),
    ).select(id_col, F.expr(parts["deq"]).alias(vec_col))


def hard_negative_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for every query
    vector, the ``k`` nearest corpus vectors with a DIFFERENT label —
    the semantically-closest wrong answers, which are the examples a
    contrastive loss learns most from (random negatives are trivially
    far at corpus scale).

    Same shape as :func:`knn_join_brute_force` (broadcast queries,
    pinned rounded cosine, skew-safe two-phase top-k) with the
    label-mismatch predicate applied at candidate time — a query never
    ranks its own class, so the candidate stream shrinks by the
    query's class share before the top-k. Exact and deterministic:
    (cosine desc, id asc) total order.
    """
    return _labeled_topk(
        emb, queries, k, id_col, vec_col, label_col, dim, same_label=False
    )


def anchor_positive_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int | None = None,
) -> DataFrame:
    """Anchor→positive mining — the dual of :func:`hard_negative_topk`
    completing the contrastive-pair build: for every anchor, the ``k``
    nearest corpus vectors with the SAME label (the anchor itself
    excluded). Same broadcast-queries / candidate-time-label-filter /
    skew-safe top-k shape; the label-EQUALITY predicate shrinks the
    candidate stream to the anchor's own class share."""
    return _labeled_topk(
        emb, queries, k, id_col, vec_col, label_col, dim, same_label=True
    )


def _labeled_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    label_col: str,
    dim: int | None,
    same_label: bool,
) -> DataFrame:
    """Shared core of hard-negative / anchor-positive mining: one
    broadcast of the query side, the label predicate applied at
    candidate time, the pinned cosine, grouped_topk ranking."""
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.skew import grouped_topk

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        F.col(label_col).alias("__qlab"),
    )
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        F.col(label_col).alias("neighbor_label"),
    )
    q, c, sim = _pairwise_sim(q, c, dim)
    if same_label:
        pred = (F.col("neighbor_label") == F.col("__qlab")) & (
            F.col("neighbor_id") != F.col("query_id")
        )
    else:
        pred = F.col("neighbor_label") != F.col("__qlab")
    cands = (
        c.crossJoin(F.broadcast(q))
        .filter(pred)
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            sim.alias("cosine_sim"),
        )
    )
    return grouped_topk(
        cands,
        ["query_id"],
        [F.col("cosine_sim").desc(), F.col("neighbor_id")],
        k,
        rank_col="rn",
    )
