#!/usr/bin/env python
"""Benchmark runner (driver contract, BASELINE.md).

Runs the headline catalog queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query runs 2 warm-up passes (file listing, codegen, JIT — C2
needs a few thousand invocations to settle, and the first post-warm
pass still measures the compiler, not the engine) then N timed passes
(``$SPARK_GRAFT_BENCH_REPS``, default 5); the minimum is reported as
the per-query number (steady-state methodology), and the artifact
additionally carries MEDIAN + [min,max] BAND fields for the three
protocol totals (sequential, concurrent, serving-layout) computed over
per-pass paired sums — single-window snapshots at container-noise
scales spread up to ~2× (docs/PERF.md), so the distribution is the
published number, not one draw. Every pass
builds a FRESH plan (no DataFrame reuse — reusing one would let Spark
reuse materialized shuffle stages and under-measure) and materializes
via collect(): count() would let Catalyst prune the aggregate
expressions entirely (a count over a groupBy needs only the group
keys), silently under-measuring the query's real work, while the
headline results are all small aggregates so collect() adds no
transfer cost.

The artifact additionally records the OS cache state (before/after an
explicit page-cache warm read of every input byte, with the warm-read
time itself) so a container cache-eviction window — which blew the
r10 sf10 bands out on environment alone — is visible IN the artifact
rather than inferred afterwards (VERDICT r10 item 4), and a CPU
window (loadavg start/end, machine busy fraction, own descendant-tree
CPU seconds, the derived foreign_cores_avg, and a `contended` flag)
so a CPU-contended window — which disturbed the r11 driver bench
uniformly ~1.6× with a warm cache and flat floors — self-documents
the same way (VERDICT r11 item 2).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO_ROOT)


def _cache_state() -> dict[str, int]:
    """One-line OS cache snapshot (MB) recorded inside the artifact —
    round 10's container evicted page cache aggressively and the sf10
    median bands blew out on environment alone (VERDICT r10 item 4);
    with the state in the artifact a drifted band is attributable."""
    out: dict[str, int] = {}
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                key, _, rest = line.partition(":")
                if key in ("MemFree", "Cached", "Buffers"):
                    out[key.lower() + "_mb"] = int(rest.split()[0]) // 1024
    except (OSError, ValueError, IndexError):
        pass
    return out


def _pgrp_cpu_jiffies() -> int:
    """Sum utime+stime (jiffies) over THIS process and every live
    descendant — the python driver plus the py4j-launched Spark JVM
    (a direct child). Descendant-tree attribution, NOT process-group:
    under `sh script.sh` every back-to-back step shares the script's
    pgrp, so a previous step's JVM still shutting down at window start
    would be counted then vanish, driving the self delta NEGATIVE and
    the derived foreign load absurd (measured: self −237 s /
    foreign_cores 58.7 in a DuckDB window of the round-12 paired
    sweep). A descendant that EXITS mid-window (e.g. a restarted JVM)
    would likewise vanish from the end snapshot, so each live
    process's cutime+cstime (reaped-children CPU, /proc stat fields
    16/17) is summed too (ADVICE r12) — a reaped descendant's jiffies
    move into its parent's cutime atomically with the reap, so the
    tree total never double-counts and never loses an exited child."""
    me = os.getpid()
    procs: dict[int, tuple[int, int]] = {}  # pid -> (ppid, jiffies)
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                data = fh.read()
            # comm may contain spaces/parens — split after the LAST ')'
            rest = data[data.rindex(")") + 2 :].split()
            procs[int(pid)] = (
                int(rest[1]),  # ppid
                # utime + stime + cutime + cstime: own CPU plus CPU of
                # already-reaped children (fields 14-17 of /proc/stat)
                int(rest[11])
                + int(rest[12])
                + int(rest[13])
                + int(rest[14]),
            )
        except (OSError, ValueError, IndexError):
            continue

    def _is_ours(pid: int) -> bool:
        seen = 0
        while pid in procs and seen < 64:
            if pid == me:
                return True
            pid = procs[pid][0]
            seen += 1
        return pid == me

    return sum(j for pid, (_, j) in procs.items() if _is_ours(pid))


def _cpu_state() -> dict[str, object]:
    """Machine + own-session CPU snapshot (VERDICT r11 item 2): the r11
    driver bench window ran uniformly ~1.6× slow with a WARM cache and
    flat floors — CPU contention the cache telemetry cannot see. With
    loadavg and a /proc/stat busy delta (minus our own descendant
    tree's jiffies) in the artifact, a contended window self-documents the
    way an evicted one already does."""
    out: dict[str, object] = {}
    try:
        with open("/proc/loadavg") as fh:
            out["loadavg"] = [float(x) for x in fh.read().split()[:3]]
    except (OSError, ValueError):
        pass
    try:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
        out["jiffies_total"] = sum(vals)
        # idle + iowait; the rest (user/nice/system/irq/softirq/steal)
        # is busy
        out["jiffies_idle"] = vals[3] + (vals[4] if len(vals) > 4 else 0)
    except (OSError, ValueError, IndexError):
        pass
    out["pgrp_jiffies"] = _pgrp_cpu_jiffies()
    return out


def _cpu_window(
    start: dict[str, object], end: dict[str, object], wall_sec: float
) -> dict[str, object]:
    """Derive the window's contention verdict from two _cpu_state
    snapshots. ``foreign_cores_avg`` — machine busy CPU-seconds minus
    our own descendant tree's, per wall second — is the
    discriminator: near 0 in a quiet container no matter how hard
    Spark runs, ≈N when N foreign cores compete with the timed reps.
    ``contended`` flags the window on that signal alone
    (foreign_cores_avg > 1.0); loadavg start/end are reported as
    context but do NOT gate the flag — in back-to-back paired windows
    (scale_bench) the start loadavg is the PREVIOUS window's own load
    still decaying, which flagged every r12 window until the rule was
    scoped (the foreign fields correctly read ~0 throughout)."""
    d: dict[str, object] = {}
    if "loadavg" in start:
        d["loadavg_start"] = start["loadavg"]
    if "loadavg" in end:
        d["loadavg_end"] = end["loadavg"]
    try:
        clk = os.sysconf("SC_CLK_TCK") or 100
        total = end["jiffies_total"] - start["jiffies_total"]  # type: ignore[operator]
        idle = end["jiffies_idle"] - start["jiffies_idle"]  # type: ignore[operator]
        busy_sec = (total - idle) / clk
        self_j0, self_j1 = start["pgrp_jiffies"], end["pgrp_jiffies"]
        d["busy_frac"] = round((total - idle) / total, 4) if total else None
        d["self_cpu_sec"] = (
            round((self_j1 - self_j0) / clk, 2)  # type: ignore[operator]
            if self_j0 != -1 and self_j1 != -1
            else None
        )
        foreign_sec = (
            busy_sec - d["self_cpu_sec"]
            if d["self_cpu_sec"] is not None
            else None
        )
        d["foreign_cpu_sec"] = (
            round(foreign_sec, 2) if foreign_sec is not None else None
        )
        d["foreign_cores_avg"] = (
            round(max(0.0, foreign_sec) / wall_sec, 3)
            if foreign_sec is not None and wall_sec > 0
            else None
        )
    except (KeyError, TypeError, ZeroDivisionError):
        pass
    fca = d.get("foreign_cores_avg")
    d["contended"] = bool(fca is not None and fca > 1.0)
    return d


def _warm_page_cache(d: str) -> tuple[float, int]:
    """Explicitly pull every input byte under ``d`` into the OS page
    cache before the timed reps (VERDICT r10 item 4): a plain chunked
    read of each file. Returns (seconds, bytes) — a large read time
    documents that the data WAS cold, so a band shift in the same
    artifact is explained rather than mysterious."""
    t0 = time.perf_counter()
    total = 0
    buf_size = 8 << 20
    for root, _, files in os.walk(d):
        for f in files:
            try:
                with open(os.path.join(root, f), "rb") as fh:
                    while True:
                        chunk = fh.read(buf_size)
                        if not chunk:
                            break
                        total += len(chunk)
            except OSError:
                continue
    return round(time.perf_counter() - t0, 4), total


def _input_bytes(sf_dir: str) -> int:
    total = 0
    try:
        for f in os.listdir(sf_dir):
            total += os.path.getsize(os.path.join(sf_dir, f))
    except OSError:
        return -1
    return total


def _shuffle_partitions(total_bytes: int, cpus: int) -> int:
    """Size the shuffle by the data, not the core count.

    Rule: under ~100 MB of input, 8 partitions (at sf0.1's 17 MB, 32
    reducers on 600k rows is pure scheduling overhead — measured in
    round 4); above that, at least one partition per core (an
    under-parallelized shuffle idles cores: at sf1's 180 MB, 8
    partitions left 24 of 32 cores idle and cost +10-40% on the
    shuffle-bound headline queries — measured in round 6), growing one
    per ~64 MB (the AQE advisory target) up to a 4× cores cap, from
    where AQE coalesces at runtime.
    """
    if total_bytes < 0:
        return cpus
    if total_bytes < (100 << 20):
        return 8
    return max(cpus, min(4 * cpus, total_bytes // (64 << 20)))


# Below this input size AQE is disabled for the bench session. AQE's
# value — runtime partition coalescing, skew splitting, join-strategy
# switching — only pays when individual shuffle stages run long enough
# to amortize its per-stage materialization (each exchange becomes its
# own job, planned and scheduled sequentially): measured +1.5 s on the
# 17 MB sf0.1 headline set AND still +1.9 s on q07 at the 1.8 GB sf10
# set (2.9 s AQE-on vs ~1.0 s off — stages are still sub-second, so
# the sequential re-planning dominates). No local-bench scale clears
# that bar, so the threshold sits above any dataset this harness will
# see; on a real cluster, where stages run minutes, session.get_spark's
# AQE-on default is the operative one.
_AQE_MIN_BYTES = 1 << 40


def main() -> None:
    # Imported here, not at module level: perfbench/sysmon.py and
    # run_verify.py import only the CPU helpers above.
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    total_bytes = _input_bytes(sf_dir)
    spark = get_spark(
        app_name="bench",
        master=f"local[{cpus}]",
        shuffle_partitions=_shuffle_partitions(total_bytes, int(cpus)),
        extra_conf=(
            {"spark.sql.adaptive.enabled": "false"}
            if 0 <= total_bytes < _AQE_MIN_BYTES
            else None
        ),
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Self-healing contention retry (VERDICT r12 item 2): two
    # consecutive driver windows were CPU-contended (r11 silently, r12
    # self-documented at foreign_cores_avg 2.88) and each needed a
    # manual judge re-run for the operative number. bench.py already
    # detects the condition; close the loop here — when the completed
    # window reads contended: true, re-run the WHOLE window (bounded,
    # default one retry) and publish the cleanest window as primary
    # with every discarded window kept verbatim inside the artifact
    # under contention_retry.discarded_windows, so nothing is hidden
    # and round-over-round diffs can still see the disturbed draw.
    # The retry reuses the session: every query re-passes its own
    # 2-warmup + reps protocol, so JIT state does not change what the
    # protocol measures (best-of-reps after warmups).
    retries = int(os.environ.get("SPARK_GRAFT_BENCH_CONTENTION_RETRIES", "1"))
    attempts = [_run_window(spark, sf_dir)]
    while (
        bool(attempts[-1].get("cpu", {}).get("contended"))
        and len(attempts) <= retries
    ):
        print(
            f"bench: window {len(attempts)} contended "
            f"(foreign_cores_avg="
            f"{attempts[-1]['cpu'].get('foreign_cores_avg')}) — retrying",
            file=sys.stderr,
        )
        attempts.append(_run_window(spark, sf_dir))
    out = min(
        attempts,
        key=lambda a: (
            bool(a.get("cpu", {}).get("contended")),
            a.get("cpu", {}).get("foreign_cores_avg") or 0.0,
        ),
    )
    if len(attempts) > 1:
        out["contention_retry"] = {
            "n_windows": len(attempts),
            "primary_window_index": attempts.index(out),
            "discarded_windows": [a for a in attempts if a is not out],
        }
    print(json.dumps(out))


def _run_window(spark, sf_dir: str) -> dict:
    """One complete bench window (floors, headline reps, concurrent,
    split-scan, serving layout) against an already-built session —
    returns the artifact dict instead of printing so main() can
    adjudicate contention across windows."""
    from pyspark.sql import functions as F

    from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans.catalog import QUERIES
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans.registry import (
        headline_queries,
    )

    cache_info: dict[str, object] = {"start": _cache_state()}
    cpu_start = _cpu_state()
    cpu_wall0 = time.perf_counter()
    warm_sec, warm_bytes = _warm_page_cache(sf_dir)
    cache_info["warm_read_sec"] = warm_sec
    cache_info["warm_read_mb"] = warm_bytes >> 20
    cache_info["after_warm"] = _cache_state()

    names = sorted(headline_queries())
    extra = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if extra:  # run an explicit list instead (debugging aid)
        names = [n.strip() for n in extra.split(",") if n.strip() in QUERIES]

    # Measured harness floor: the cost of a query that does (almost)
    # nothing, through the same fresh-plan + collect protocol. Two
    # points so the decomposition in docs/PERF.md is measured, not
    # claimed: floor_noop = 1-row plan, no scan/exchange (plan build +
    # one job of scheduling + collect); floor_2ex = the same through
    # TWO exchanges (per-exchange stage cost). (headline_query −
    # floor) is the data-dependent work actually comparable across
    # engines at this toy scale.
    floors: dict[str, float] = {}
    for fname, fplan in (
        ("floor_noop", lambda: spark.range(1).selectExpr("CAST(1 AS INT) AS one")),
        (
            "floor_2ex",
            lambda: spark.range(8)
            .repartition(8, "id")
            .groupBy((F.col("id") % 2).alias("k"))
            .count(),
        ),
    ):
        for _ in range(2):
            fplan().collect()
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            fplan().collect()
            best = min(best, time.perf_counter() - t0)
        floors[fname] = round(best, 4)

    reps = max(3, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5")))
    timings: dict[str, float] = {}
    passes: dict[str, list[float]] = {}
    builds: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in names:
        fn = QUERIES[name].spark
        try:
            for _ in range(2):  # warm-up: listing, codegen, JIT
                fn(spark, sf_dir).collect()
            runs: list[float] = []
            for _ in range(reps):
                t0 = time.perf_counter()
                fn(spark, sf_dir).collect()
                runs.append(time.perf_counter() - t0)
            passes[name] = runs
            timings[name] = round(min(runs), 4)
            # plan-BUILD share of the fresh-pass protocol: DataFrame
            # construction + analysis only (no job). Together with the
            # floors this makes each query's data-dependent work a
            # derived field: above_floor = total − build − floor_noop.
            bbest = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                fn(spark, sf_dir)
                bbest = min(bbest, time.perf_counter() - t0)
            builds[name] = round(bbest, 4)
        except Exception as exc:  # one broken query must not zero the bench
            errors[name] = repr(exc)[:200]

    # Concurrent-session total: the five headline queries submitted at
    # once from five threads (Spark's scheduler interleaves the jobs),
    # the shape a real dashboard/warehouse session produces. Wall-clock
    # for ALL to finish; the per-query scheduler floors overlap instead
    # of summing, so this bounds how much of the sequential headline is
    # harness serialization rather than engine work.
    concurrent_total = None
    concurrent_runs: list[float] = []
    if not errors:
        from concurrent.futures import ThreadPoolExecutor

        def _run_all() -> None:
            with ThreadPoolExecutor(max_workers=len(names)) as pool:
                list(
                    pool.map(
                        lambda n: QUERIES[n].spark(spark, sf_dir).collect(),
                        names,
                    )
                )

        _run_all()  # warm the thread/job interleaving path
        for _ in range(reps):
            t0 = time.perf_counter()
            _run_all()
            concurrent_runs.append(time.perf_counter() - t0)
        concurrent_total = round(min(concurrent_runs), 4)

    # Row-group-split experiment: the residual named in docs/PERF.md is
    # the testdata layout — ONE row group per table file caps every
    # scan at one task regardless of maxPartitionBytes. Re-materialize
    # the same rows as 8 part-files per table (untimed, the load step a
    # warehouse pays once) and run the identical protocol against that
    # layout. Reported separately; the headline `value` above stays the
    # raw-layout number.
    split_timings: dict[str, float] = {}
    if not errors and os.environ.get("SPARK_GRAFT_BENCH_SPLIT", "1") == "1":
        import tempfile

        # Stale-cache guard: the marker file stores a content
        # fingerprint of the source parquet (path + mtime + size);
        # regenerated testdata rebuilds IN PLACE under the stable
        # per-basename dir (a fingerprint-suffixed dir name would
        # orphan a full dataset copy in /tmp per regeneration).
        import hashlib

        fp = hashlib.sha256()
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(sf_dir, f))
                fp.update(f"{f}:{st.st_mtime_ns}:{st.st_size};".encode())
        fingerprint = fp.hexdigest()
        split_dir = os.path.join(
            tempfile.gettempdir(),
            f"sg_split_{os.path.basename(sf_dir.rstrip('/'))}",
        )
        marker = os.path.join(split_dir, "_SPLIT_READY")
        stale = True
        try:
            with open(marker) as fh:
                stale = fh.read().strip() != fingerprint
        except OSError:
            pass
        if stale:
            for f in sorted(os.listdir(sf_dir)):
                if not f.endswith(".parquet"):
                    continue
                (
                    spark.read.parquet(os.path.join(sf_dir, f))
                    .repartition(8)
                    .write.mode("overwrite")
                    .parquet(os.path.join(split_dir, f))
                )
            with open(marker, "w") as fh:
                fh.write(fingerprint + "\n")
        split_warm_sec, _ = _warm_page_cache(split_dir)
        cache_info["split_warm_read_sec"] = split_warm_sec
        for name in names:
            fn = QUERIES[name].spark
            try:
                for _ in range(2):
                    fn(spark, split_dir).collect()
                best = float("inf")
                for _ in range(3):
                    t0 = time.perf_counter()
                    fn(spark, split_dir).collect()
                    best = min(best, time.perf_counter() - t0)
                split_timings[name] = round(best, 4)
            except Exception as exc:
                errors[f"split:{name}"] = repr(exc)[:200]

    # Serving-layout headline: q73 is q07's oracle-identical twin over
    # custkey-bucketed storage (q34 — already in the headline set — is
    # q16's). Timed through the IDENTICAL protocol and emitted
    # alongside, so the per-round artifact itself records what the
    # load-time layout buys (docs/PERF.md "Serving-layout headline");
    # the headline `value` stays the raw-layout number.
    serving_timings: dict[str, float] = {}
    serving_passes: dict[str, list[float]] = {}
    serving_skipped = None
    # gate only on HEADLINE-query errors (plain keys) — a split-scan
    # failure is unrelated to this section and must not silently drop it
    headline_errors = {k: v for k, v in errors.items() if ":" not in k}
    if extra:
        serving_skipped = "custom SPARK_GRAFT_BENCH_QUERIES list breaks the set's meaning"
    elif headline_errors:
        serving_skipped = f"headline errors: {sorted(headline_errors)}"
    elif "q73_flagship_bucketed" not in QUERIES:
        serving_skipped = "q73_flagship_bucketed not in catalog"
    else:
        for name in ("q73_flagship_bucketed",):
            fn = QUERIES[name].spark
            try:
                for _ in range(2):  # first pass also builds the buckets
                    fn(spark, sf_dir).collect()
                runs = []
                for _ in range(reps):
                    t0 = time.perf_counter()
                    fn(spark, sf_dir).collect()
                    runs.append(time.perf_counter() - t0)
                serving_passes[name] = runs
                serving_timings[name] = round(min(runs), 4)
            except Exception as exc:
                errors[f"serving:{name}"] = repr(exc)[:200]
                serving_skipped = f"serving-query error: {name}"

    sf_label = os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or sf_dir
    try:
        sf_value: float | str = float(sf_label)
    except ValueError:
        sf_value = sf_label
    # Derived field (VERDICT r4 item 8): per-query data-dependent work
    # after subtracting the measured plan-build share and the scheduler
    # /collect floor — the number comparable against a single-process
    # engine at toy scale, emitted so no reader re-does the subtraction.
    above_floor = {
        name: round(max(0.0, t - builds.get(name, 0.0) - floors["floor_noop"]), 4)
        for name, t in timings.items()
    }
    out = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf_value,
        "reps": reps,
        "floors": floors,
        "plan_build": builds,
        "above_floor": above_floor,
    }
    cache_info["end"] = _cache_state()
    out["cache"] = cache_info
    out["cpu"] = _cpu_window(
        cpu_start, _cpu_state(), time.perf_counter() - cpu_wall0
    )

    # Protocol distributions (VERDICT r6 item 1): per-pass PAIRED sums —
    # rep r of the protocol total = sum over queries of their pass-r
    # time, so every rep is a same-window draw of the whole protocol.
    # median is the published center; band = [min, max] across reps.
    def _dist(rep_sums: list[float]) -> tuple[float, list[float]]:
        return (
            round(statistics.median(rep_sums), 4),
            [round(min(rep_sums), 4), round(max(rep_sums), 4)],
        )

    if passes and all(n in passes for n in names):
        seq_sums = [sum(passes[n][r] for n in names) for r in range(reps)]
        out["headline_total_median_sec"], out["headline_total_band_sec"] = _dist(
            seq_sums
        )
    if concurrent_total is not None:
        out["concurrent_total_sec"] = concurrent_total
        out["concurrent_median_sec"], out["concurrent_band_sec"] = _dist(
            concurrent_runs
        )
    if split_timings:
        out["queries_split_scan"] = split_timings
        out["split_total_sec"] = round(sum(split_timings.values()), 4)
    if serving_timings:
        out["queries_serving_layout"] = serving_timings
        # the headline set on its best measured layout (docs/PERF.md
        # "Serving-layout headline"): q73 stands in for q07 and q34 —
        # already a headline entry — stands in for q16, counted ONCE;
        # a 4-query set {q73, q08, q34, q17} comparable against the
        # same 4 oracles on the DuckDB side
        drop = {"q07_flagship_industry_avg", "q16_star_join_revenue"}
        out["serving_headline_total_sec"] = round(
            sum(t for n, t in timings.items() if n not in drop)
            + sum(serving_timings.values()),
            4,
        )
        serving_names = [n for n in names if n not in drop]
        if all(n in passes for n in serving_names) and serving_passes:
            srv_sums = [
                sum(passes[n][r] for n in serving_names)
                + sum(p[r] for p in serving_passes.values())
                for r in range(reps)
            ]
            (
                out["serving_headline_median_sec"],
                out["serving_headline_band_sec"],
            ) = _dist(srv_sums)
    elif serving_skipped:
        out["serving_skipped"] = serving_skipped
    if errors:
        out["errors"] = errors
    return out


if __name__ == "__main__":
    main()
