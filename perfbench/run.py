#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the workload's inputs from
``--seed`` (cached under ``.perfbench_cache/``), pins the environment
(``local[<cores>]``, driver memory, per-run warehouse/local/checkpoint
dirs under ``.perfbench_run/``), sets up several fresh sessions
(``SETUP_REPS``) and reports the median set-up time, measures for
``--seconds``, checks the outputs, and prints one JSON object as the
last line of stdout.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` splits the
window between a traced session (spans + Spark event log) and an
untraced one, and reports the per-layer metrics plus the tracing
overhead. See ``perfbench/README.md`` for workloads, metrics and sizes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "aws_etl_pipeline_financial_streamlit_dashboard_spark"
# set-ups per run: at least SETUP_REPS[0]; more, up to SETUP_REPS[1],
# while the set-ups after the first (which launches the JVM) have taken
# under SETUP_WARM_S, so a cheap set-up gets a median of many samples
SETUP_REPS = (3, 9)
SETUP_WARM_S = 2.0
RUN_ROOT = ".perfbench_run"

END_TO_END = {
    "setup_s": "s",
    "interaction_p50_ms": "ms",
    "interaction_p90_ms": "ms",
    "interactions_per_s": "1/s",
    "pass_s": "s",
    "stored_mb": "MB",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.scan_mb": "MB",
    "sources.rows_scanned_per_result_row": "ratio",
    "sources.ingest_s": "s",
    "sources.ingest_rows_per_s": "rows/s",
    "sources.write_s": "s",
    "sources.written_mb": "MB",
    "sources.files_written": "count",
    "plans.build_ms": "ms",
    "plans.jobs_per_op": "count",
    "plans.stages_per_op": "count",
    "operators.exec_s": "s",
    "operators.queue_wait_ms": "ms",
    "operators.task_run_s": "s",
    "operators.task_cpu_s": "s",
    "operators.core_util": "ratio",
    "operators.gc_s": "s",
    "operators.shuffle_write_mb": "MB",
    "operators.shuffle_read_mb": "MB",
    "streaming.batch_s": "s",
    "streaming.appended_frac": "ratio",
    "trace.overhead_ratio": "ratio",
}


def java_opts(run_dir: str) -> str:
    return f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"


def pin_environment(run_dir: str, cpus: int) -> None:
    """Everything the engine reads from the environment, set before the
    JVM starts: worker import path, interpreter, temp and local dirs,
    and a driver heap sized to this host (1/8 of RAM, 1-4 GiB)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    root = os.getcwd()
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    # the JVMs' own temp files (hsperfdata is always under /tmp)
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts(run_dir)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    mem_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    os.environ["SPARK_DRIVER_MEMORY"] = f"{min(4, max(1, int(mem_gib / 8)))}g"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_session(cpus: int, run_dir: str, rep_dir: str, extra: dict | None = None):
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(rep_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "local"),
        # a heap fixed at its maximum from the start: G1 grows a smaller
        # one at GC-timing-dependent moments, which made peak_rss_mb vary
        "spark.driver.extraJavaOptions":
            f"{java_opts(run_dir)} -Xms{os.environ['SPARK_DRIVER_MEMORY']}",
        **(extra or {}),
    }
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(os.path.join(rep_dir, "ckpt"))
    return spark


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_jvm() -> None:
    """Stop the gateway JVM and wait for it and every process it
    started (Python workers) to end."""
    import sysmon
    from pyspark import SparkContext

    pids = sysmon.descendants()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)


@dataclass
class OpRecord:
    name: str
    t0: float
    t1: float
    ok: bool

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


def run_op(spark, name, fn, records, lock) -> None:
    t0 = time.perf_counter()
    ok = True
    try:
        fn(spark)
    except Exception:
        ok = False
        traceback.print_exc(file=sys.stderr)
    rec = OpRecord(name, t0, time.perf_counter(), ok)
    with lock:
        records.append(rec)


def run_window(wl, spark, seconds: float) -> tuple[list, list[float], float]:
    """Run ops for about ``seconds``. Sequential workloads run whole
    passes, at least one, and return each pass's summed op time; the
    concurrent one runs a closed loop of ``cpus`` clients (each runs at
    least one op; an op started before the deadline completes) and
    returns the mean wall time per ``cpus`` completions as its one
    pass."""
    records: list = []
    lock = threading.Lock()
    start = time.perf_counter()
    deadline = start + seconds
    if wl.concurrent:
        name, fn = wl.ops()[0]

        def client() -> None:
            while True:
                run_op(spark, name, fn, records, lock)
                if time.perf_counter() >= deadline:
                    return

        threads = [threading.Thread(target=client) for _ in range(wl.cpus)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        wall = max(r.t1 for r in records) - start
        return records, [wl.cpus * wall / len(records)], wall
    # another pass starts only if one more of the last one's length ends
    # by the deadline: with a pass about as long as the window, "start
    # while before the deadline" ran one pass or two by a small speed
    # difference, and the pass count then swung pass_s between runs
    passes: list[float] = []
    last = 0.0
    while not passes or time.perf_counter() + last <= deadline:
        t0 = time.perf_counter()
        wl.begin_pass(spark)
        n0 = len(records)
        for name, fn in wl.ops():
            run_op(spark, name, fn, records, lock)
        wl.end_pass(spark)
        passes.append(sum(r.seconds for r in records[n0:]))
        last = time.perf_counter() - t0
    return records, passes, records[-1].t1 - start


def warm_up(wl, spark) -> None:
    """Untimed (JIT, caches, lazy state): one whole pass of a sequential
    workload, so every op kind is warm in the window; one op per client
    of the concurrent one."""
    wl.begin_pass(spark)
    if not wl.concurrent:
        for _, fn in wl.ops():
            fn(spark)
        wl.end_pass(spark)
        return
    fn = wl.ops()[0][1]
    clients = [threading.Thread(target=fn, args=(spark,)) for _ in range(wl.cpus)]
    for t in clients:
        t.start()
    for t in clients:
        t.join()


def percentile(values: list[float], q: int) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def op_medians(records) -> dict[str, float]:
    by_name: dict[str, list[float]] = {}
    for r in records:
        by_name.setdefault(r.name, []).append(r.seconds * 1000)
    return {k: statistics.median(v) for k, v in by_name.items()}


def end_to_end(wl, seconds, cpus, run_dir) -> tuple[dict, list, dict, object]:
    import sysmon

    setups: list[float] = []
    spark = None
    for rep in range(SETUP_REPS[1]):
        if rep >= SETUP_REPS[0] and sum(setups[1:]) >= SETUP_WARM_S:
            break
        if spark is not None:
            spark.stop()
        rep_dir = os.path.join(run_dir, f"rep{rep}")
        t0 = time.perf_counter()
        spark = start_session(cpus, run_dir, rep_dir)
        wl.setup(spark, rep_dir)
        setups.append(time.perf_counter() - t0)
    warm_up(wl, spark)
    records, passes, wall = run_window(wl, spark, seconds)
    peak = sysmon.hwm_bytes([os.getpid(), jvm_pid()]) / 2**20
    lat = [r.seconds * 1000 for r in records]
    metrics = {
        "setup_s": statistics.median(setups),
        "interaction_p50_ms": statistics.median(lat),
        "interaction_p90_ms": percentile(lat, 90),
        "interactions_per_s": len(records) / wall,
        "pass_s": statistics.median(passes),
        "stored_mb": wl.stored_bytes() / 2**20,
        "peak_rss_mb": peak,
    }
    info = {"setups_s": [round(s, 3) for s in setups], "passes": len(passes),
            "op_p50_ms": {k: round(v, 1) for k, v in op_medians(records).items()}}
    return metrics, records, info, spark


def ready_session(wl, cpus, run_dir, rep: int, extra: dict | None = None):
    """A fresh session with the workload set up and warmed up."""
    rep_dir = os.path.join(run_dir, f"rep{rep}")
    with wl.spans.span("session.start"):
        spark = start_session(cpus, run_dir, rep_dir, extra)
    wl.setup(spark, rep_dir)
    warm_up(wl, spark)
    return spark


def per_layer(wl, seconds, cpus, run_dir) -> tuple[dict, list, dict, object]:
    """Two windows of ``seconds / 2``, each in a fresh session: traced
    (spans + Spark event log), then untraced, the baseline of the
    tracing overhead. A first session only warms the JVM, so both
    windows run in a warm one."""
    import tracing

    ready_session(wl, cpus, run_dir, 0).stop()

    wl.spans.enabled = True
    log_dir = os.path.join(run_dir, "eventlog")
    spark = ready_session(wl, cpus, run_dir, 1, tracing.event_log_conf(log_dir))
    build0, rows0 = wl.spans.total["plans.build"], wl.result_rows
    t0 = time.time()
    records, _, wall = run_window(wl, spark, seconds / 2)
    t1 = time.time()
    build = wl.spans.total["plans.build"] - build0
    rows = wl.result_rows - rows0
    wl.spans.enabled = False
    iso = wl.isolate(spark)
    spark.stop()

    spark = ready_session(wl, cpus, run_dir, 2)
    base, _, _ = run_window(wl, spark, seconds / 2)
    m = {
        "session.start_s": wl.spans.total["session.start"],
        "sources.ingest_s": iso["ingest_s"],
        "sources.ingest_rows_per_s": iso["ingest_rows_per_s"],
        "sources.write_s": iso["write_s"],
        "sources.written_mb": iso["written_mb"],
        "sources.files_written": iso["files_written"],
        "plans.build_ms": build * 1000 / len(records),
        "operators.exec_s": (sum(r.seconds for r in records) - build) / len(records),
        "streaming.batch_s": iso["batch_s"],
        "streaming.appended_frac": iso["appended_frac"],
        "trace.overhead_ratio": overhead(base, records),
    }
    info = {"windows_ops": [len(records), len(base)],
            "spans_s": {k: round(v, 3) for k, v in wl.spans.total.items()}}
    ev = {"log_dir": log_dir, "window": (t0, t1), "ops": len(records), "wall": wall,
          "cpus": cpus, "result_rows": rows}
    return m, records + base, {**info, "event_log": ev}, spark


def overhead(base: list, traced: list) -> float:
    """Median over op names of traced median / untraced median: 1 when
    tracing costs nothing."""
    a, b = op_medians(base), op_medians(traced)
    return statistics.median(b[k] / a[k] for k in b if k in a)


def add_event_log(m: dict, ev: dict) -> None:
    """The per-layer metrics read from the traced window's event log."""
    import tracing

    c = tracing.read_event_log(ev["log_dir"], *ev["window"])
    n, mb = ev["ops"], 2**20
    m.update({
        "sources.scan_mb": c.get("in_b", 0) / mb / n,
        "sources.rows_scanned_per_result_row": c.get("in_rows", 0) / max(1, ev["result_rows"]),
        "plans.jobs_per_op": c["jobs"] / n,
        "plans.stages_per_op": c["stages"] / n,
        "operators.queue_wait_ms": c["queue_wait_ms"],
        "operators.task_run_s": c.get("run_ms", 0) / 1000 / n,
        "operators.task_cpu_s": c.get("cpu_ns", 0) / 1e9 / n,
        "operators.core_util": c.get("run_ms", 0) / 1000 / (ev["wall"] * ev["cpus"]),
        "operators.gc_s": c.get("gc_ms", 0) / 1000 / n,
        "operators.shuffle_write_mb": c.get("sw_b", 0) / mb / n,
        "operators.shuffle_read_mb": c.get("sr_b", 0) / mb / n,
    })


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (self-test)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    missing = [p for p in (PACKAGE, "bench.py") if not os.path.exists(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.abspath(os.path.join(RUN_ROOT, f"{args.workload}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    pin_environment(run_dir, cpus)

    import sysmon
    import tracing

    wl = WORKLOADS[args.workload](args.seed, args.smoke, cpus, run_dir, tracing.Spans(False))
    cpu = sysmon.CpuWindow()
    try:
        wl.build_inputs()
        if args.trace:
            metrics, records, info, spark = per_layer(wl, args.seconds, cpus, run_dir)
        else:
            metrics, records, info, spark = end_to_end(wl, args.seconds, cpus, run_dir)
        checked, bad = wl.check(spark)
        spark.stop()
        if args.trace:
            add_event_log(metrics, info.pop("event_log"))
    finally:
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    contention = cpu.close()

    attempted = len(records)
    failed = min(attempted, sum(not r.ok for r in records) + len(bad))
    units = PER_LAYER if args.trace else END_TO_END
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "attempted": attempted, "failed_frac": failed / max(1, attempted),
        "outputs_checked": checked, "mismatches": bad[:10], **wl.info, **info,
        "cpu": contention,
    }
    print("# perfbench " + json.dumps(summary), flush=True)
    for name, unit in units.items():
        print(f"#   {name:40s} {metrics[name]:14.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0 and checked > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
