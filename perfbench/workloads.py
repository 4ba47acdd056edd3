"""The benchmark workloads: ``dashboard`` and ``etl_refresh``.

Each workload builds its inputs from the seed (``inputs``), sets up
once per session (``setup``), defines one pass as a list of named ops
(``ops``) and checks every output it kept once the timed window is over
(``check``). Ops call only the package's public surface: the
``financial_api`` DataSource, ``sources`` readers and writers,
``plans.cleaning.run_transform``, ``plans.dashboard`` and
``streaming.jobs``. ``functions`` and ``operators`` run inside the
plans those calls build.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time

import numpy as np
import pyarrow.parquet as pq

import inputs
from check import duck_rows, duck_views, normalize
from tracing import Spans

from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans import dashboard as dash
from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans.cleaning import run_transform
from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources import (
    read_table,
    write_parquet_overwrite,
)
from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.datasource import (
    FinancialApiDataSource,
)
from aws_etl_pipeline_financial_streamlit_dashboard_spark.streaming.jobs import (
    run_dedup_to_parquet,
)

SERVING = ("company_info", "stock_price", "financial_statements", "ratios")
BARS_PER_TICKER = 12  # the fake API's monthly bars per ticker


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes on disk, parquet data files) under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return size, files


def collect(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


# ---------------------------------------------------------------------------
# the ETL refresh path shared by etl_refresh (timed) and dashboard (setup)
# ---------------------------------------------------------------------------


class Refresh:
    """extract (financial_api DataSource + statements parquet) →
    run_transform → write_parquet_overwrite of the 4 serving tables."""

    def __init__(self, universe_dir: str, cpus: int, spans: Spans) -> None:
        self.universe_dir = universe_dir
        with open(os.path.join(universe_dir, "tickers.txt")) as fh:
            self.tickers = fh.read().split()
        self.cpus = cpus
        self.spans = spans
        self.expected = self._expected_rows()

    def raw(self, spark):
        opt = ",".join(self.tickers)

        def api(mode: str):
            return (
                spark.read.format("financial_api")
                .option("tickers", opt)
                .option("mode", mode)
                .option("numPartitions", str(self.cpus))
                .load()
                .drop("fetch_error")
            )

        return api("info"), api("stock"), read_table(spark, self.universe_dir, "statements")

    def run(self, spark, out_dir: str) -> None:
        with self.spans.span("plans.build"):
            tables = run_transform(*self.raw(spark))
        for name in SERVING:
            write_parquet_overwrite(tables[name], os.path.join(out_dir, name))

    def _expected_rows(self) -> dict[str, int]:
        st = pq.read_table(
            os.path.join(self.universe_dir, "statements.parquet"), columns=["ticker"]
        )
        n = len(self.tickers)
        return {
            "company_info": n,
            "stock_price": n * BARS_PER_TICKER,
            "financial_statements": len(set(st.column("ticker").to_pylist())),
            "ratios": n,
        }

    def isolate(self, spark, out_dir: str) -> dict[str, float]:
        """Per-layer split of one refresh by the noop-sink technique.
        The extract frames run into Spark's ``noop`` sink, cached on the
        way (ingest). The serving tables, built on those cached frames,
        run into ``noop`` once to cache them too. Then, three times, the
        cached tables run into ``noop`` and into their parquet writes;
        the write layer is the median difference. Both sides read the
        same cache, so the difference is the write alone."""

        def noop(df) -> float:
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        raw = [df.persist() for df in self.raw(spark)]
        ingest = sum(noop(df) for df in raw)
        built = run_transform(*raw)
        # let AQE coalesce the cached plans as it does the real writes',
        # so the timed writes lay out the same files
        key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
        saved = spark.conf.get(key)
        spark.conf.set(key, "true")
        tables = {n: built[n].persist() for n in SERVING}
        for df in tables.values():
            noop(df)
        spark.conf.set(key, saved)
        diffs = []
        for _ in range(3):
            read = sum(noop(tables[n]) for n in SERVING)
            t0 = time.perf_counter()
            for name in SERVING:
                write_parquet_overwrite(tables[name], os.path.join(out_dir, name))
            diffs.append(time.perf_counter() - t0 - read)
        rows = sum(df.count() for df in raw)
        for df in raw + list(tables.values()):
            df.unpersist()
        return {
            "ingest_s": ingest,
            "ingest_rows_per_s": rows / ingest,
            "write_s": statistics.median(diffs),
        }


class Stream:
    """The incremental leg: event drops handed one at a time to
    ``run_dedup_to_parquet`` over one source/sink/checkpoint triple."""

    def __init__(self, drops_dir: str, n_events: int) -> None:
        self.drops_dir = drops_dir
        self.drops = sorted(os.listdir(drops_dir))
        self.delivered = sum(
            pq.ParquetFile(os.path.join(drops_dir, d)).metadata.num_rows for d in self.drops
        )
        self.n_events = n_events  # distinct events over all drops
        self.root = ""

    def reset(self, root: str) -> None:
        self.root = root
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(os.path.join(root, "src"))

    def feed(self, spark, name: str) -> None:
        shutil.copy(os.path.join(self.drops_dir, name), os.path.join(self.root, "src", name))
        run_dedup_to_parquet(
            spark, *(os.path.join(self.root, d) for d in ("src", "sink", "ckpt"))
        )

    def appended(self, spark) -> int:
        return spark.read.parquet(os.path.join(self.root, "sink")).count()


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Workload:
    """Base of the two workloads. Both carry the whole write path
    (ticker universe and event drops), so the traced run splits it by
    layer on either of them."""

    name = ""
    concurrent = False

    def __init__(self, seed: int, smoke: bool, cpus: int, run_dir: str, spans: Spans):
        self.seed, self.smoke, self.cpus = seed, smoke, cpus
        self.run_dir, self.spans = run_dir, spans
        self.result_rows = 0  # rows returned by timed ops (waste-ratio base)
        self.kept: list[tuple[str, object]] = []  # (op name, output) to check
        self.info: dict = {}  # facts about the inputs, printed in the summary

    def build_inputs(self) -> None:
        n_tickers, n_events = (40, 2000) if self.smoke else (500, 20000)
        self.refresh = Refresh(inputs.universe(self.seed, n_tickers), self.cpus, self.spans)
        self.stream = Stream(inputs.event_drops(self.seed, n_events, 2, 6.0, 0.2), n_events)

    def setup(self, spark, rep_dir: str) -> None:
        spark.dataSource.register(FinancialApiDataSource)
        self.out = os.path.join(rep_dir, "serving")

    def begin_pass(self, spark) -> None: ...

    def end_pass(self, spark) -> None: ...

    def stored_bytes(self) -> int:
        return dir_bytes(self.out)[0]

    def isolate(self, spark) -> dict[str, float]:
        """One refresh split by the noop-sink technique, then one
        incremental leg over all drops into a fresh sink. Bytes and files
        written are those of the session's real refresh."""
        root = os.path.join(self.run_dir, "isolate")
        out = self.refresh.isolate(spark, os.path.join(root, "serving"))
        size, out["files_written"] = dir_bytes(self.out)  # the real refresh's layout
        out["written_mb"] = size / 2**20
        self.stream.reset(os.path.join(root, "stream"))
        t0 = time.perf_counter()
        for d in self.stream.drops:
            self.stream.feed(spark, d)
        out["batch_s"] = (time.perf_counter() - t0) / len(self.stream.drops)
        out["appended_frac"] = self.stream.appended(spark) / self.stream.delivered
        return out


class EtlRefresh(Workload):
    """The write path: a full refresh of the 4 serving tables, then
    incremental streaming dedup over event-file drops with redelivered
    duplicates."""

    name = "etl_refresh"

    def build_inputs(self) -> None:
        super().build_inputs()
        self.appended: list[int] = []

    def setup(self, spark, rep_dir: str) -> None:
        super().setup(spark, rep_dir)
        self.stream_dir = os.path.join(rep_dir, "stream")

    def begin_pass(self, spark) -> None:
        self.stream.reset(self.stream_dir)

    def _refresh(self, spark) -> None:
        self.refresh.run(spark, self.out)
        self.result_rows += sum(self.refresh.expected.values())

    def ops(self) -> list:
        return [("refresh", self._refresh)] + [
            (f"drop{i}", lambda s, d=d: self.stream.feed(s, d))
            for i, d in enumerate(self.stream.drops)
        ]

    def end_pass(self, spark) -> None:
        self.appended.append(self.stream.appended(spark))
        self.result_rows += self.appended[-1]

    def stored_bytes(self) -> int:
        return super().stored_bytes() + dir_bytes(self.stream_dir)[0]

    def check(self, spark) -> tuple[int, list[str]]:
        want = self.refresh.expected
        bad = [
            n for n in SERVING
            if spark.read.parquet(os.path.join(self.out, n)).count() != want[n]
        ]
        n = self.stream.n_events
        bad += [f"stream pass {i}" for i, a in enumerate(self.appended) if a != n]
        return len(SERVING) + len(self.appended), bad


class Dashboard(Workload):
    """Interactive serving, closed loop: ``cpus`` client threads share
    one session, each rendering one ticker page after another."""

    name = "dashboard"
    concurrent = True
    UNKNOWN_FRAC = 0.02
    # YCSB's default Zipfian request constant (Cooper et al., "Benchmarking
    # Cloud Serving Systems with YCSB", SoCC 2010), the common stand-in
    # for skewed key popularity in serving benchmarks
    ZIPF_A = 0.99

    def build_inputs(self) -> None:
        super().build_inputs()
        tickers = self.refresh.tickers
        rng = np.random.default_rng(self.seed + 17)
        n = 100_000
        # Zipf truncated to the universe: P(rank k) ∝ k**-a, k = 1..len
        weights = np.arange(1, len(tickers) + 1, dtype=float) ** -self.ZIPF_A
        ranks = rng.choice(len(tickers), n, p=weights / weights.sum())
        order = rng.permutation(len(tickers))  # which ticker holds each rank
        seq = [tickers[order[r]] for r in ranks]
        unknown = rng.random(n) < self.UNKNOWN_FRAC
        for i in np.nonzero(unknown)[0]:
            seq[i] = f"ZZ{i}"  # digits: never a generated symbol
        self.sequence = seq
        self._next = 0
        self._lock = threading.Lock()
        top = np.sort(np.bincount(ranks[~unknown], minlength=len(tickers)))[::-1]
        self.info["page_share"] = {
            "top1": round(top[0] / n, 4),
            "top10": round(top[:10].sum() / n, 4),
            "unknown": round(unknown.mean(), 4),
        }

    def setup(self, spark, rep_dir: str) -> None:
        super().setup(spark, rep_dir)
        self.refresh.run(spark, self.out)
        self.tables = {n: spark.read.parquet(os.path.join(self.out, n)) for n in SERVING}

    def next_ticker(self) -> tuple[int, str]:
        with self._lock:
            i = self._next
            self._next += 1
        return i, self.sequence[i % len(self.sequence)]

    def page(self, spark) -> None:
        i, ticker = self.next_ticker()
        t = self.tables
        with self.spans.span("plans.build"):
            frames = {
                "header": dash.company_header(t["company_info"], ticker),
                "company_series": dash.company_price_series(t["stock_price"], ticker),
                "industry_series": dash.industry_price_series(
                    t["company_info"], t["stock_price"], ticker
                ),
                "comparison": dash.comparison_table(
                    t["company_info"], t["financial_statements"], t["ratios"], ticker
                ),
            }
        out = {k: (df.columns, collect(df)) for k, df in frames.items()}
        with self._lock:
            self.result_rows += sum(len(rows) for _, rows in out.values())
            if i % 4 == 0 or ticker.startswith("ZZ"):
                self.kept.append((ticker, out))

    def ops(self) -> list:
        return [("page", self.page)]

    def check(self, spark) -> tuple[int, list[str]]:
        con = duck_views(self.out, SERVING)
        bad = [
            ticker for ticker, out in self.kept
            if {k: normalize(*v) for k, v in out.items()} != _duck_page(con, ticker.upper())
        ]
        con.close()
        return len(self.kept), bad


def _duck_page(con, t: str) -> dict:
    """The four page frames recomputed by DuckDB from the serving files."""
    disp = "strftime(strptime(month || '-01', '%Y-%m-%d'), '%b %Y')"
    target = "(SELECT industry FROM company_info WHERE ticker = $t LIMIT 1)"
    p = {"t": t}
    out = {
        "header": duck_rows(con, "SELECT ticker, company_nm, website, industry, company_info "
                            "FROM company_info WHERE ticker = $t LIMIT 1", p),
        "company_series": duck_rows(con, f"SELECT *, {disp} AS month_display "
                                    "FROM stock_price WHERE ticker = $t", p),
        "industry_series": duck_rows(con, f"""
            SELECT month, avg(closing_price) AS avg_closing_price, {disp} AS month_display
            FROM company_info ci LEFT JOIN stock_price sp USING (ticker)
            WHERE ci.industry = {target} GROUP BY month""", p),
    }
    avgs = ", ".join(f"avg({c}) AS {c}" for c in dash.INDUSTRY_AVG_COLS)
    ind = con.execute(f"""
        SELECT {avgs} FROM company_info ci
        LEFT JOIN financial_statements f USING (ticker)
        LEFT JOIN (SELECT * EXCLUDE (current_ratio) FROM ratios) r USING (ticker)
        WHERE ci.industry = {target} GROUP BY ci.industry""", p)
    ind_cols = [d[0] for d in ind.description]
    ind_rows = ind.fetchall()
    comp = con.execute("""
        SELECT f.* EXCLUDE (ticker), r.* EXCLUDE (ticker, current_ratio)
        FROM (SELECT * FROM financial_statements WHERE ticker = $t) f
        LEFT JOIN (SELECT * FROM ratios WHERE ticker = $t) r USING (ticker)
        LIMIT 1""", p)
    comp_cols = [d[0] for d in comp.description]
    comp_rows = comp.fetchall()
    metrics = comp_cols + [c for c in ind_cols if c not in comp_cols]
    long = []
    for label, cols, rows in ((t, comp_cols, comp_rows),
                              ("Industry Average", ind_cols, ind_rows)):
        for row in rows:
            vals = dict(zip(cols, row))
            long += [(label, m, vals.get(m)) for m in metrics]
    out["comparison"] = normalize(["label", "metric", "value"], long)
    return out


WORKLOADS = {w.name: w for w in (Dashboard, EtlRefresh)}
