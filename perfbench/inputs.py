"""Deterministic input builders for the benchmark.

Every builder takes the workload seed and a size, writes parquet files
(naive ``timestamp[us]``, like the engine's testdata) and returns the
directory. Results are cached under ``.perfbench_cache/<fingerprint>/``
in the working directory; the fingerprint hashes the source of this
module, so editing a builder never reuses stale inputs. Same seed, same
bytes.

Builders:

- ``universe``: the ticker list the ``financial_api`` source fetches
  and seeded quarterly statements for those tickers.
- ``event_drops``: an event stream cut in event-time order into file
  drops, each later drop redelivering part of the previous drop's tail
  (at-least-once delivery), so the watermarked dedup appends every
  fresh event and drops every redelivered one.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CACHE_ROOT = ".perfbench_cache"
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
QUARTERS = ["2023-12", "2024-03", "2024-06", "2024-09"]


def fingerprint() -> str:
    with open(os.path.abspath(__file__), "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:16]


def _cached(name: str, build) -> str:
    """Return ``<cache>/<fingerprint>/<name>``, building it once into a
    scratch sibling and renaming it into place when complete."""
    final = os.path.join(os.path.abspath(CACHE_ROOT), fingerprint(), name)
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    try:
        os.rename(tmp, final)
    except OSError:  # a concurrent builder finished first
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def _write(out: str, name: str, cols: dict, schema: pa.Schema) -> None:
    table = pa.table(cols, schema=schema)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    micros = (seconds * 1_000_000).astype("int64")
    epoch = int((base - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(micros + epoch, type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


# ---------------------------------------------------------------------------
# events
# ---------------------------------------------------------------------------

_EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
    ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string()),
])


def _event_cols(rng: np.random.Generator, n: int, hours: float) -> dict:
    # monotone event time over ``hours``, like a real append-only log
    secs = np.sort(rng.uniform(0, hours * 3600.0, n))
    return {
        "event_id": np.arange(n, dtype="int64"),
        "ts": _ts(dt.datetime(2024, 1, 1), secs),
        "user_id": rng.integers(0, max(2, n // 60), n).astype("int64"),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": _money(rng, 0.0, 500.0, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def event_drops(seed: int, n_events: int, n_drops: int, hours: float, redeliver: float) -> str:
    """``n_drops`` parquet files ``drop_000.parquet`` … cut in event-time
    order from ``n_events`` events spread over ``hours``. Drop k>0 also
    carries ``redeliver`` × its size of rows copied from the last hour of
    drop k-1: inside the 2 h watermark, so the dedup state still holds
    their ids and drops them."""

    def build(out: str) -> None:
        rng = np.random.default_rng(seed + 7)
        table = pa.table(_event_cols(rng, n_events, hours), schema=_EVENTS_SCHEMA)
        bounds = np.linspace(0, n_events, n_drops + 1).astype(int)
        prev = None
        for k in range(n_drops):
            part = table.slice(bounds[k], bounds[k + 1] - bounds[k])
            if prev is not None:
                ts_us = prev.column("ts").cast(pa.int64()).to_numpy()
                tail = np.nonzero(ts_us >= ts_us.max() - 3_600_000_000)[0]
                n_dup = min(len(tail), int(redeliver * part.num_rows))
                pick = np.sort(rng.choice(tail, n_dup, replace=False))
                part = pa.concat_tables([prev.take(pa.array(pick)), part])
            pq.write_table(part, os.path.join(out, f"drop_{k:03d}.parquet"))
            prev = table.slice(bounds[k], bounds[k + 1] - bounds[k])

    return _cached(f"drops-n{n_events}d{n_drops}h{hours}r{redeliver}-s{seed}", build)


# ---------------------------------------------------------------------------
# ticker universe (etl_refresh, dashboard)
# ---------------------------------------------------------------------------


def tickers(seed: int, n: int) -> list[str]:
    """``n`` distinct 3–5 letter upper-case symbols, seeded."""
    rng = np.random.default_rng(seed + 11)
    letters = np.array(list(string.ascii_uppercase))
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        k = int(rng.integers(3, 6))
        sym = "".join(letters[rng.integers(0, 26, k)])
        if sym not in seen:
            seen.add(sym)
            out.append(sym)
    return out


def universe(seed: int, n: int) -> str:
    """``tickers.txt`` (one symbol a line) and ``statements.parquet``:
    1-4 seeded quarterly statements per ticker; 3% of tickers have none
    (the left-join edge of the ratios build)."""

    def build(out: str) -> None:
        syms = tickers(seed, n)
        with open(os.path.join(out, "tickers.txt"), "w") as fh:
            fh.write("\n".join(syms) + "\n")
        rng = np.random.default_rng(seed + 13)
        rows_t, rows_m = [], []
        for sym, k in zip(syms, rng.integers(0, 5, n)):
            if k == 0 and rng.random() >= 0.15:  # P(k=0) 0.2 x 0.15 = 3%
                k = 1
            for q in QUARTERS[4 - k:]:
                rows_t.append(sym)
                rows_m.append(q)
        m = len(rows_t)
        cols = {"ticker": rows_t, "month": rows_m}
        for name, lo, hi in (
            ("cash_and_cash_equivalents", 1e6, 5e9), ("ebitda", -1e8, 2e9),
            ("net_income", -5e8, 1e9), ("net_debt", -1e9, 3e9),
            ("total_debt", 0.0, 5e9), ("current_assets", 1e6, 8e9),
            ("current_liabilities", 0.0, 6e9),
        ):
            cols[name] = _money(rng, lo, hi, m)
        schema = pa.schema([("ticker", pa.string()), ("month", pa.string())]
                           + [(c, pa.float64()) for c in list(cols)[2:]])
        _write(out, "statements", cols, schema)

    return _cached(f"universe-n{n}-s{seed}", build)
