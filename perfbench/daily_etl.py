"""The daily_etl workload: the reference's daily sector-price job, one
simulated trading day per operation.

A *world* is generated from the seed in the shape of FIXTURES.md §A and
of the reference's data (SURVEY.md §6): 500 tickers spread unevenly
over the 11 SPDR sectors, 25-65 per sector, per-day OHLCV prices, per-day
holdings (shares held per sector and ticker) and per-day sector shares
outstanding. The first ``history_days`` market days form the initial
parquet state; every later market day is one operation:

1. build the incoming batch and land it as parquet: the new day, an
   overlap copy of the previous day (already in state, with different
   prices, so keeping it would be visible), and rows dated the next
   Saturday (not a market day, so the calendar gate must drop them);
2. call ``pipeline.etl.run_daily_pipeline`` on the state;
3. persist with ``io.overwrite_partitions`` (the new price partition),
   ``io.publish_version`` (the sector history) and ``io.write_csv_export``
   (the reference's wide CSV);
4. every second day, ``io.compact_parquet_table`` rewrites the price
   state and the state moves to the compacted copy.

World generation and the numpy reference use numpy and pyarrow only, so
the correctness check does not share code with the engine under test.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import shutil
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SECTORS = ["xlb", "xlc", "xle", "xlf", "xli", "xlk", "xlp", "xlre", "xlu", "xlv", "xly"]
# The engine's calendar holds its own copy; the benchmark keeps an
# independent one so that the gate is checked, not assumed.
HOLIDAYS = {
    dt.date.fromisoformat(d)
    for d in (
        "2025-01-01", "2025-01-20", "2025-02-17", "2025-04-18", "2025-05-26",
        "2025-06-19", "2025-07-04", "2025-09-01", "2025-11-27", "2025-12-25",
        "2026-01-01", "2026-01-19", "2026-02-16", "2026-04-03", "2026-05-25",
        "2026-06-19", "2026-07-03", "2026-09-07", "2026-11-26", "2026-12-25",
    )
}

PRICE_SCHEMA = pa.schema(
    [
        ("date", pa.date32()),
        ("ticker", pa.string()),
        ("open", pa.decimal128(10, 2)),
        ("high", pa.decimal128(10, 2)),
        ("low", pa.decimal128(10, 2)),
        ("close", pa.decimal128(10, 2)),
        ("volume", pa.int64()),
    ]
)


def market_days(start: dt.date, n: int) -> list[dt.date]:
    """The first ``n`` NYSE market days on or after ``start``."""
    out, d = [], start
    while len(out) < n:
        if d.weekday() < 5 and d not in HOLIDAYS:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def next_saturday(d: dt.date) -> dt.date:
    return d + dt.timedelta(days=(5 - d.weekday()) % 7 or 7)


@dataclass
class World:
    """Every input of the workload, as numpy arrays indexed by
    (day, ticker) or (day, sector). Prices are integer cents."""

    days: list[dt.date]
    tickers: list[str]
    sector_of: np.ndarray        # (tickers,) index into SECTORS
    ohlc_cents: np.ndarray       # (days, tickers, 4): open, high, low, close
    volume: np.ndarray           # (days, tickers)
    shares_held: np.ndarray      # (days, tickers)
    outstanding: np.ndarray      # (days, sectors)
    history_days: int
    overlap_bump_cents: int = 7  # overlap rows differ from state by this much
    weekend_tickers: list[int] = field(default_factory=list)


def sector_sizes(rng: np.random.Generator, n_tickers: int, low: int = 25, high: int = 65) -> np.ndarray:
    """Uneven tickers-per-sector counts in [low, high] that sum to
    ``n_tickers`` (the reference holds 25-65 per sector, about 500 in
    all): uniform draws, then single steps toward the total."""
    n = len(SECTORS)
    if not n * low <= n_tickers <= n * high:
        raise ValueError(f"{n_tickers} tickers do not fit {n} sectors of {low}-{high}")
    sizes = rng.integers(low, high + 1, n)
    while (gap := n_tickers - int(sizes.sum())) != 0:
        movable = np.flatnonzero(sizes < high) if gap > 0 else np.flatnonzero(sizes > low)
        sizes[rng.choice(movable)] += 1 if gap > 0 else -1
    return sizes


def generate_world(
    seed: int,
    n_tickers: int = 500,
    history_days: int = 40,
    op_days: int = 120,
    per_sector: tuple[int, int] = (25, 65),
) -> World:
    rng = np.random.default_rng(seed)
    start = dt.date(2025, 1, 2) + dt.timedelta(days=int(rng.integers(0, 60)))
    days = market_days(start, history_days + op_days)
    n_days = len(days)
    tickers = [f"t{seed % 1000:03d}{i:04d}" for i in range(n_tickers)]
    sector_of = np.repeat(np.arange(len(SECTORS)), sector_sizes(rng, n_tickers, *per_sector))
    rng.shuffle(sector_of)

    base = rng.integers(500, 60000, n_tickers)
    steps = rng.normal(0.0, 0.01, (n_days, n_tickers))
    close = np.clip(np.round(base * np.exp(np.cumsum(steps, axis=0))), 500, 60000)
    open_ = np.clip(np.round(close * (1 + rng.normal(0, 0.004, close.shape))), 500, 60000)
    high = np.maximum(open_, close) + rng.integers(0, 50, close.shape)
    low = np.maximum(np.minimum(open_, close) - rng.integers(0, 50, close.shape), 1)
    ohlc = np.stack([open_, high, low, close], axis=-1).astype(np.int64)

    volume = rng.integers(10**5, 10**8, (n_days, n_tickers))
    held0 = rng.integers(10**5, 10**7, n_tickers)
    drift = rng.integers(-1000, 1000, (n_days, n_tickers)).cumsum(axis=0)
    shares_held = np.maximum(held0 + drift, 10**5).astype(np.int64)
    outstanding = rng.integers(10**7, 10**9, (n_days, len(SECTORS))).astype(np.int64)
    weekend = sorted(rng.choice(n_tickers, size=max(1, n_tickers // 10), replace=False).tolist())
    return World(
        days=days,
        tickers=tickers,
        sector_of=sector_of,
        ohlc_cents=ohlc,
        volume=volume,
        shares_held=shares_held,
        outstanding=outstanding,
        history_days=history_days,
        weekend_tickers=weekend,
    )


def _cents(a: np.ndarray) -> pa.Array:
    return pa.array([Decimal(int(c)).scaleb(-2) for c in a], pa.decimal128(10, 2))


def price_table(world: World, day_idx: list[int], bump_cents: int = 0) -> pa.Table:
    """Price rows of the given days, with ``bump_cents`` added to every
    price (used for the overlap rows)."""
    n = len(world.tickers)
    idx = np.repeat(np.asarray(day_idx, dtype=np.int64), n)
    tick = np.tile(np.arange(n), len(day_idx))
    ohlc = world.ohlc_cents[idx, tick] + bump_cents
    return pa.table(
        [
            pa.array([world.days[i] for i in idx], pa.date32()),
            pa.array([world.tickers[t] for t in tick], pa.string()),
            *(_cents(ohlc[:, k]) for k in range(4)),
            pa.array(world.volume[idx, tick], pa.int64()),
        ],
        schema=PRICE_SCHEMA,
    )


def incoming_batch(world: World, day_idx: int) -> pa.Table:
    """Day ``day_idx``'s landed batch: the new day, the previous day
    again (bumped: must be dropped as an overlap), and next Saturday's
    rows for a few tickers (must be gated out as a non-market day)."""
    new = price_table(world, [day_idx])
    overlap = price_table(world, [day_idx - 1], world.overlap_bump_cents)
    sat = next_saturday(world.days[day_idx])
    wk = world.weekend_tickers
    weekend = pa.table(
        [
            pa.array([sat] * len(wk), pa.date32()),
            pa.array([world.tickers[t] for t in wk], pa.string()),
            *(_cents(world.ohlc_cents[day_idx, wk, k]) for k in range(4)),
            pa.array(world.volume[day_idx, wk], pa.int64()),
        ],
        schema=PRICE_SCHEMA,
    )
    return pa.concat_tables([new, overlap, weekend])


def holdings_table(world: World) -> pa.Table:
    n_days, n = world.shares_held.shape
    idx = np.repeat(np.arange(n_days), n)
    tick = np.tile(np.arange(n), n_days)
    return pa.table(
        {
            "date": pa.array([world.days[i] for i in idx], pa.date32()),
            "sector": pa.array([SECTORS[s] for s in world.sector_of[tick]], pa.string()),
            "ticker": pa.array([world.tickers[t] for t in tick], pa.string()),
            "shares_held": pa.array(world.shares_held[idx, tick], pa.int64()),
        }
    )


def outstanding_table(world: World) -> pa.Table:
    n_days, n_sec = world.outstanding.shape
    idx = np.repeat(np.arange(n_days), n_sec)
    sec = np.tile(np.arange(n_sec), n_days)
    return pa.table(
        {
            "date": pa.array([world.days[i] for i in idx], pa.date32()),
            "sector": pa.array([SECTORS[s] for s in sec], pa.string()),
            "shares_outstanding": pa.array(world.outstanding[idx, sec], pa.int64()),
        }
    )


def reference_calc_price(world: World, n_days: int) -> dict[tuple[dt.date, str], float]:
    """calc_price(date, sector) = Σ close × shares_held / shares_outstanding
    over the first ``n_days`` days, recomputed in numpy from the
    generated inputs (exact integer market cap in cents)."""
    close = world.ohlc_cents[:n_days, :, 3]
    mcap_cents = np.zeros((n_days, len(SECTORS)), dtype=np.int64)
    for s in range(len(SECTORS)):
        members = world.sector_of == s
        mcap_cents[:, s] = (close[:, members] * world.shares_held[:n_days, members]).sum(axis=1)
    out = {}
    for i in range(n_days):
        for s, name in enumerate(SECTORS):
            if (world.sector_of == s).any():
                out[(world.days[i], name)] = mcap_cents[i, s] / 100.0 / world.outstanding[i, s]
    return out


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            total += os.path.getsize(os.path.join(root, name))
            files += 1
    return total, files


def count_state_files(path: str) -> int:
    return sum(1 for _r, _d, names in os.walk(path) for n in names if n.endswith(".parquet"))


class DailyEtl:
    """Runs simulated trading days against a parquet state under ``root``.

    ``span`` is the caller's span factory (``spans.Tracer.span``), used
    around every call into ``pipeline`` and ``io``."""

    def __init__(self, spark, root: str, seed: int, span):
        from pyspark.sql import functions as F

        from stock_data_pipeline_spark import io as sio

        self.spark, self.root, self.span = spark, root, span
        self.F, self.io = F, sio
        self.world = generate_world(seed)
        self.day = self.world.history_days  # index of the next day to run
        self.compactions = 0
        self.bytes_written = 0
        self.files_written = 0
        self.input_bytes = 0
        self.state_files_read = 0
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(f"{root}/landing")
        w = self.world
        pq.write_table(holdings_table(w), f"{root}/holdings.parquet")
        pq.write_table(outstanding_table(w), f"{root}/outstanding.parquet")
        self.prices_path = f"{root}/prices_0"
        hist = price_table(w, list(range(w.history_days)))
        pq.write_to_dataset(hist, self.prices_path, partition_cols=["date"])
        self.hist_dir = f"{root}/sector_history"
        # inputs are landed as parquet, as a scraper would land them: a
        # DataFrame built from driver-side Python rows would be scanned
        # through Python workers and charge their CPU to the engine
        pq.write_table(pa.table({"date": pa.array(w.days, pa.date32())}), f"{root}/calendar.parquet")
        empty = pa.table(
            {
                "date": pa.array([], pa.date32()),
                "sector": pa.array([], pa.string()),
                "calc_price": pa.array([], pa.float64()),
            }
        )
        os.makedirs(f"{self.hist_dir}/v1")
        pq.write_table(empty, f"{self.hist_dir}/v1/part-0.parquet")
        sio.set_latest_version(spark, self.hist_dir, 1)
        self.shares = spark.read.parquet(f"{root}/holdings.parquet")
        self.outstanding = spark.read.parquet(f"{root}/outstanding.parquet")
        self.calendar = spark.read.parquet(f"{root}/calendar.parquet")

    def _read_prices(self):
        self.state_files_read += count_state_files(self.prices_path)
        # partition discovery types the date directories as DATE
        return self.spark.read.parquet(self.prices_path)

    def _written(self, path: str) -> None:
        b, f = dir_stats(path)
        self.bytes_written += b
        self.files_written += f

    def _land(self, i: int):
        landing = f"{self.root}/landing/{self.world.days[i]}.parquet"
        pq.write_table(incoming_batch(self.world, i), landing)
        self.input_bytes += os.path.getsize(landing)
        return self.spark.read.parquet(landing)

    def _pipeline(self, incoming):
        from stock_data_pipeline_spark.pipeline.etl import run_daily_pipeline

        return run_daily_pipeline(
            self._read_prices(),
            incoming,
            self.shares,
            self.outstanding,
            self.io.read_version(self.spark, self.hist_dir),
            self.calendar,
            tickers=self.world.tickers,
        )

    def run_day(self) -> None:
        """One operation: land the next day's batch, run the pipeline and
        persist its outputs."""
        w, F, sio = self.world, self.F, self.io
        i = self.day
        if i >= len(w.days):
            raise RuntimeError("world exhausted: generate more op_days")
        incoming = self._land(i)
        with self.span("pipeline.run_daily_pipeline"):
            res = self._pipeline(incoming)
        new_rows = res.prices.filter(F.col("date") == F.lit(w.days[i]))
        with self.span("io.overwrite_partitions"):
            sio.overwrite_partitions(new_rows, self.prices_path, ["date"])
        self._written(f"{self.prices_path}/date={w.days[i]}")
        with self.span("io.publish_version"):
            v = sio.publish_version(res.sector_history, self.hist_dir)
        self._written(f"{self.hist_dir}/v{v}")
        export = f"{self.root}/exports/{w.days[i]}"
        with self.span("io.write_csv_export"):
            sio.write_csv_export(res.wide_export, export, single_file=True)
        self._written(export)
        self.day += 1

    def compact(self) -> None:
        """Rewrite the price state into few files and move the state there."""
        self.compactions += 1
        dst = f"{self.root}/prices_{self.compactions}"
        with self.span("io.compact_parquet_table"):
            self.io.compact_parquet_table(self.spark, self.prices_path, dst, partition_by=["date"])
        self._written(dst)
        shutil.rmtree(self.prices_path)
        self.prices_path = dst

    def _price_failures(self, what: str, rows) -> list[str]:
        """Rows of (date, ticker, close) against the generated days run so
        far: one row per date and ticker, no weekend row, un-bumped closes."""
        w = self.world
        want = {
            (w.days[i], w.tickers[t]): Decimal(int(w.ohlc_cents[i, t, 3])).scaleb(-2)
            for i in range(self.day)
            for t in range(len(w.tickers))
        }
        got = {(r.date, r.ticker): r.close for r in rows}
        failures = []
        if len(got) != len(rows):
            failures.append(f"{what}: {len(rows) - len(got)} duplicate (date, ticker) rows")
        weekend = sorted({d for d, _t in got if d.weekday() >= 5})
        if weekend:
            failures.append(f"{what}: weekend rows not gated out: {weekend[:3]}")
        if got != want:
            bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
            failures.append(f"{what}: {len(bad)} rows differ from the generated days, e.g. {bad[:2]}")
        return failures

    def check(self) -> list[str]:
        """Compare the persisted state with the generated days and the
        sector history with the numpy reference; then re-run the last
        day and check the pipeline's own output: its bumped overlap day
        and its Saturday rows must be dropped, so the output equals the
        state, and the sector history must not change."""
        w, n = self.world, self.day
        cols = ("date", "ticker", "close")
        failures = self._price_failures("state", self.spark.read.parquet(self.prices_path).select(*cols).collect())

        ref = reference_calc_price(w, n)
        hist = self.io.read_version(self.spark, self.hist_dir).collect()
        calc = {(r.date, r.sector): r.calc_price for r in hist}
        bad = [
            k
            for k in set(ref) | set(calc)
            if calc.get(k) is None or k not in ref or not math.isclose(calc[k], ref[k], rel_tol=1e-9, abs_tol=1e-6)
        ]
        if bad:
            failures.append(f"calc_price: {len(bad)} (date, sector) differ from numpy, e.g. {sorted(bad)[:2]}")

        res = self._pipeline(self._land(n - 1))
        failures += self._price_failures("re-run of the last day", res.prices.select(*cols).collect())
        rerun = {(r.date, r.sector): r.calc_price for r in res.sector_history.collect()}
        if rerun != calc:
            failures.append("re-run of the last day changed the sector history")
        return failures
