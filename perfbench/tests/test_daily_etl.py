import datetime as dt

import numpy as np

from daily_etl import (
    SECTORS,
    generate_world,
    incoming_batch,
    next_saturday,
    reference_calc_price,
    sector_sizes,
)


def test_world_is_a_function_of_the_seed():
    a, b, c = generate_world(3), generate_world(3), generate_world(4)
    for name in ("ohlc_cents", "volume", "shares_held", "outstanding", "sector_of"):
        assert np.array_equal(getattr(a, name), getattr(b, name))
    assert a.days == b.days and a.tickers == b.tickers
    assert not np.array_equal(a.ohlc_cents, c.ohlc_cents)


def test_world_shape():
    w = generate_world(5)
    assert all(d.weekday() < 5 for d in w.days)
    sizes = np.bincount(w.sector_of, minlength=len(SECTORS))
    assert len(w.tickers) == sizes.sum() == 500
    assert 25 <= sizes.min() and sizes.max() <= 65 and sizes.min() < sizes.max()
    low, high = w.ohlc_cents[..., 2], w.ohlc_cents[..., 1]
    assert (low <= w.ohlc_cents[..., 0]).all() and (w.ohlc_cents[..., 3] <= high).all()


def test_incoming_batch_holds_new_overlap_and_weekend_rows():
    w = generate_world(6)
    i = w.history_days
    batch = incoming_batch(w, i).to_pydict()
    dates = batch["date"]
    n = len(w.tickers)
    assert dates.count(w.days[i]) == n
    assert dates.count(w.days[i - 1]) == n
    sat = next_saturday(w.days[i])
    assert sat.weekday() == 5 and sat > w.days[i]
    assert dates.count(sat) == len(w.weekend_tickers)
    overlap_close = [c for d, c in zip(dates, batch["close"]) if d == w.days[i - 1]]
    assert int(overlap_close[0] * 100) == int(w.ohlc_cents[i - 1, 0, 3]) + w.overlap_bump_cents


def test_sector_sizes_hit_the_total_within_range():
    for seed in range(20):
        sizes = sector_sizes(np.random.default_rng(seed), 500)
        assert sizes.sum() == 500 and sizes.min() >= 25 and sizes.max() <= 65
    assert np.array_equal(sector_sizes(np.random.default_rng(1), 300), sector_sizes(np.random.default_rng(1), 300))


def test_next_saturday():
    friday, saturday = dt.date(2025, 3, 7), dt.date(2025, 3, 8)
    assert next_saturday(friday) == saturday
    assert next_saturday(saturday) == dt.date(2025, 3, 15)


def test_numpy_reference_matches_a_plain_loop():
    w = generate_world(7, n_tickers=23, history_days=5, op_days=3, per_sector=(1, 4))
    n_days = 6
    ref = reference_calc_price(w, n_days)
    for i in range(n_days):
        for s, sector in enumerate(SECTORS):
            mcap = sum(
                int(w.ohlc_cents[i, t, 3]) * int(w.shares_held[i, t])
                for t in range(len(w.tickers))
                if w.sector_of[t] == s
            )
            assert ref[(w.days[i], sector)] == mcap / 100.0 / int(w.outstanding[i, s])
    assert len(ref) == n_days * len(SECTORS)
