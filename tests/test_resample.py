"""Time-series regularization (operators/resample.py): dense spine,
LOCF semantics, gap bounding, per-key independence."""

from __future__ import annotations

import datetime

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from capital.operators.resample import regularize_daily


def _obs(spark, rows):
    return spark.createDataFrame(
        rows, "k string, d date, v double"
    )


def _d(s):
    return datetime.date.fromisoformat(s)


def test_regularize_fills_gaps_locf(spark):
    rows = [
        ("A", _d("2024-01-01"), 10.0),
        ("A", _d("2024-01-04"), 20.0),
    ]
    out = {
        r.date.isoformat(): r
        for r in regularize_daily(_obs(spark, rows), "k", "d", "v").collect()
    }
    assert sorted(out) == [f"2024-01-0{i}" for i in range(1, 5)]
    assert [out[f"2024-01-0{i}"].v for i in range(1, 5)] == [
        10.0, 10.0, 10.0, 20.0,
    ]
    assert [out[f"2024-01-0{i}"].gap_days for i in range(1, 5)] == [0, 1, 2, 0]
    assert [out[f"2024-01-0{i}"].is_observed for i in range(1, 5)] == [
        True, False, False, True,
    ]


def test_regularize_max_gap_nulls_stale_carries(spark):
    rows = [
        ("A", _d("2024-01-01"), 10.0),
        ("A", _d("2024-01-05"), 20.0),
    ]
    out = {
        r.date.isoformat(): r.v
        for r in regularize_daily(
            _obs(spark, rows), "k", "d", "v", max_gap_days=1
        ).collect()
    }
    assert out == {
        "2024-01-01": 10.0,
        "2024-01-02": 10.0,   # gap 1 — still carried
        "2024-01-03": None,   # gap 2 — too stale
        "2024-01-04": None,
        "2024-01-05": 20.0,
    }


def test_regularize_same_day_duplicates_take_max(spark):
    rows = [
        ("A", _d("2024-01-01"), 10.0),
        ("A", _d("2024-01-01"), 30.0),
        ("A", _d("2024-01-02"), 5.0),
    ]
    out = sorted(
        (r.date.isoformat(), r.v)
        for r in regularize_daily(_obs(spark, rows), "k", "d", "v").collect()
    )
    assert out == [("2024-01-01", 30.0), ("2024-01-02", 5.0)]


def test_regularize_keys_independent_and_layout_invariant(spark):
    rows = [
        ("A", _d("2024-01-01"), 1.0),
        ("A", _d("2024-01-03"), 2.0),
        ("B", _d("2024-02-10"), 9.0),
    ]
    df = _obs(spark, rows)
    a = sorted(map(tuple, regularize_daily(df, "k", "d", "v").collect()))
    b = sorted(
        map(tuple, regularize_daily(df.repartition(5), "k", "d", "v").collect())
    )
    assert a == b
    keys = {t[0] for t in a}
    assert keys == {"A", "B"}
    # B's spine is one day — its own span, not A's.
    assert sum(1 for t in a if t[0] == "B") == 1


def _locf_reference(rows, max_gap_days=None):
    """Pure-Python LOCF over ``(k, d, v)`` rows: NULL-date rows drop,
    same-day values reduce with max, each key spans its own observed
    [min, max] days, a NULL key keeps its span but never carries, and
    a NULL value is neither observed nor carried."""
    day_max = {}
    for k, d, v in rows:
        if d is None:
            continue
        cur = day_max.get((k, d))
        seen = [x for x in (cur, v) if x is not None]
        day_max[(k, d)] = max(seen) if seen else None
    limit = float("inf") if max_gap_days is None else max_gap_days
    out = []
    for k in {k for k, _ in day_max}:
        days = sorted(d for kk, d in day_max if kk == k)
        last = None
        day = days[0]
        while day <= days[-1]:
            v = day_max.get((k, day)) if k is not None else None
            if v is not None:
                last = (v, day)
            gap = (day - last[1]).days if last else None
            carried = last[0] if last and gap <= limit else None
            out.append((k, day, carried, v is not None, gap))
            day += datetime.timedelta(days=1)
    return out


def _sorted_rows(rows):
    return sorted(rows, key=lambda r: tuple((x is None, x) for x in r))


_EDGE_ROWS = [
    ("A", _d("2024-01-01"), 10.0),
    ("A", _d("2024-01-04"), None),      # NULL value: not observed, not carried
    ("A", _d("2024-01-06"), 20.0),
    ("A", _d("2024-01-06"), 25.0),      # same-day duplicate: max wins
    ("A", None, 99.0),                  # NULL date: dropped
    (None, _d("2024-01-02"), 5.0),      # NULL key: span kept, no value
    (None, _d("2024-01-05"), 7.0),
    ("B", _d("2024-02-01"), None),      # all-NULL key
    ("B", _d("2024-02-03"), None),
    ("C", _d("2024-03-01"), 1.0),       # single-day key
    ("D", _d("2024-01-01"), None),      # span starts before first value
    ("D", _d("2024-01-03"), 3.0),
    ("E", None, 1.0),                   # only a NULL date: no rows
    ("F", _d("2024-01-01"), None),      # same-day NULL beside a value
    ("F", _d("2024-01-01"), 1.0),
]


@pytest.mark.parametrize("max_gap_days", [None, 0, 1, 30])
def test_regularize_matches_locf_reference_on_null_edges(spark, max_gap_days):
    got = regularize_daily(
        _obs(spark, _EDGE_ROWS), "k", "d", "v", max_gap_days=max_gap_days
    ).collect()
    expected = _locf_reference(_EDGE_ROWS, max_gap_days)
    assert _sorted_rows(map(tuple, got)) == _sorted_rows(expected)
    keys = {r[0] for r in expected}
    assert None in keys and "B" in keys and "E" not in keys


_SPARSE_ROW = st.tuples(
    st.sampled_from(["A", "B", "C", None]),
    st.one_of(
        st.none(),
        st.integers(0, 40).map(
            lambda i: datetime.date(2024, 1, 1) + datetime.timedelta(days=i)
        ),
    ),
    st.one_of(st.none(), st.integers(-5, 5).map(float)),
)


@settings(max_examples=20, deadline=None)
@given(
    st.lists(_SPARSE_ROW, max_size=25),
    st.sampled_from([None, 0, 1, 3, 30]),
)
def test_regularize_property_random_sparse_series(spark, rows, max_gap_days):
    got = regularize_daily(
        _obs(spark, rows), "k", "d", "v", max_gap_days=max_gap_days
    ).collect()
    assert _sorted_rows(map(tuple, got)) == _sorted_rows(
        _locf_reference(rows, max_gap_days)
    )


def test_regularize_plans_one_exchange_one_scan(spark, tmp_path):
    """The fill is a window over the observations plus a narrow
    explode: the upfront hash(key) exchange is the only shuffle, and
    the input is scanned once (no bounds aggregate, no spine join)."""
    rows = [
        (f"K{i % 7}", _d("2024-01-01") + datetime.timedelta(days=3 * i),
         float(i))
        for i in range(60)
    ]
    path = str(tmp_path / "obs.parquet")
    _obs(spark, rows).write.parquet(path)
    out = regularize_daily(
        spark.read.parquet(path), "k", "d", "v", max_gap_days=5
    )
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    lines = [ln.strip(" +-:*()0123456789") for ln in final.splitlines()]
    assert sum(ln.startswith("Exchange ") for ln in lines) == 1, final
    assert sum(ln.startswith("FileScan ") for ln in lines) == 1, final


# --- OHLC daily candles ---------------------------------------------------


def test_ohlc_daily_hand_computed(spark):
    import datetime as dt

    from capital.operators.resample import ohlc_daily

    rows = [
        ("T", dt.datetime(2024, 1, 1, 9, 0), 1, 10.0),
        ("T", dt.datetime(2024, 1, 1, 12, 0), 2, 30.0),
        ("T", dt.datetime(2024, 1, 1, 16, 0), 3, 5.0),
        ("T", dt.datetime(2024, 1, 1, 17, 0), 4, 20.0),
        ("T", dt.datetime(2024, 1, 2, 9, 0), 5, 7.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, id long, v double")
    out = {
        r.date.isoformat(): r
        for r in ohlc_daily(df, "k", "ts", "v", "id").collect()
    }
    d1 = out["2024-01-01"]
    assert (d1.open, d1.high, d1.low, d1.close) == (10.0, 30.0, 5.0, 20.0)
    assert d1.n_ticks == 4 and d1.turnover == 65.0
    d2 = out["2024-01-02"]
    assert (d2.open, d2.high, d2.low, d2.close) == (7.0, 7.0, 7.0, 7.0)


def test_ohlc_daily_same_timestamp_tiebreak_on_id(spark):
    """Two ticks at the identical timestamp: open is the lower id,
    close the higher — partition layout must not matter."""
    import datetime as dt

    from capital.operators.resample import ohlc_daily

    t = dt.datetime(2024, 1, 1, 9, 0)
    rows = [("T", t, 2, 99.0), ("T", t, 1, 11.0)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, id long, v double")
    for frame in (df, df.repartition(4)):
        r = ohlc_daily(frame, "k", "ts", "v", "id").collect()[0]
        assert (r.open, r.close) == (11.0, 99.0)
