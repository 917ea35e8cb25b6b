"""Seeded input generators for the benchmark.

Every generator is a pure function of its arguments: the same seed
gives byte-identical parquet files (no wall clock, no process state),
and the engine only ever sees the files written here.

- :func:`tpc_tables` — the TPC-H-ish star schema plus the ``events``
  stream table, shaped like the engine's test data (same columns,
  types, key ranges and value distributions), at a scale factor.
- :func:`documents` — the synthetic web corpus the curation funnel
  reads: 30-token vocabulary with per-language word bias, 10–100 tokens
  per document, ~5 % near-duplicates (an earlier document plus ``dup``,
  in its language).
- :class:`IngestPlan` — the daily market feed: one wide yfinance-style
  panel per calendar day (``Close_005930.KS`` / ``Volume_005930.KS``
  columns, intraday rows), with weekend and seeded weekday holidays,
  plus the exact silver/gold contents the engine must land.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]

_EPOCH = dt.date(1970, 1, 1)


def _rng(seed: int, stream: int) -> np.random.Generator:
    """Independent stream per table, so resizing one table never
    shifts another's values."""
    return np.random.default_rng([seed, stream])


def _days(iso: str) -> int:
    return (dt.date.fromisoformat(iso) - _EPOCH).days


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)])


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _day_ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def tpc_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """region nation customer supplier part orders lineitem events."""
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    r = _rng(seed, 1)
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(r, _SEGMENTS, n_cust),
    })
    r = _rng(seed, 2)
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })
    r = _rng(seed, 3)
    pk = np.arange(n_part)
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": _pick(r, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)]),
        "p_type": _pick(r, _PTYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
    })
    r = _rng(seed, 4)
    odate = r.integers(_days("1995-01-01"), _days("2001-08-02"), n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _day_ts(odate),
        "o_orderpriority": _pick(r, _PRIORITIES, n_ord),
    })
    r = _rng(seed, 5)
    sdate = r.integers(_days("1995-01-02"), _days("2001-11-05"), n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": r.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(r, 900.0, 105_000.0, n_li),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(r, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(r, ["F", "O"], n_li),
        "l_shipdate": _day_ts(sdate),
    })
    r = _rng(seed, 6)
    start_us = _days("2024-01-01") * 86_400_000_000
    span_us = 30 * 86_400_000_000
    ts = np.sort(r.integers(0, span_us, n_ev)) + start_us
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _pick(r, _EVENT_TYPES, n_ev),
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]),
    })
    return t


def documents(seed: int, n_docs: int) -> pa.Table:
    """``doc_id text lang source n_chars``: the curation corpus."""
    r = _rng(seed, 7)
    lang_idx = r.choice(len(_LANGS), n_docs, p=_LANG_P)
    # Each language over-weights its own eight-word slice of the
    # vocabulary, so the language gate has a signal to learn.
    weights = np.ones((len(_LANGS), len(_WORDS)))
    for li in range(len(_LANGS)):
        weights[li, [(li * 6 + j) % len(_WORDS) for j in range(8)]] = 3.0
    weights /= weights.sum(axis=1, keepdims=True)
    lengths = r.integers(10, 101, n_docs)
    words = np.asarray(_WORDS, dtype=object)
    texts = [
        " ".join(words[r.choice(len(_WORDS), n, p=weights[li])])
        for li, n in zip(lang_idx, lengths)
    ]
    # ~5 % near-duplicates: an earlier document's text plus " dup", in
    # that document's language (a re-crawled page), so near-duplicate
    # pairs survive the language gate together and every seed takes
    # the funnel's cluster-dedup path.
    for i in np.flatnonzero(r.random(n_docs) < 0.05):
        if i > 0:
            src = int(r.integers(0, i))
            texts[i] = texts[src] + " dup"
            lang_idx[i] = lang_idx[src]
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": pa.array(np.asarray(_LANGS, dtype=object)[lang_idx]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    for name, table in tables.items():
        write_parquet(table, os.path.join(out_dir, f"{name}.parquet"))


class IngestPlan:
    """The daily market feed of one seed.

    The feed lands Monday to Friday: day ``i`` is the ``i``-th weekday
    from ``start``, a Monday. One seeded weekday per week is a market
    holiday; its panel still lands in bronze and must produce no silver
    or gold rows. Panel shape: ``tickers`` tickers x ``FIELDS`` measures wide,
    ``rows`` intraday rows deep.
    """

    FIELDS = ("Close", "Volume")

    def __init__(self, seed: int, tickers: int, rows: int):
        self.seed, self.rows = seed, rows
        r = _rng(seed, 8)
        # A Monday in 2024–2025, so week boundaries are calendar weeks.
        monday0 = dt.date(2024, 1, 1)
        self.start = monday0 + dt.timedelta(weeks=int(r.integers(0, 100)))
        codes = r.choice(1000, tickers, replace=False)
        self.tickers = [
            f"{c:03d}930.{'KS' if c % 2 == 0 else 'KQ'}" for c in np.sort(codes)
        ]
        self.columns = [f"{f}_{t}" for f in self.FIELDS for t in self.tickers]

    def date(self, i: int) -> dt.date:
        return self.start + dt.timedelta(weeks=i // 5, days=i % 5)

    def weekday_holiday(self, week: int) -> dt.date:
        off = int(_rng(self.seed, 1000 + week).integers(0, 5))
        return self.start + dt.timedelta(weeks=week, days=off)

    def is_holiday(self, i: int) -> bool:
        return self.date(i) == self.weekday_holiday(i // 5)

    def holidays(self, n_days: int) -> list[dt.date]:
        """The weekday holidays of days ``[0, n_days)`` (weekends come
        from the calendar itself)."""
        return sorted({self.weekday_holiday(w) for w in range((n_days + 4) // 5)})

    def panel(self, i: int) -> pa.Table:
        """Day ``i``'s wide panel: ``Date ts tick_id`` then one column
        per (field, ticker)."""
        r = _rng(self.seed, 10_000 + i)
        d = self.date(i)
        day_us = (d - _EPOCH).days * 86_400_000_000
        open_us = day_us + 9 * 3_600_000_000
        # Intraday timestamps on a 390-minute session; ties are allowed
        # (the tick id breaks them, as ohlc_daily requires).
        ts = np.sort(r.integers(0, 390 * 60, self.rows)) * 1_000_000 + open_us
        cols = {
            "Date": pa.array([d] * self.rows, pa.date32()),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "tick_id": pa.array(i * self.rows + np.arange(self.rows), pa.int64()),
        }
        n = len(self.tickers)
        base = r.uniform(1_000, 100_000, n)
        walk = np.cumsum(r.normal(0, 0.002, (self.rows, n)), axis=0)
        close = np.round(base * np.exp(walk), 2)
        volume = r.integers(1, 10_000, (self.rows, n)).astype("float64")
        for j, t in enumerate(self.tickers):
            cols[f"Close_{t}"] = close[:, j]
        for j, t in enumerate(self.tickers):
            cols[f"Volume_{t}"] = volume[:, j]
        return pa.table(cols)

    def expected(self, i: int) -> dict[str, int]:
        """What landing day ``i`` must add to silver and gold: row
        counts and integer checksums over values in cents."""
        if self.is_holiday(i):
            return {"silver_rows": 0, "silver_cents": 0, "gold_rows": 0, "gold_cents": 0}
        p = self.panel(i)
        cents = 0
        for c in self.columns:
            cents += int(np.round(p[c].to_numpy() * 100).astype("int64").sum())
        gold = 0
        for t in self.tickers:
            v = np.round(p[f"Close_{t}"].to_numpy() * 100).astype("int64")
            # rows are in (ts, tick_id) order already: open=first, close=last
            gold += int(v[0] + v.max() + v.min() + v[-1]) + self.rows
        return {
            "silver_rows": self.rows * len(self.columns),
            "silver_cents": cents,
            "gold_rows": len(self.tickers),
            "gold_cents": gold,
        }
