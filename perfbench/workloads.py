"""The workloads. Each is a closed loop: one client on the
driver thread issues the next operation only after the previous one
returned.

A workload generates its inputs from the seed (untimed), registers
them with a fresh session (timed as set-up), runs an untimed warm-up,
then times operations until ``seconds`` have passed, and finally
checks every output it kept (untimed).
"""

from __future__ import annotations

import datetime as dt
import os
import random
import re
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen

#: The 16 oracle-paired market rows of the headline bench, kept in
#: this order so a seed's shuffled round order is stable as the
#: registry grows.
MARKET_QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "q6_forecast_revenue", "q8_market_share", "q18_large_orders",
    "w3_moving_avg", "w4_top_order_per_customer", "a2_events_by_day",
    "st_session_30m", "st_stream_join_attribution", "j1_asof_latest_order",
    "j7_range_join_shipments", "sk_hll_rollup_distinct",
    "p16_zorder_string_key", "ts_regularize_ffill",
]
#: The registry's curation funnel row (``capital.llm.pipeline_v2.
#: curation_v2`` over ``documents``): the round's one operation on the
#: LLM-data layer.
CURATION_QUERY = "pipe_curation_v2"
QUERIES = MARKET_QUERIES + [CURATION_QUERY]
#: Size of the corpus the curation row warms up on.
WARMUP_DOCS = 50
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents",
]

_EXCHANGE = re.compile(r"\b(?:Broadcast)?Exchange\b")


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def count_exchanges(df) -> int:
    """Shuffle and broadcast exchanges in the executed (final,
    post-AQE) plan of an action that has run."""
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    # An adaptive plan prints its final plan, then its initial one.
    return len(_EXCHANGE.findall(plan.split("== Initial Plan ==")[0]))


class ArrowRows:
    """The two members of a Spark DataFrame that
    ``oracle_harness.compare`` reads, over an Arrow result already
    fetched — so a kept result is checked without running it again."""

    def __init__(self, table: pa.Table):
        self.columns = table.column_names
        self._table = table

    def collect(self):
        return [tuple(r.values()) for r in self._table.to_pylist()]


def _identical(a: pa.Table, b: pa.Table) -> bool:
    """Same column names, each of the same Arrow type, holding the same
    multiset of rows bit for bit (field nullability aside)."""
    cols = sorted(a.column_names)
    if cols != sorted(b.column_names) or a.num_rows != b.num_rows:
        return False
    if any(a.schema.field(c).type != b.schema.field(c).type for c in cols):
        return False
    keys = [(c, "ascending") for c in cols]
    try:
        a, b = a.select(cols).sort_by(keys), b.select(cols).sort_by(keys)
    except pa.ArrowNotImplementedError:  # a type Arrow cannot sort by
        return False
    return all(a[c].equals(b[c]) for c in cols)


def oracle_compare(con, table: pa.Table, oracle_sql: str) -> list[str]:
    """Problems of ``table`` against the DuckDB oracle (empty = parity).

    ``oracle_harness.compare`` gives the verdict, unless the oracle's
    Arrow result is identical to ``table`` in column types and values:
    the harness would then canonicalize both sides to the same Python
    rows and find nothing. The shortcut matters for large results: the
    harness takes ~9 s for the 249k rows of ``ts_regularize_ffill`` at
    sf0.01, the Arrow comparison well under a second."""
    from oracle_harness import compare

    oracle = con.sql(oracle_sql).arrow()
    if isinstance(oracle, pa.RecordBatchReader):
        oracle = oracle.read_all()
    if _identical(table, oracle):
        return []
    return compare(ArrowRows(table), con.sql(oracle_sql))


def finish_result(tracer, op, df, table: pa.Table) -> None:
    """Record what every action-ending op reports: result rows and
    (traced) the return time and the final plan's exchanges."""
    op.layer["transfer.result_rows"] = table.num_rows
    if tracer.enabled:
        op.layer["_result_returned"] = time.time()
        op.layer["exec.exchanges"] = count_exchanges(df)


class Workload:
    name = ""

    def __init__(self, seed: int, work_dir: str, tiny: bool):
        self.seed, self.work, self.tiny = seed, work_dir, tiny
        self.timed_wall = 0.0

    def generate(self) -> None:
        raise NotImplementedError

    def register(self, spark) -> None:
        raise NotImplementedError

    def warmup(self, spark) -> None:
        raise NotImplementedError

    def run(self, spark, tracer, seconds: float) -> None:
        raise NotImplementedError

    def check(self, spark) -> list[str]:
        raise NotImplementedError

    def layers(self) -> dict[str, float]:
        return {}

    def _attempt(self, tracer, name: str, body) -> None:
        """Run one timed op; a failure is logged and counted, and the
        loop goes on."""
        try:
            with tracer.op(name) as op:
                body(op)
        except Exception as exc:  # noqa: BLE001 - one failed op is a counted miss
            log(f"{self.name} op {name} FAILED: {exc!r}"[:2000])

    def e2e(self, ops) -> tuple[float, float]:
        """(geometric mean op latency s, items per second of timed
        wall)."""
        ok = [o for o in ops if o.ok]
        if not ok:
            return 0.0, 0.0
        return (
            statistics.geometric_mean(o.wall for o in ok),
            sum(o.items for o in ok) / self.timed_wall,
        )


class MarketQuery(Workload):
    """Registered queries, built fresh and run with ``toArrow()``; one
    op is one query. A round is the 16 market rows plus the curation
    funnel over the generated corpus."""

    name = "market_query"

    def generate(self) -> None:
        self.sf = 0.001 if self.tiny else 0.01
        self.n_docs = 500 if self.tiny else 1000
        self.sf_dir = os.path.join(self.work, "tables")
        self.warm_dir = os.path.join(self.work, "warmup")
        gen.write_tables(gen.tpc_tables(self.seed, self.sf), self.sf_dir)
        gen.write_parquet(gen.documents(self.seed, self.n_docs),
                          os.path.join(self.sf_dir, "documents.parquet"))
        gen.write_parquet(gen.documents(self.seed + 1, WARMUP_DOCS),
                          os.path.join(self.warm_dir, "documents.parquet"))

    def register(self, spark) -> None:
        from capital.io import load_table

        for t in TABLES:
            load_table(spark, self.sf_dir, t).schema  # noqa: B018 - resolves the scan

    def _order(self, rnd: int) -> list[str]:
        names = list(QUERIES)
        random.Random(self.seed * 1000 + rnd).shuffle(names)
        return names

    @staticmethod
    def _clear(spark) -> None:
        from capital.io import clear_engine_cache
        from capital.queries.registry import clear_plan_cache

        clear_engine_cache(spark)
        clear_plan_cache()

    def warmup(self, spark) -> None:
        from capital.queries import all_queries

        qs = all_queries()

        def cold(name):
            d = self.warm_dir if name == CURATION_QUERY else self.sf_dir
            qs[name](spark, d).toArrow()

        # Untimed, so the cold round runs four queries at a time, the
        # long curation funnel first and on a small corpus: JVM warm-up
        # (class loading, code generation, JIT) is mostly per-query
        # driver work that overlaps well and barely depends on data
        # size.
        with ThreadPoolExecutor(4) as pool:
            list(pool.map(cold, [CURATION_QUERY] + MARKET_QUERIES))
        self._clear(spark)

    def run(self, spark, tracer, seconds: float) -> None:
        from capital.queries import all_queries

        qs = all_queries()
        self.kept: dict[str, list[pa.Table]] = {}

        def one(name):
            # curation_v2(...) runs eager work (NB training, gram
            # collects, barrier fills) in the builder call.
            build = ("llm.build", "llm.build_s") if name == CURATION_QUERY \
                else ("queries.build", "queries.build_s")

            def body(op):
                with tracer.span(*build):
                    df = qs[name](spark, self.sf_dir)
                if tracer.enabled:
                    with tracer.span("queries.plan", "queries.plan_s"):
                        df._jdf.queryExecution().executedPlan()  # noqa: SLF001
                with tracer.span("action"):
                    table = df.toArrow()
                op.items = 1
                if name == CURATION_QUERY:
                    op.layer["llm.kept_ratio"] = table.num_rows / self.n_docs
                finish_result(tracer, op, df, table)
                self.kept.setdefault(name, []).append(table)
            return body

        # Whole first round, then on query by query until the time is
        # up: the e2e figures are equal-mix estimates, so where the
        # time box cuts a later round does not bias them.
        t0 = time.time()
        rnd = 1
        while True:
            for name in self._order(rnd):
                if rnd > 1 and time.time() - t0 >= seconds:
                    break
                self._attempt(tracer, name, one(name))
            self._clear(spark)
            if time.time() - t0 >= seconds:
                break
            rnd += 1
        self.timed_wall = time.time() - t0

    def e2e(self, ops) -> tuple[float, float]:
        """(geometric mean over queries of each query's median
        latency, queries per second of an equal mix: query count over
        the sum of each query's mean latency)."""
        lat: dict[str, list[float]] = {}
        for o in ops:
            if o.ok:
                lat.setdefault(o.name, []).append(o.wall)
        if not lat:
            return 0.0, 0.0
        return (
            statistics.geometric_mean(statistics.median(v) for v in lat.values()),
            len(lat) / sum(statistics.fmean(v) for v in lat.values()),
        )

    def check(self, spark) -> list[str]:
        import duckdb

        from capital.queries import all_oracles

        oracles = all_oracles()
        con = duckdb.connect()
        try:
            con.execute("SET TimeZone = 'UTC'")
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(self.sf_dir, t)}.parquet'"
                )
            problems = []
            for name in QUERIES:
                for table in self.kept.get(name, []):
                    for p in oracle_compare(con, table, oracles[name]):
                        problems.append(f"{name}: {p}")
            return problems
        finally:
            con.close()


class _Lake:
    """One bronze -> silver -> gold tree with its stream checkpoint,
    and what was landed in it."""

    def __init__(self, root: str):
        self.bronze, self.silver, self.gold, self.ckpt = (
            os.path.join(root, d) for d in ("bronze", "silver", "gold", "checkpoint")
        )
        for d in (self.bronze, self.silver, self.gold, self.ckpt):
            os.makedirs(d, exist_ok=True)
        self.landed: list[int] = []
        self.read_rows: dict[int, int] = {}


class DailyIngest(Workload):
    """One op lands one generated trading day: the AvailableNow
    micro-batch into silver, the day's OHLC bars into gold, and one
    trailing-window read over silver."""

    name = "daily_ingest"
    ID_COLS = ["Date", "ts", "tick_id"]
    WINDOW_DAYS = 10
    MAX_WEEKS = 52
    #: Days the warm-up lands, in a lake of its own.
    WARMUP_DAYS = 3

    def generate(self) -> None:
        tickers, rows = (4, 20) if self.tiny else (40, 200)
        # Whole weeks keep the share of holidays the same in every
        # run; the self-test lands single days.
        self.block = 1 if self.tiny else 5
        self.plan = gen.IngestPlan(self.seed, tickers=tickers, rows=rows)
        self.lake = _Lake(os.path.join(self.work, "lake"))
        self.warm_lake = _Lake(os.path.join(self.work, "warmup"))

    def register(self, spark) -> None:
        from pyspark.sql import types as T

        from capital.operators.calendar import build_calendar, merge_holidays

        n_days = 5 * self.MAX_WEEKS
        start = self.plan.date(0)
        hol = spark.createDataFrame(
            [(d.isoformat(), "holiday") for d in self.plan.holidays(n_days)],
            "calnd_dd_dy string, holdy_nm string",
        )
        self.calendar = merge_holidays(
            build_calendar(spark, start.isoformat(), self.plan.date(n_days).isoformat()),
            hol,
        )
        self.bronze_schema = T.StructType(
            [T.StructField("Date", T.DateType()),
             T.StructField("ts", T.TimestampType()),
             T.StructField("tick_id", T.LongType())]
            + [T.StructField(c, T.DoubleType()) for c in self.plan.columns]
        )
        self.silver_schema = T.StructType([
            T.StructField("Date", T.DateType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("tick_id", T.LongType()),
            T.StructField("field", T.StringType()),
            T.StructField("Ticker", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ymd", T.DateType()),
        ])
        self.gold_schema = T.StructType([
            T.StructField("Ticker", T.StringType()),
            T.StructField("date", T.DateType()),
            T.StructField("open", T.DoubleType()),
            T.StructField("high", T.DoubleType()),
            T.StructField("low", T.DoubleType()),
            T.StructField("close", T.DoubleType()),
            T.StructField("n_ticks", T.LongType()),
            T.StructField("turnover", T.DoubleType()),
            T.StructField("ymd", T.DateType()),
        ])

    def _transform(self, batch):
        from capital.io import stamp_ymd
        from capital.transforms.market_data import (
            gate_on_open_market,
            unpivot_price_panel,
        )

        long = unpivot_price_panel(batch, self.ID_COLS, self.plan.columns)
        return stamp_ymd(gate_on_open_market(long, self.calendar, "Date"), "Date")

    def _arrive(self, lake: _Lake, i: int) -> None:
        """Day ``i``'s panel lands in bronze (atomically: Spark's file
        source skips dot-files)."""
        path = os.path.join(lake.bronze, f"day-{i:04d}.parquet")
        tmp = os.path.join(lake.bronze, f".day-{i:04d}.tmp")
        pq.write_table(self.plan.panel(i), tmp)
        os.replace(tmp, path)

    def _silver(self, spark, lake: _Lake):
        return spark.read.schema(self.silver_schema).parquet(lake.silver)

    def _land(self, spark, tracer, op, lake: _Lake, i: int) -> None:
        from pyspark.sql import functions as F

        from capital.io import stamp_ymd, write_partitioned
        from capital.operators.resample import ohlc_daily, regularize_daily
        from capital.streaming.incremental import incremental_partition_overwrite

        day = self.plan.date(i)
        with tracer.span("streaming.start", "streaming.start_s", "streaming"):
            q = incremental_partition_overwrite(
                spark, lake.bronze, self.bronze_schema, self._transform,
                lake.silver, lake.ckpt,
            )
        with tracer.span("streaming.run", module="streaming"):
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        for p in q.recentProgress:
            op.layer["streaming.batches"] += 1
            d = p.durationMs
            op.layer["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1e3
            op.layer["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
            op.layer["streaming.query_planning_s"] += d.get("queryPlanning", 0) / 1e3
            op.layer["streaming.latest_offset_s"] += d.get("latestOffset", 0) / 1e3
            op.layer["streaming.wal_commit_s"] += d.get("walCommit", 0) / 1e3
        with tracer.span("gold.write", module="io"):
            today = self._silver(spark, lake).filter(
                (F.col("ymd") == F.lit(day)) & (F.col("field") == "Close")
            )
            bars = ohlc_daily(
                today, key_col="Ticker", ts_col="ts", value_col="value",
                id_col="tick_id",
            )
            write_partitioned(stamp_ymd(bars, "date"), lake.gold)
        with tracer.span("gold.read", "gold.read_s"):
            lo = day - dt.timedelta(days=self.WINDOW_DAYS - 1)
            recent = self._silver(spark, lake).filter(
                F.col("ymd").between(F.lit(lo), F.lit(day)) & (F.col("field") == "Close")
            )
            df = regularize_daily(
                recent, key_col="Ticker", date_col="Date", value_col="value"
            )
            table = df.toArrow()
        op.items = self.plan.expected(i)["silver_rows"]
        finish_result(tracer, op, df, table)
        lake.read_rows[i] = table.num_rows

    def _day(self, spark, tracer, lake: _Lake, i: int) -> None:
        self._arrive(lake, i)
        self._attempt(tracer, f"day-{i}", lambda op: self._land(spark, tracer, op, lake, i))
        lake.landed.append(i)

    def warmup(self, spark) -> None:
        """Lands the first days of the last generated week in a lake
        of its own: the timed phase then starts, like the warm-up, on
        an empty lake and a new checkpoint."""
        from perfbench.trace import Tracer

        warm = Tracer(spark, "warmup", enabled=False)
        first = 5 * (self.MAX_WEEKS - 1)
        for i in range(first, first + self.WARMUP_DAYS):
            self._day(spark, warm, self.warm_lake, i)
        if not all(o.ok for o in warm.ops):
            raise RuntimeError("daily_ingest warm-up failed")

    def run(self, spark, tracer, seconds: float) -> None:
        """Land whole blocks of days from day 0, at least one block,
        until ``seconds`` have passed."""
        t0 = time.time()
        i = 0
        while i == 0 or time.time() - t0 < seconds:
            if i + self.block > 5 * (self.MAX_WEEKS - 1):
                raise RuntimeError("generated calendar exhausted")
            for k in range(i, i + self.block):
                self._day(spark, tracer, self.lake, k)
            i += self.block
        self.timed_wall = time.time() - t0

    def layers(self) -> dict[str, float]:
        def du(path, suffix=""):
            total = files = 0
            for root, _, names in os.walk(path):
                for n in names:
                    if n.endswith(suffix) and not n.startswith((".", "_")):
                        total += os.path.getsize(os.path.join(root, n))
                        files += 1
            return total, files

        lake = self.lake
        days = max(1, len(lake.landed))
        silver_b, silver_f = du(lake.silver, ".parquet")
        gold_b, gold_f = du(lake.gold, ".parquet")
        ckpt_b, _ = du(lake.ckpt)
        bronze_b, _ = du(lake.bronze, ".parquet")
        return {
            "io.bytes_written": (silver_b + gold_b) / days,
            "io.files_written": (silver_f + gold_f) / days,
            "io.checkpoint_bytes": ckpt_b / days,
            "io.write_amp": (silver_b + gold_b + ckpt_b) / max(1, bronze_b),
        }

    def check(self, spark) -> list[str]:
        from pyspark.sql import functions as F

        from capital.streaming.incremental import incremental_partition_overwrite

        lake = self.lake
        problems = []
        want = {"silver_rows": 0, "silver_cents": 0, "gold_rows": 0, "gold_cents": 0}
        open_days = 0
        for i in lake.landed:
            exp = self.plan.expected(i)
            for k in want:
                want[k] += exp[k]
            open_days += exp["silver_rows"] > 0

        def cents(c):
            return F.round(F.col(c) * 100).cast("long")

        def silver_totals():
            return self._silver(spark, lake).agg(
                F.count(F.lit(1)).alias("n"), F.sum(cents("value")).alias("c"),
                F.countDistinct("ymd").alias("days"),
            ).first()

        s = silver_totals()
        g = spark.read.schema(self.gold_schema).parquet(lake.gold).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents("open") + cents("high") + cents("low") + cents("close")
                  + F.col("n_ticks")).alias("c"),
        ).first()
        got = {"silver_rows": s.n, "silver_cents": s.c or 0,
               "gold_rows": g.n, "gold_cents": g.c or 0}
        for k, v in want.items():
            if got[k] != v:
                problems.append(f"{k}: landed {got[k]}, generated {v}")
        if s.days != open_days:
            problems.append(f"silver holds {s.days} ymd partitions, {open_days} open days landed")
        for i, n in lake.read_rows.items():
            exp = self._read_rows(i)
            if n != exp:
                problems.append(f"day {i}: trailing read {n} rows, expected {exp}")
        # Replaying from the last checkpoint with no new input lands nothing.
        q = incremental_partition_overwrite(
            spark, lake.bronze, self.bronze_schema, self._transform,
            lake.silver, lake.ckpt,
        )
        q.awaitTermination()
        replayed = sum(p.numInputRows for p in q.recentProgress)
        if replayed or tuple(silver_totals()) != tuple(s):
            problems.append(f"replay landed {replayed} rows")
        return problems

    def _read_rows(self, i: int) -> int:
        """Rows of day ``i``'s trailing read: per ticker, one row per
        calendar day from the first to the last open day landed in the
        window (every ticker trades on every open day)."""
        lo = self.plan.date(i) - dt.timedelta(days=self.WINDOW_DAYS - 1)
        window = [d for k in range(i + 1)
                  if not self.plan.is_holiday(k) and (d := self.plan.date(k)) >= lo]
        if not window:
            return 0
        return ((window[-1] - window[0]).days + 1) * len(self.plan.tickers)


WORKLOADS = {w.name: w for w in (DailyIngest, MarketQuery)}

