"""Offline tests for ingestion sources and reference-shaped transforms
(FIXTURES.md shapes; SURVEY.md §5.2)."""

from __future__ import annotations

import datetime
import json

import pytest
from pyspark.sql import functions as F

from capital.operators.calendar import build_calendar
from capital.sources.html_table import parse_two_column_table, tables_to_dataframe
from capital.sources.rest import (
    HAS_PYTHON_DATASOURCE,
    PageJsonDataSource,
    PaginatedRestSource,
)
from capital.transforms.industry_code import silver_industry_code
from capital.transforms.market_data import (
    bonds_by_day,
    bonds_daily,
    gate_on_open_market,
    missing_tickers,
    project_news,
    unpivot_price_panel,
)

# Korean fixtures — the reference's payloads are Korean market data
# (SURVEY.md §7 risk register: UTF-8 everywhere).
_KRX_ROWS = [
    {"item_code": "005930", "item_name": "삼성전자", "industry_code": "전기전자",
     "market": "kospi", "issue_date": "2024-01-02"},
    {"item_code": "035720", "item_name": "카카오", "industry_code": "서비스업",
     "market": "kospi", "issue_date": "2024-01-02"},
    {"item_code": "247540", "item_name": "에코프로비엠", "industry_code": "일반전기전자",
     "market": "kosdaq", "issue_date": "2024-01-03"},
]


def test_paginated_rest_source_page_mode(spark):
    pages = [
        {"items": _KRX_ROWS[:2], "totalCount": 3},
        {"items": _KRX_ROWS[2:], "totalCount": 3},
    ]
    src = PaginatedRestSource(
        fetch_page=lambda i: pages[i],
        records_key="items",
        total_key="totalCount",
        page_size=2,
    )
    df = src.to_dataframe(
        spark,
        "item_code string, item_name string, industry_code string, "
        "market string, issue_date string",
    )
    assert df.count() == 3
    names = {r.item_name for r in df.collect()}
    assert "삼성전자" in names  # Korean survives the round-trip


def test_paginated_rest_source_reconciliation_failure(spark):
    # API claims 10 rows but returns 2 then stops → count check raises
    # (the reference's record-count reconciliation, SURVEY.md §5).
    src = PaginatedRestSource(
        fetch_page=lambda i: {"items": _KRX_ROWS[:2] if i == 0 else [],
                              "totalCount": 10},
        records_key="items",
        total_key="totalCount",
    )
    with pytest.raises(ValueError, match="pagination incomplete"):
        list(src.records())


def test_paginated_rest_source_no_total_key_paginates_to_empty(spark):
    # A payload missing the totals field must not truncate to one page.
    pages = [
        {"items": _KRX_ROWS[:2]},
        {"items": _KRX_ROWS[2:]},
        {"items": []},
    ]
    src = PaginatedRestSource(
        fetch_page=lambda i: pages[i],
        records_key="items",
        total_key="totalCount",
    )
    assert len(list(src.records())) == 3


def test_paginated_rest_source_offset_mode(spark):
    cursors: list[int] = []

    def fetch(offset):
        cursors.append(offset)
        return {"items": _KRX_ROWS[offset // 100: offset // 100 + 1],
                "totalCount": 3}

    src = PaginatedRestSource(
        fetch_page=fetch, records_key="items", total_key="totalCount",
        page_size=100, mode="offset",
    )
    assert len(list(src.records())) == 3
    assert cursors == [0, 100, 200]  # record offsets, not page numbers


def test_paginated_rest_source_filters_non_dict_rows(spark):
    # P14 row-type filter: mixed payload entries are dropped.
    src = PaginatedRestSource(
        fetch_page=lambda i: {"items": ["junk", _KRX_ROWS[0], 42],
                              "totalCount": 1},
        records_key="items",
        total_key="totalCount",
    )
    assert len(list(src.records())) == 1


@pytest.mark.skipif(not HAS_PYTHON_DATASOURCE, reason="Spark<4")
def test_page_json_datasource(spark, tmp_path):
    for i in range(3):
        (tmp_path / f"page_{i}.json").write_text(
            json.dumps({"items": [
                {"item_code": f"{i}{j}", "item_name": f"회사{i}{j}"}
                for j in range(4)
            ]}, ensure_ascii=False),
            encoding="utf-8",
        )
    spark.dataSource.register(PageJsonDataSource)
    df = (
        spark.read.format("page_json")
        .option("path", str(tmp_path))
        .option("pages", "3")
        .load()
    )
    assert df.count() == 12
    # one partition per page → parallel page fetch
    assert df.rdd.getNumPartitions() == 3


@pytest.mark.skipif(not HAS_PYTHON_DATASOURCE, reason="Spark<4")
def test_page_json_datasource_filter_pushdown_prunes_pages(
    spark, tmp_path
):
    """Engine-driven pushdown (Spark 4.1 pushFilters): a page-range
    predicate must prune the PARTITION LIST, not just filter rows —
    proven by making the pruned pages unreadable garbage: if the
    scan touched them, json.load would throw."""
    for i in (2, 3):
        (tmp_path / f"page_{i}.json").write_text(
            json.dumps({"items": [
                {"item_code": f"{i}{j}", "item_name": f"n{i}{j}"}
                for j in range(4)
            ]}),
            encoding="utf-8",
        )
    for i in (0, 1, 4):
        (tmp_path / f"page_{i}.json").write_text("NOT JSON {{{")
    spark.dataSource.register(PageJsonDataSource)
    df = (
        spark.read.format("page_json")
        .option("path", str(tmp_path))
        .option("pages", "5")
        .option(
            "schemaDDL", "item_code string, item_name string, page int"
        )
        .load()
    )
    from pyspark.sql import functions as F

    ranged = df.filter((F.col("page") >= 2) & (F.col("page") < 4))
    rows = ranged.collect()
    assert len(rows) == 8
    assert {r.page for r in rows} == {2, 3}
    assert ranged.rdd.getNumPartitions() == 2  # pruned, not filtered

    # IN-list pruning + residual filters stay with Spark post-scan.
    picked = df.filter(
        F.col("page").isin(2, 3) & (F.col("item_code") == "23")
    )
    assert [r.item_code for r in picked.collect()] == ["23"]

    # Unfiltered read of a FRESH relation must fail on the garbage
    # pages — the proof that the pruned plans above never opened
    # them (and that pruning state never leaks into a new load).
    from capital.sources.rest import read_page_json

    fresh = read_page_json(
        spark, str(tmp_path), 5,
        "item_code string, item_name string, page int",
    )
    with pytest.raises(Exception):
        fresh.count()

    # KNOWN UPSTREAM ISSUE (documented in _PageJsonReader): a
    # filterless re-scan of the SAME loaded relation reuses the last
    # filtered scan's cached read info instead of re-planning — it
    # sees only the previously pruned pages (which is also why it
    # does not raise on the garbage). Pinned so an upstream fix
    # (this count() raising / returning all pages) flips the test
    # and the workaround docs can be retired.
    assert df.count() == 8


def test_html_table_source_first_wins(spark):
    html = """
    <html><body><table>
      <tr><td>Issue Date</td><td>2015-03-10</td></tr>
      <tr><td>Coupon</td><td>2.25%</td></tr>
      <tr><td>Coupon</td><td>9.99%</td></tr>
      <tr><td>만기일</td><td>2025-03-10</td></tr>
    </table></body></html>
    """
    parsed = parse_two_column_table(html)
    assert parsed["issue_date"] == "2015-03-10"
    assert parsed["coupon"] == "2.25%"  # A4 first wins
    assert parsed["만기일"] == "2025-03-10"

    df = tables_to_dataframe(spark, {"kr_treasury_2015-2025": html})
    row = df.collect()[0]
    assert row.attrs["coupon"] == "2.25%"


def test_silver_industry_code(spark):
    bronze = spark.createDataFrame(_KRX_ROWS)
    silver = silver_industry_code(bronze)
    rows = {r.item_code: r for r in silver.collect()}
    assert rows["005930"].issue_date == datetime.date(2024, 1, 2)
    assert rows["005930"].item_name == "삼성전자"
    assert rows["005930"].created_at is not None
    assert dict(silver.dtypes)["issue_date"] == "date"


def test_unpivot_price_panel(spark):
    wide = spark.createDataFrame(
        [("2024-01-02", 71000.0, 56000.0), ("2024-01-03", 71500.0, 55500.0)],
        "Date string, `Close_005930.KS` double, `Close_035720.KS` double",
    )
    long = unpivot_price_panel(
        wide, ["Date"], ["Close_005930.KS", "Close_035720.KS"]
    )
    rows = long.collect()
    assert len(rows) == 4
    tickers = {r.Ticker for r in rows}
    assert tickers == {"005930.KS", "035720.KS"}
    assert all(r.field == "Close" for r in rows)


def test_yf_ticker_raises_on_unknown_market(spark):
    from capital.transforms.market_data import yf_ticker

    df = spark.createDataFrame(
        [("005930", "kospi"), ("247540", "kosdaq")], "code string, market string"
    )
    out = df.select(yf_ticker(F.col("code"), F.col("market")).alias("t"))
    assert {r.t for r in out.collect()} == {"005930.KS", "247540.KQ"}

    bad = spark.createDataFrame([("X", "nyse")], "code string, market string")
    with pytest.raises(Exception, match="unknown market"):
        bad.select(yf_ticker(F.col("code"), F.col("market"))).collect()


def test_missing_tickers_anti_join(spark):
    requested = spark.createDataFrame(
        [("005930.KS",), ("035720.KS",), ("247540.KQ",)], "Ticker string"
    )
    fetched = spark.createDataFrame(
        [("005930.KS", 71000.0), ("035720.KS", None)],
        "Ticker string, Close double",
    )
    missing = missing_tickers(requested, fetched)
    assert {r.Ticker for r in missing.collect()} == {"035720.KS", "247540.KQ"}


def test_bonds_daily_and_regroup(spark):
    raw = spark.createDataFrame(
        [
            ("kr_treasury_2015-2025", "2024-01-02T00:00:00", 101.5, 102.0,
             101.0, 101.8, 0.0, 0.0, "govt_bonds_kr"),
            ("kr_treasury_2015-2025", "2024-01-03T00:00:00", None, None,
             None, None, None, None, "govt_bonds_kr"),
        ],
        "bond_key string, Date string, Open double, High double, Low double, "
        "Close double, Volume double, Estimate double, category string",
    )
    enriched = bonds_daily(raw)
    rows = enriched.collect()
    assert all(r.matures_in == 10 for r in rows)  # 2025 - 2015
    stub = [r for r in rows if r.day == datetime.date(2024, 1, 3)][0]
    assert stub.Close == 0.0  # F14 zero-fill
    grouped = bonds_by_day(enriched)
    assert grouped.count() == 2


def test_project_news_nested(spark):
    from capital.schemas import NEWS_RAW

    raw = spark.createDataFrame(
        [
            {
                "abstract": "Fed holds rates",
                "web_url": "https://example.com/a",
                "headline": {"main": "Fed Holds"},
                "pub_date": "2024-01-02T09:00:00Z",
                "section_name": "Business",
                "byline": {"original": "By A. Reporter"},
                "word_count": 820,
                "keywords": [{"value": "economy"}, {"value": "rates"}],
            }
        ],
        NEWS_RAW,
    )
    out = project_news(raw)
    row = out.collect()[0]
    assert row.headline_main == "Fed Holds"
    assert row.keywords == ["economy", "rates"]


def test_gate_on_open_market(spark):
    cal = build_calendar(spark, "2024-01-01", "2024-01-31")
    facts = spark.createDataFrame(
        [("2024-01-05",), ("2024-01-06",), ("2024-01-08",)], "d string"
    ).select(F.to_date("d").alias("date"))
    gated = gate_on_open_market(facts, cal, "date")
    days = {r.date.isoformat() for r in gated.collect()}
    # Jan 6 2024 is a Saturday → gated out.
    assert days == {"2024-01-05", "2024-01-08"}


def test_gate_reuses_one_merged_holiday_calendar(spark):
    """The holiday-merged calendar is materialized once: a second
    gate over it (the next micro-batch) runs fewer jobs than the first,
    only its one broadcast, and returns the same rows; ``unpersist()``
    releases it."""
    from capital.operators.calendar import merge_holidays

    facts = spark.createDataFrame(
        [(f"2024-01-{d:02d}",) for d in range(1, 15)], "d string"
    ).select(F.to_date("d").alias("date"))
    hol = spark.createDataFrame(
        [("2024-01-03", "holiday"), ("2024-01-09", "holiday")],
        "calnd_dd_dy string, holdy_nm string",
    )
    cal = merge_holidays(build_calendar(spark, "2024-01-01", "2024-01-31"), hol)

    def gate(group):
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            gated = gate_on_open_market(facts, cal, "date").collect()
        finally:
            sc.setJobGroup(None, None)
        # The status tracker is fed by the asynchronous listener bus;
        # drain it so no job of the group goes uncounted.
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        return sorted(r.date.day for r in gated), len(jobs)

    first, first_jobs = gate("gate-first")
    second, jobs = gate("gate-second")
    # Weekends (6-7, 13-14) and the two holidays are closed.
    assert first == second == [1, 2, 4, 5, 8, 10, 11, 12]
    # One broadcast of the cached open days, plus the collect's own
    # result job; the first gate also runs the holiday aggregate and
    # fills the cache, as an uncached calendar would every time.
    assert jobs <= 2
    assert jobs < first_jobs
    assert cal.storageLevel.useMemory
    cal.unpersist()
    assert not cal.storageLevel.useMemory and not cal.storageLevel.useDisk


def test_file_read_with_dead_letter(spark, tmp_path):
    """Malformed JSON lines quarantine with their raw text; good rows
    load under the declared schema; nothing vanishes."""
    from capital.sources.files import read_with_dead_letter

    p = tmp_path / "drop.jsonl"
    p.write_text(
        '{"code": 1, "name": "construction"}\n'
        "this is not json\n"
        '{"code": 2, "name": "mining"}\n'
        '{"code": "not-an-int and unclosed\n'
        '{"code": 3, "name": "farming"}\n'
    )
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("code", IntegerType(), True),
            StructField("name", StringType(), True),
        ]
    )
    good, dead = read_with_dead_letter(spark, str(p), schema)
    assert sorted((r.code, r.name) for r in good.collect()) == [
        (1, "construction"),
        (2, "mining"),
        (3, "farming"),
    ]
    raws = [r.raw for r in dead.collect()]
    assert len(raws) == 2
    assert any("not json" in r for r in raws)
    assert good.columns == ["code", "name"]


def test_union_evolving_aligns_drifted_schemas(spark):
    from capital.io import union_evolving

    v1 = spark.createDataFrame([(1, "a")], "code int, name string")
    v2 = spark.createDataFrame(
        [(2, "b", "E")], "code int, name string, grade string"
    )
    v3 = spark.createDataFrame([("c", 3)], "name string, code int")  # reordered
    out = union_evolving([v1, v2, v3])
    assert set(out.columns) == {"code", "name", "grade"}
    rows = {(r.code, r.name, r.grade) for r in out.collect()}
    assert rows == {(1, "a", None), (2, "b", "E"), (3, "c", None)}


def test_file_dead_letter_cache_scope_releases(spark, tmp_path):
    """Per-batch ingestion: a CacheScope passed to
    read_with_dead_letter owns the split's cached scan, so looped
    calls don't accumulate session-lifetime caches."""
    from capital.operators.caching import CacheScope
    from capital.sources.files import read_with_dead_letter
    from pyspark.sql.types import IntegerType, StructField, StructType

    p = tmp_path / "batch.jsonl"
    p.write_text('{"code": 1}\nnot json\n{"code": 2}\n')
    schema = StructType([StructField("code", IntegerType(), True)])

    with CacheScope() as scope:
        good, dead = read_with_dead_letter(
            spark, str(p), schema, scope=scope
        )
        assert good.count() == 2 and dead.count() == 1
        assert len(scope.frames) == 1
        assert scope.frames[0].storageLevel.useMemory
    # Scope exit released the cached scan.
    assert not scope.frames or not any(
        f.storageLevel.useMemory for f in scope.frames
    )
