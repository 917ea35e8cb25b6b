"""Generated code stays resident across repeated query shapes.

Spark compiles each whole-stage / expression class with Janino and
keeps the result in one JVM-wide LRU cache of
``spark.sql.codegen.cache.maxEntries`` classes (Spark's default: 100).
A round of the engine's market queries compiles more classes than
that, so under the default every repeated round recompiled every
class. ``capital.session.ENGINE_CONF`` sizes the cache to the
engine's plan working set; this test pins that a second pass of the
same queries, with the engine's plan and data caches cleared, compiles
(almost) nothing. Not exactly nothing: generated class names embed
the whole-stage stage id (``GeneratedIteratorForCodegenStage<N>``), so
the same pipeline planned at another stage id is a different cache key
and recompiles (``ts_regularize_ffill`` ~4 per run with an unbounded
cache too). The bound is a handful, against ~170 under Spark's default.
"""

from __future__ import annotations

from capital.io import clear_engine_cache
from capital.queries import all_queries
from capital.queries.registry import clear_plan_cache

#: Market rows whose first pass compiles ~170 classes at sf0.001 —
#: well past Spark's default cache of 100.
QUERIES = [
    "q5_region_revenue", "q8_market_share", "q18_large_orders",
    "j1_asof_latest_order", "sk_hll_rollup_distinct",
    "p16_zorder_string_key", "ts_regularize_ffill",
]


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics  # noqa: SLF001
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _pass(spark, sf_dir) -> int:
    """Classes compiled by one pass over QUERIES from cleared caches."""
    qs = all_queries()
    clear_engine_cache(spark)
    clear_plan_cache()
    c0 = _compiles(spark)
    for name in QUERIES:
        qs[name](spark, sf_dir).toArrow()
        clear_engine_cache(spark)
        clear_plan_cache()
    return _compiles(spark) - c0


def test_second_pass_reuses_compiled_classes(spark, sf_dir):
    first = _pass(spark, sf_dir)
    assert first > 100, f"first pass compiled only {first} classes"
    second = _pass(spark, sf_dir)
    assert second <= 10, f"second pass recompiled {second} of {first} classes"
