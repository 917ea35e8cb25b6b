"""Driver-side plan caches (table reads in capital.io, memoized query
plans in the registry) must be keyed per *session*, not per
application: ``newSession()`` siblings share an applicationId but carry
independent runtime SQL conf, so a plan analyzed under one session's
conf must never be served to another."""

from __future__ import annotations


def test_table_cache_is_per_session(spark, sf_dir):
    from capital.io import load_table

    a = load_table(spark, sf_dir, "nation")
    # Same session → same memoized plan object.
    assert load_table(spark, sf_dir, "nation") is a
    sibling = spark.newSession()
    b = load_table(sibling, sf_dir, "nation")
    assert b is not a, "sibling session served another session's plan"
    # And the sibling's own entry memoizes independently.
    assert load_table(sibling, sf_dir, "nation") is b
    # The original session's entry survived the sibling's traffic.
    assert load_table(spark, sf_dir, "nation") is a


def test_plan_cache_is_per_session(spark, sf_dir):
    from capital.queries import all_queries

    q = all_queries()["q1_pricing_summary"]
    a = q(spark, sf_dir)
    assert q(spark, sf_dir) is a
    sibling = spark.newSession()
    b = q(sibling, sf_dir)
    assert b is not a, "sibling session served another session's plan"
    assert q(sibling, sf_dir) is b


def test_session_cache_key_distinguishes_siblings(spark):
    from capital.session import session_cache_key

    k1 = session_cache_key(spark)
    k2 = session_cache_key(spark.newSession())
    assert k1[0] == k2[0], "siblings share an applicationId"
    assert k1[1] != k2[1], "siblings must have distinct session ids"


def test_clear_plan_cache_busts_memoized_objects(spark, sf_dir):
    """Round-12 bench integrity: re-executing the SAME DataFrame
    object reuses its shuffle files and skips whole stages, so a
    timing harness must get a FRESH object per pass.
    clear_plan_cache() guarantees that; bench.py and tools/qprofile.py
    call it after warmup and between passes."""
    from capital.queries import all_queries
    from capital.queries.registry import clear_plan_cache

    q = all_queries()["q1_pricing_summary"]
    a = q(spark, sf_dir)
    assert q(spark, sf_dir) is a  # memoized: same plan object
    clear_plan_cache()
    assert q(spark, sf_dir) is not a  # fresh plan → fresh shuffles
