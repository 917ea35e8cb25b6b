"""``tools/qprofile.py``: one traced run per call, its jobs read back
from Spark's REST API, and argument errors raised before any session
starts."""

from __future__ import annotations

import json
import os
import sys
import urllib.request

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import qprofile  # noqa: E402
from perfbench.trace import MODULES  # noqa: E402


def _rest_jobs(spark) -> dict[int, dict]:
    """Every job the UI's status store lists, after the listener bus
    has delivered every event posted so far."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/jobs"
    with urllib.request.urlopen(url, timeout=10) as r:
        return {j["jobId"]: j for j in json.load(r)}


@pytest.mark.parametrize("name", ["q1_pricing_summary", "pipe_curation_v2"])
def test_profile_record(spark, sf_dir, name):
    from capital.io import clear_engine_cache
    from capital.queries import all_queries
    from capital.queries.registry import clear_plan_cache

    rec = qprofile.profile(spark, name, sf_dir)
    assert rec["exec.jobs"] >= 1
    assert rec["build_s"] + rec["exec_s"] <= rec["wall_s"] + 0.05
    assert rec["result_rows"] == all_queries()[name](spark, sf_dir).count()
    assert sum(rec.get(f"jobs.{m}", 0) for m in MODULES) == rec["exec.jobs"]
    assert len(rec["timeline"]) == rec["exec.jobs"]
    assert rec["jvm.jit_s"] >= 0 and rec["jvm.gc_s"] >= 0
    assert isinstance(rec["jvm.classes_loaded"], int) and rec["jvm.classes_loaded"] >= 0
    clear_engine_cache(spark)
    clear_plan_cache()


def test_repeated_query_counts_each_run_alone(spark, sf_dir):
    """Each run has its own job group: profiling the same query twice
    in one session reports one run's jobs both times, not a running
    sum."""
    a = qprofile.profile(spark, "cal_holiday_merged", sf_dir)
    b = qprofile.profile(spark, "cal_holiday_merged", sf_dir)
    assert a["exec.jobs"] == b["exec.jobs"] >= 1


def test_off_thread_jobs_are_counted(spark, sf_dir):
    """cur_nb_lang_classify launches jobs from threads that carry no
    job group (broadcast futures, the ``overlapped_job`` worker); the
    record counts exactly the jobs Spark lists for the timed run."""
    qprofile.profile(spark, "cur_nb_lang_classify", sf_dir)
    before = _rest_jobs(spark)
    rec = qprofile.measure(spark, "cur_nb_lang_classify", sf_dir)
    after = _rest_jobs(spark)
    new = {i: j for i, j in after.items() if i not in before}
    assert {j["job"] for j in rec["timeline"]} == set(new)
    assert rec["exec.jobs"] == len(new)
    groups = {j.get("jobGroup") for j in new.values()}
    assert len(groups) > 1, f"no job outside the run's group: {groups}"


def test_jvm_counters_are_cumulative(spark):
    """The JVM beans are reachable and only grow: a job in between
    never lowers JIT, GC or class-load totals."""
    a = qprofile.jvm_counters(spark)
    spark.range(20000).selectExpr("sum(id * 3)").collect()
    b = qprofile.jvm_counters(spark)
    assert set(a) == {"jvm.jit_s", "jvm.gc_s", "jvm.classes_loaded"}
    assert a["jvm.jit_s"] > 0 and a["jvm.classes_loaded"] > 0
    assert all(b[k] >= a[k] for k in a)


def test_measure_records_jvm_deltas(spark, sf_dir, monkeypatch):
    """``measure`` reports the counters' change over the run, not
    their running totals."""
    readings = iter([
        {"jvm.jit_s": 10.0, "jvm.gc_s": 1.0, "jvm.classes_loaded": 100},
        {"jvm.jit_s": 12.5, "jvm.gc_s": 1.25, "jvm.classes_loaded": 140},
    ])
    monkeypatch.setattr(qprofile, "jvm_counters", lambda _spark: next(readings))
    rec = qprofile.measure(spark, "q1_pricing_summary", sf_dir)
    assert (rec["jvm.jit_s"], rec["jvm.gc_s"], rec["jvm.classes_loaded"]) == (2.5, 0.25, 40)


@pytest.mark.parametrize("argv", [
    ["no_such_query"],
    ["--runs", "0", "q1_pricing_summary"],
    ["--conf", "no_equals_sign", "q1_pricing_summary"],
])
def test_bad_arguments_exit_before_a_session(monkeypatch, sf_dir, argv):
    started = []
    monkeypatch.setattr(qprofile, "get_spark", lambda **kw: started.append(kw))
    with pytest.raises(SystemExit) as exc:
        qprofile.main(["--sf", sf_dir, *argv])
    assert exc.value.code == 2
    assert started == []
