"""The conf ``get_spark`` builds, checked without launching a JVM."""

from __future__ import annotations

import os

from capital.session import ENGINE_CONF, PACKAGE_ROOT, builder_conf


def test_local_master_ships_the_package_root_to_python_workers(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    monkeypatch.setenv("PYTHONPATH", "/elsewhere")
    conf = builder_conf("local[4]", shuffle_partitions=4)
    assert conf["spark.executorEnv.PYTHONPATH"] == PACKAGE_ROOT
    assert os.path.isfile(os.path.join(PACKAGE_ROOT, "capital", "session.py"))
    assert conf["spark.driver.memory"] == "3g"
    assert conf["spark.sql.shuffle.partitions"] == "4"
    assert all(conf[k] == v for k, v in ENGINE_CONF.items())


def test_inherited_pythonpath_with_the_package_root_needs_no_conf(monkeypatch):
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(["/elsewhere", PACKAGE_ROOT + "/"]))
    assert "spark.executorEnv.PYTHONPATH" not in builder_conf("local[4]")


def test_cluster_master_leaves_worker_env_and_memory_to_spark_submit(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    for master in (None, "yarn", "spark://head:7077"):
        conf = builder_conf(master)
        assert "spark.executorEnv.PYTHONPATH" not in conf
        assert "spark.driver.memory" not in conf
        assert conf["spark.sql.shuffle.partitions"] == "8"


def test_extra_conf_wins():
    conf = builder_conf("local[2]", extra_conf={"spark.executorEnv.PYTHONPATH": "/x"})
    assert conf["spark.executorEnv.PYTHONPATH"] == "/x"
