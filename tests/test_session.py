"""The session factory's width rules: the default core count, and a
second ``get_spark`` call leaving a running session's confs alone."""

from __future__ import annotations

import os

from striot_spark.session import get_spark, local_cpus


def test_local_cpus_defaults_to_the_usable_cpus(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cpus() == 3


def test_get_spark_keeps_a_running_sessions_confs(spark, monkeypatch):
    """A call on a running session changes no conf it does not name —
    here the shuffle width its defaults would derive from the core
    count — and sets the ones it does name."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(int(before) + 1))
    assert get_spark(app_name="second-caller") is spark
    assert spark.conf.get(key) == before
    try:
        assert get_spark(shuffle_partitions=int(before) + 2) is spark
        assert spark.conf.get(key) == str(int(before) + 2)
        get_spark(extra_conf={key: "5"})
        assert spark.conf.get(key) == "5"
    finally:
        spark.conf.set(key, before)
