"""The bounded-drain shuffle width is derived from the staged input's
on-disk size (r17 optimization, VERDICT r16 task 3): ~DRAIN_TARGET_BYTES
staged bytes per partition, floored at DRAIN_WIDTH_FLOOR (the measured
r16 pin), capped at the SESSION width (so at cluster scale the pin
degenerates to a no-op instead of serializing the per-batch merge); an
explicit ``striot.stream.drainWidth`` overrides the derivation.
Pinning the arithmetic keeps the width a DATA property — a regression
back to a per-site constant fails here."""

from __future__ import annotations

import os

import pytest

from striot_spark.streaming.runtime import (
    DRAIN_TARGET_BYTES,
    DRAIN_WIDTH_CONF,
    DRAIN_WIDTH_FLOOR,
    _staged_bytes,
    derive_drain_width,
)


@pytest.fixture()
def clean_conf(spark):
    restore = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.unset(DRAIN_WIDTH_CONF)
    except Exception:
        pass
    yield spark
    try:
        spark.conf.unset(DRAIN_WIDTH_CONF)
    except Exception:
        pass
    spark.conf.set("spark.sql.shuffle.partitions", restore)


def _stage(tmp_path, n_bytes: int) -> str:
    # a sparse file: its size counts, but no bytes are held or written
    with open(tmp_path / "part-00000.parquet", "wb") as fh:
        fh.truncate(n_bytes)
    (tmp_path / "_SUCCESS").write_bytes(b"")  # markers must not count
    return str(tmp_path)


def test_no_source_uses_floor(clean_conf):
    spark = clean_conf
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    assert derive_drain_width(spark, None) == DRAIN_WIDTH_FLOOR
    assert derive_drain_width(spark, "/nonexistent/dir") == DRAIN_WIDTH_FLOOR


def test_small_staged_input_uses_floor(clean_conf, tmp_path):
    spark = clean_conf
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    src = _stage(tmp_path, 1024)
    assert derive_drain_width(spark, src) == DRAIN_WIDTH_FLOOR


def test_width_scales_with_staged_bytes(clean_conf, tmp_path):
    spark = clean_conf
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    src = _stage(tmp_path, 23 * DRAIN_TARGET_BYTES)
    assert derive_drain_width(spark, src) == 23


def test_session_width_caps_the_derivation(clean_conf, tmp_path):
    """A drain over a cluster-scale backlog must NOT exceed the
    session's configured width — the pin only ever narrows; a
    production-sized replay keeps the cluster operator's setting."""
    spark = clean_conf
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    src = _stage(tmp_path, 1000 * DRAIN_TARGET_BYTES)
    assert derive_drain_width(spark, src) == 16


def test_override_conf_wins(clean_conf, tmp_path):
    spark = clean_conf
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    src = _stage(tmp_path, 23 * DRAIN_TARGET_BYTES)
    spark.conf.set(DRAIN_WIDTH_CONF, "4")
    assert derive_drain_width(spark, src) == 4
    # <= 0 disables the pin entirely (production no-op escape hatch)
    spark.conf.set(DRAIN_WIDTH_CONF, "0")
    assert derive_drain_width(spark, src) is None
    spark.conf.set(DRAIN_WIDTH_CONF, "-1")
    assert derive_drain_width(spark, src) is None
    # empty string = unset = derive
    spark.conf.set(DRAIN_WIDTH_CONF, "")
    assert derive_drain_width(spark, src) == 23
    # not an integer = ignored = derive (conf parsing never fails a query)
    spark.conf.set(DRAIN_WIDTH_CONF, "eight")
    assert derive_drain_width(spark, src) == 23


def test_real_drain_runs_at_the_derived_width(
    clean_conf, tmp_path, monkeypatch
):
    """Above the floor, on a real availableNow drain: the state
    operator's shuffle partitions in the drain's progress are the
    derived width, and the session width is back afterwards."""
    import json
    import threading

    from pyspark.sql import functions as F
    from pyspark.sql.streaming import StreamingQueryListener

    from striot_spark.streaming import runtime as RT

    spark = clean_conf
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    src = str(tmp_path / "stage")
    spark.range(4000).select(
        (F.col("id") % 50).alias("k"), F.col("id").alias("v")
    ).write.parquet(src)
    monkeypatch.setattr(
        RT, "DRAIN_TARGET_BYTES", RT._staged_bytes(src) // 12
    )
    width = derive_drain_width(spark, src)
    assert DRAIN_WIDTH_FLOOR < width < 16

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.reports, self.done = [], threading.Event()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.reports.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.done.set()

    listener = Progress()
    spark.streams.addListener(listener)
    try:
        sdf = RT.file_stream(spark, src, spark.read.parquet(src).schema)
        out = RT.run_available_now(
            sdf.groupBy("k").count(), mode="complete", source_path=src
        )
        assert out.count() == 50
        assert listener.done.wait(30)
    finally:
        spark.streams.removeListener(listener)
    ops = [op for p in listener.reports for op in p["stateOperators"]]
    assert ops and {op["numShufflePartitions"] for op in ops} == {width}
    assert spark.conf.get("spark.sql.shuffle.partitions") == "16"


def test_staged_bytes_skips_markers_and_file_prefix(tmp_path):
    p = tmp_path / "stage"
    os.makedirs(p)
    (p / "a.parquet").write_bytes(b"\0" * 100)
    (p / "_MANIFEST").write_bytes(b"\0" * 10**6)
    (p / ".crc").write_bytes(b"\0" * 10**6)
    assert _staged_bytes(str(p)) == 100
    assert _staged_bytes("file:" + str(p)) == 100
    assert _staged_bytes(None) == 0


def test_floor_matches_the_measured_r16_pin():
    # the sf-scale drain width the r16 bench/oracle numbers were
    # measured at; raising it silently changes the bench comparison
    assert DRAIN_WIDTH_FLOOR == 8
