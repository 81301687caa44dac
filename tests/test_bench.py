"""bench.py's per-query isolation: a query that raises is reported in
the errors map and the other queries are still timed."""

from __future__ import annotations

import bench


def test_time_queries_isolates_a_raising_query(spark, capsys):
    def boom(spark, sf_dir):
        raise RuntimeError("No space left on device")

    def trivial(spark, sf_dir):
        return spark.range(3)

    timings, errors = bench.time_queries(
        spark, {"q_boom": boom, "q_trivial": trivial}, "unused", repeats=1
    )
    assert list(timings) == ["q_trivial"] and timings["q_trivial"] >= 0
    assert list(errors) == ["q_boom"]
    assert errors["q_boom"]["error"] == "RuntimeError: No space left on device"
    assert errors["q_boom"]["free_bytes"] > 0
    progress = capsys.readouterr().err.splitlines()
    assert [line.split()[:3] for line in progress] == [
        ["[bench]", "q_boom", "ERROR"],
        ["[bench]", "q_trivial", f"{timings['q_trivial']:.3f}s"],
    ]
