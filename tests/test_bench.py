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


def test_main_reports_a_raising_query_and_ends_with_the_summary(
    spark, sf_dir, monkeypatch, tmp_path, capsys
):
    """bench.main() end to end on the test data (sf0.001 by default)
    with two tiny queries, one of which raises: it returns normally, the
    errors line and the written JSON carry the failing name, and the
    summary line comes last."""
    import json

    from striot_spark.queries import registry

    def boom(spark, sf_dir):
        raise RuntimeError("boom")

    def trivial(spark, sf_dir):
        return spark.range(3)

    out = tmp_path / "bench.json"
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_OUT", str(out))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPEATS", "1")
    monkeypatch.setattr(bench, "calib_sec", lambda spark: 1.0)
    monkeypatch.setattr(
        registry, "all_queries", lambda: {"q_boom": boom, "q_trivial": trivial}
    )
    # open_session's getOrCreate re-applies the bench confs to this
    # shared session; put the test session's values back afterwards
    confs = dict(spark.conf.getAll)
    try:
        bench.main()
    finally:
        for k, v in dict(spark.conf.getAll).items():
            if k not in confs:
                spark.conf.unset(k)
            elif v != confs[k]:
                spark.conf.set(k, confs[k])

    lines = [json.loads(x) for x in capsys.readouterr().out.splitlines()]
    by_metric = {line["metric"]: line for line in lines}
    errs = by_metric["striot_spark_bench_errors"]
    assert errs["n_errors"] == 1 and list(errs["errors"]) == ["q_boom"]
    written = json.loads(out.read_text())
    assert list(written["errors"]) == ["q_boom"]
    assert list(written["queries"]) == ["q_trivial"]
    summary = lines[-1]
    assert summary["metric"] == "striot_spark_headline_queries_total"
    assert set(summary) == {
        "metric", "value", "unit", "sf", "calib_sec", "n_queries",
    }
    assert summary["sf"] == float(sf_dir.rsplit("sf", 1)[1])
    assert summary["n_queries"] == 1
    assert summary["calib_sec"] == 1.0
