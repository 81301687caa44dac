"""Streaming-mode tests: the same operators lowered to Structured
Streaming must agree with their batch lowering (batch is the semantics
oracle, SURVEY.md §7.3 hard-point 1)."""

from __future__ import annotations

import json
import shutil

import pytest

from pyspark.sql import functions as F

from striot_spark.sources.batch import load_table
from striot_spark.streaming import runtime as RT


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Stage events as a streaming-source directory (two files → at
    least two input splits)."""
    out = tmp_path_factory.mktemp("events_stream")
    df = load_table(spark, sf_dir, "events")
    df.repartition(2).write.mode("overwrite").parquet(str(out / "data"))
    return str(out / "data")


@pytest.fixture()
def ckpt(tmp_path):
    d = tmp_path / "ckpt"
    yield str(d)
    shutil.rmtree(d, ignore_errors=True)


def _events_schema(spark, sf_dir):
    return load_table(spark, sf_dir, "events").schema


def test_windowed_agg_stream_matches_batch(spark, sf_dir, events_dir, ckpt):
    sdf = RT.file_stream(spark, events_dir, _events_schema(spark, sf_dir))
    agg = RT.window_agg_stream(
        sdf, "ts", "1 day", {"n": F.count(F.lit(1))}, watermark="1 minute"
    )
    got = RT.run_available_now(agg, "win_counts", ckpt, mode="complete")
    stream_rows = {
        (r["window_start"], r["n"]) for r in got.select("window_start", "n").collect()
    }
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    batch_rows = {(r["window_start"], r["n"]) for r in batch.collect()}
    assert stream_rows == batch_rows


def test_window_agg_stream_origin_matches_batch_choptime(
    spark, sf_dir, events_dir, ckpt
):
    """Streaming chopTime with ``origin=`` (first-event alignment,
    FunctionalProcessing.hs:118-126) must place every window exactly
    where the batch ChopTime(origin=...) lowering places it — same
    startTime-offset arithmetic, same counts."""
    from striot_spark.operators.windows import WINDOW_ID, ChopTime
    from striot_spark.sources.batch import event_stream

    origin = "2024-01-03 07:11:19"  # deliberately not epoch-aligned
    sdf = RT.file_stream(spark, events_dir, _events_schema(spark, sf_dir))
    agg = RT.window_agg_stream(
        sdf,
        "ts",
        "1 day",
        {"n": F.count(F.lit(1))},
        watermark="1 minute",
        origin=origin,
    )
    got = RT.run_available_now(agg, "win_origin", ckpt, mode="complete")
    stream_rows = {
        (r["wid"], r["n"])
        for r in got.select(
            F.col("window_start").cast("long").alias("wid"), "n"
        ).collect()
    }
    batch = (
        event_stream(spark, sf_dir)
        .window_agg(ChopTime("1 day", origin=origin), {"n": F.count(F.lit(1))})
        .df
    )
    batch_rows = {(r[WINDOW_ID], r["n"]) for r in batch.collect()}
    assert stream_rows == batch_rows
    assert len(stream_rows) > 0
    # the alignment really is origin-anchored: no window start is
    # midnight-aligned, every one is ≡ origin (mod 1 day)
    assert all(wid % 86400 != 0 for wid, _ in stream_rows)


def test_session_window_stream_matches_batch_sessionize(
    spark, sf_dir, events_dir, ckpt
):
    from striot_spark.functions.analytics import sessionize

    sdf = RT.file_stream(spark, events_dir, _events_schema(spark, sf_dir))
    agg = RT.session_agg_stream(
        sdf,
        "ts",
        "30 minutes",
        {"n": F.count(F.lit(1))},
        key=["user_id"],
        watermark="1 minute",
    )
    got = RT.run_available_now(agg, "sess_counts", ckpt, mode="complete")
    stream_sizes = sorted(
        (r["user_id"], r["n"]) for r in got.select("user_id", "n").collect()
    )
    batch = (
        sessionize(
            load_table(spark, sf_dir, "events"),
            "ts",
            30,
            ["user_id"],
            order_cols=["ts", "event_id"],
        )
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    batch_sizes = sorted(
        (r["user_id"], r["n"]) for r in batch.select("user_id", "n").collect()
    )
    assert stream_sizes == batch_sizes


def test_watermark_drops_late_events(spark, tmp_path):
    """Late-data policy — a deliberate capability ADDITION over the
    reference (SURVEY.md §2.6: StrIoT lets late events land in whatever
    window is still open). Two availableNow drains share one checkpoint,
    so the watermark persists between them: an event arriving in run 2
    for a window the watermark already closed must be excluded."""
    import datetime as dt
    import glob as g
    import shutil as sh

    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    sd = tmp_path / "stream"
    sd.mkdir()
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")

    def write_one(rows, name):
        tmp = str(tmp_path / f"tmp_{name}")
        spark.createDataFrame(rows, "id long, ts timestamp").coalesce(
            1
        ).write.parquet(tmp)
        sh.copy(g.glob(tmp + "/part-*.parquet")[0], str(sd / f"{name}.parquet"))

    def drain():
        agg = RT.window_agg_stream(
            RT.file_stream(spark, str(sd), "id long, ts timestamp"),
            "ts",
            "5 minutes",
            {"n": F.count(F.lit(1))},
            watermark="10 minutes",
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: events at 12:00 and 12:30 → watermark advances to 12:20,
    # past the end of window [12:00, 12:05)
    write_one([(1, base), (2, base + dt.timedelta(minutes=30))], "f1")
    drain()
    # run 2: id=3 is LATE for the closed [12:00, 12:05) window → dropped
    write_one(
        [
            (3, base + dt.timedelta(minutes=1)),
            (4, base + dt.timedelta(minutes=31)),
        ],
        "f2",
    )
    drain()
    rows = sorted(
        (r["window_start"], r["n"]) for r in spark.read.parquet(out).collect()
    )
    # exactly one closed window emitted, with ONE event — the late
    # arrival never reached it
    assert rows == [(base, 1)]


def test_filter_acc_stream_matches_batch(spark, sf_dir, events_dir, ckpt):
    """Dedup-on-change per user (the reference's canonical filterAcc use,
    docs/Operators.md:109-119) must agree between the streaming lowering
    (applyInPandasWithState) and the batch general path."""
    from striot_spark.sources.batch import event_stream

    def step(acc, row):
        return (row["event_type"],)

    def pred(row, acc):
        return acc[0] is None or row["event_type"] != acc[0]

    sdf = RT.file_stream(spark, events_dir, _events_schema(spark, sf_dir))
    out = RT.filter_acc_stream(
        sdf,
        step=step,
        init=(None,),
        pred=pred,
        key=["user_id"],
        time_col="ts",
        state_type="prev string",
    )
    got = RT.run_available_now(out, "facc_out", ckpt, mode="append")
    stream_rows = {
        (r["user_id"], r["event_id"]) for r in got.select("user_id", "event_id").collect()
    }
    batch = event_stream(spark, sf_dir).filter_acc_apply(
        step, (None,), pred, key=["user_id"]
    )
    batch_rows = {
        (r["user_id"], r["event_id"])
        for r in batch.df.select("user_id", "event_id").collect()
    }
    assert stream_rows == batch_rows
    assert len(stream_rows) > 0


def test_filter_acc_stream_tiebreak_orders_timestamp_ties(
    spark, tmp_path, ckpt
):
    """When timestamps tie, ``tiebreak=`` pins the processing order so
    order-sensitive keep/drop decisions are deterministic (and can match
    an oracle that orders by the same (ts, tiebreak) pair) instead of
    depending on arrival order within the micro-batch."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    # all six events share ONE timestamp; in tid order the type sequence
    # is A A B B A A -> dedup-on-change keeps tids 1, 3, 5 exactly
    rows = [(7, tid, t0, ty) for tid, ty in
            [(1, "A"), (2, "A"), (3, "B"), (4, "B"), (5, "A"), (6, "A")]]
    src = tmp_path / "tie_src"
    df = spark.createDataFrame(
        rows, "user_id long, tid long, ts timestamp, event_type string"
    )
    # reversed file order: arrival order disagrees with tid order
    df.orderBy(F.desc("tid")).coalesce(1).write.parquet(str(src))
    sdf = RT.file_stream(spark, str(src), df.schema)
    out = RT.filter_acc_stream(
        sdf,
        step=lambda acc, row: (row["event_type"],),
        init=(None,),
        pred=lambda row, acc: acc[0] is None
        or row["event_type"] != acc[0],
        key=["user_id"],
        time_col="ts",
        state_type="prev string",
        tiebreak="tid",
    )
    got = RT.run_available_now(out, "facc_tie", ckpt, mode="append")
    assert {r["tid"] for r in got.collect()} == {1, 3, 5}


def test_scan_stream_tiebreak_orders_timestamp_ties(spark, tmp_path, ckpt):
    """scan_stream's accumulator must fold tied-timestamp events in
    ``tiebreak`` order — string concat makes any other order visible."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [(7, tid, t0, ty) for tid, ty in
            [(1, "a"), (2, "b"), (3, "c"), (4, "d")]]
    src = tmp_path / "tie_scan_src"
    df = spark.createDataFrame(
        rows, "user_id long, tid long, ts timestamp, event_type string"
    )
    df.orderBy(F.desc("tid")).coalesce(1).write.parquet(str(src))
    sdf = RT.file_stream(spark, str(src), df.schema)
    out = RT.scan_stream(
        sdf,
        step=lambda acc, row: acc + row["event_type"],
        init="",
        out_field="seen",
        out_type="string",
        key=["user_id"],
        time_col="ts",
        state_type="acc string",
        tiebreak="tid",
    )
    got = RT.run_available_now(out, "scan_tie", ckpt, mode="append")
    assert {r["seen"] for r in got.collect()} == {"a", "ab", "abc", "abcd"}


def test_fingerprint_dedup_stream_collapses_exact_dups(
    spark, tmp_path, ckpt
):
    """First doc per SimHash fingerprint survives; exact dups drop;
    distinct docs and zero-token docs pass through."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, "alpha beta gamma"),
        (2, t0 + dt.timedelta(seconds=1), "alpha beta gamma"),  # dup
        (3, t0 + dt.timedelta(seconds=2), "совершенно different text"),
        (4, t0 + dt.timedelta(seconds=3), "   "),  # zero tokens
        (5, t0 + dt.timedelta(seconds=4), "alpha beta gamma"),  # dup
    ]
    df = spark.createDataFrame(rows, "doc_id long, ts timestamp, text string")
    src = tmp_path / "fp_src"
    df.coalesce(1).write.parquet(str(src))
    sdf = RT.file_stream(spark, str(src), df.schema)
    out = RT.fingerprint_dedup_stream(sdf, "text", "ts")
    got = RT.run_available_now(out, "fp_dedup", ckpt, mode="append")
    assert {r["doc_id"] for r in got.collect()} == {1, 3, 4}
    assert got.columns == df.columns  # fingerprint column stripped


def test_contamination_filter_stream_matches_batch_check(
    spark, sf_dir, tmp_path, ckpt
):
    """Ingest-time decontamination must flag exactly the docs the batch
    contamination_check flags — and the plan is a stateless per-row
    predicate (map-literal lookup), so clean + contaminated partitions
    the stream with no state to checkpoint."""
    from striot_spark.functions.dedup import contamination_check
    from striot_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    src = tmp_path / "docs_stream"
    train.repartition(2).write.parquet(str(src))
    sdf = RT.file_stream(spark, str(src), train.schema)

    flagged = RT.contamination_filter_stream(
        sdf, eval_df, "text", ngram_n=5, emit="contaminated"
    )
    got_flagged = {
        r["doc_id"]
        for r in RT.run_available_now(
            flagged, "contam_hits", str(ckpt) + "_a", mode="append"
        ).collect()
    }
    expected = {
        r["doc_id"]
        for r in contamination_check(
            train, eval_df, "doc_id", "text", ngram_n=5
        ).collect()
    }
    assert got_flagged == expected
    assert len(got_flagged) > 0
    clean = RT.contamination_filter_stream(
        sdf, eval_df, "text", ngram_n=5, emit="clean"
    )
    got_clean = {
        r["doc_id"]
        for r in RT.run_available_now(
            clean, "contam_clean", str(ckpt) + "_b", mode="append"
        ).collect()
    }
    all_ids = {r["doc_id"] for r in train.collect()}
    assert got_clean == all_ids - expected


def test_contamination_filter_stream_empty_eval_and_validation(
    spark, tmp_path, ckpt
):
    """An EMPTY eval corpus means nothing is contaminated (the empty
    map-literal branch); a bad emit value raises before any plan."""
    import datetime as dt

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), "some words here repeated often "
          "enough to have five grams")],
        "doc_id long, ts timestamp, text string",
    )
    empty_eval = df.filter(F.lit(False))
    with pytest.raises(ValueError, match="emit"):
        RT.contamination_filter_stream(df, empty_eval, "text", emit="cleanx")
    src = tmp_path / "contam_empty_src"
    df.coalesce(1).write.parquet(str(src))
    sdf = RT.file_stream(spark, str(src), df.schema)
    clean = RT.contamination_filter_stream(sdf, empty_eval, "text")
    got = RT.run_available_now(clean, "contam_empty", ckpt, mode="append")
    assert got.count() == 1


def test_streaming_corpus_pipeline_composes(spark, sf_dir, tmp_path, ckpt):
    """The ingest-time pipeline (decontaminate → fingerprint-dedup)
    composes on one stream and matches the batch semantics: the
    surviving set covers exactly one document per SimHash fingerprint
    of exactly the clean (uncontaminated) set. Which duplicate survives
    is arrival-order-dependent by design, so the assertion is on
    fingerprint sets, not row identity."""
    from striot_spark.functions.dedup import contamination_check, simhash
    from striot_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    src = tmp_path / "pipe_src"
    train.repartition(2).write.parquet(str(src))
    sdf = RT.file_stream(spark, str(src), train.schema)
    # no event-time column on documents: stamp a constant — the dedup
    # watermark only bounds state age, which a bounded drain never hits
    staged = sdf.withColumn("ts", F.lit("2024-01-01").cast("timestamp"))
    clean = RT.contamination_filter_stream(staged, eval_df, "text")
    deduped = RT.fingerprint_dedup_stream(clean, "text", "ts")
    got = RT.run_available_now(deduped, "pipe_out", ckpt, mode="append")
    got_ids = [r["doc_id"] for r in got.collect()]

    contaminated = {
        r["doc_id"]
        for r in contamination_check(
            train, eval_df, "doc_id", "text", ngram_n=5
        ).collect()
    }
    clean_batch = train.filter(~F.col("doc_id").isin(contaminated))
    expected_fps = {
        r["simhash"]
        for r in simhash(clean_batch, "doc_id", "text").collect()
    }
    survivor_fps = {
        r["simhash"]
        for r in simhash(
            docs.filter(F.col("doc_id").isin(got_ids)), "doc_id", "text"
        ).collect()
    }
    assert len(got_ids) == len(set(got_ids))
    assert survivor_fps == expected_fps
    # every survivor is clean, and one survivor per fingerprint
    assert not (set(got_ids) & contaminated)
    assert len(got_ids) == len(expected_fps) + (
        clean_batch.count()
        - simhash(clean_batch, "doc_id", "text").count()
    )  # zero-token docs (no fingerprint) pass through unconditionally


def test_join_e_stream_matches_batch(spark, sf_dir, events_dir, ckpt):
    """Streaming joinE (windowed theta join of two streams) must agree
    with the batch q32 lowering on the same data."""
    schema = _events_schema(spark, sf_dir)
    purchases = RT.file_stream(spark, events_dir, schema).filter(
        F.col("event_type") == "purchase"
    )
    errors = RT.file_stream(spark, events_dir, schema).filter(
        F.col("event_type") == "error"
    )
    out = RT.join_e_stream(
        purchases,
        errors,
        "ts",
        3600,
        theta=F.col("value_l") > F.col("value_r"),
        watermark="1 minute",
    ).select("window_id", "event_id_l", "event_id_r")
    got = RT.run_available_now(out, "joine_out", ckpt, mode="append")
    stream_rows = {
        (r["window_id"], r["event_id_l"], r["event_id_r"]) for r in got.collect()
    }
    from striot_spark.queries.registry import REGISTRY, _load

    _load()
    batch = REGISTRY["q32_joine_window_theta"].fn(spark, sf_dir)
    batch_rows = {
        (r["window_id"], r["purchase_id"], r["error_id"]) for r in batch.collect()
    }
    assert stream_rows == batch_rows
    assert len(stream_rows) > 0


def test_scan_stream_matches_batch_scan(spark, sf_dir, events_dir, ckpt):
    from striot_spark.sources.batch import event_stream

    sdf = RT.file_stream(spark, events_dir, _events_schema(spark, sf_dir))
    out = RT.scan_stream(
        sdf,
        step=lambda acc, row: acc + row["value"],
        init=0.0,
        out_field="running",
        out_type="double",
        key=["user_id"],
        time_col="ts",
    )
    got = RT.run_available_now(out, "scan_out", ckpt, mode="append")
    stream_rows = {
        (r["user_id"], r["ts"], round(r["running"], 6))
        for r in got.collect()
    }
    batch = (
        event_stream(spark, sf_dir)
        .scan({"running": F.sum("value")}, key=["user_id"])
        .df.select("user_id", "ts", "running")
    )
    batch_rows = {
        (r["user_id"], r["ts"], round(r["running"], 6)) for r in batch.collect()
    }
    assert stream_rows == batch_rows


def test_flagship_frequent_routes_stream_matches_batch(
    spark, sf_dir, events_dir, ckpt
):
    """The flagship taxi-Q1 pipeline, lowered to Structured Streaming
    (incremental watermarked counts + tiny finalize tier), must produce
    exactly the batch q30 result."""
    from striot_spark.queries.flagship import (
        frequent_routes_stream,
        q30_frequent_routes,
    )

    got = frequent_routes_stream(
        spark, events_dir, _events_schema(spark, sf_dir), ckpt
    ).collect()
    want = q30_frequent_routes(spark, sf_dir).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_dedup_stream_drops_retransmits(spark, sf_dir, events_dir, ckpt):
    """dropDuplicatesWithinWatermark keeps one row per key when the
    duplicates arrive inside the watermark (the at-least-once-source
    contract); result matches batch dropDuplicates on the same keys."""
    sdf = RT.file_stream(spark, events_dir, _events_schema(spark, sf_dir))
    deduped = RT.dedup_stream(sdf, ["event_id"], "ts", watermark="365 days")
    got = RT.run_available_now(deduped, "dedup_stream_t", ckpt, mode="append")
    batch_n = load_table(spark, sf_dir, "events").dropDuplicates(["event_id"]).count()
    assert got.count() == batch_n
    # duplicated input: re-listing the same directory as a second source
    # is equivalent to a retransmit; a fresh stream over doubled data
    # still yields one row per event_id
    doubled = RT.file_stream(spark, events_dir, _events_schema(spark, sf_dir)).unionByName(
        RT.file_stream(spark, events_dir, _events_schema(spark, sf_dir))
    )
    got2 = RT.run_available_now(
        RT.dedup_stream(doubled, ["event_id"], "ts", watermark="365 days"),
        "dedup_stream_t2",
        ckpt + "_2",
        mode="append",
    )
    assert got2.count() == batch_n


def test_sliding_count_stream_matches_batch_frame(spark, sf_dir, events_dir, ckpt):
    """Per-key streaming sliding-n window must equal the batch analytic
    rowsBetween(-(n-1), 0) frame (the q06 lowering, partitioned by key)."""
    from pyspark.sql import Window as W

    sdf = RT.file_stream(spark, events_dir, _events_schema(spark, sf_dir))
    got = RT.run_available_now(
        RT.sliding_count_stream(
            sdf,
            3,
            "value",
            lambda xs: float(sum(xs)),
            key=["user_id"],
            time_col="ts",
            out_field="sum3",
            tiebreak="event_id",
        ),
        "slide_stream_t",
        ckpt,
        mode="append",
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, W.currentRow)
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .withColumn("sum3", F.sum("value").over(w))
        .select("user_id", "ts", "sum3")
    )
    g = sorted((r["user_id"], r["ts"], round(r["sum3"], 6)) for r in got.collect())
    b = sorted((r["user_id"], r["ts"], round(r["sum3"], 6)) for r in batch.collect())
    assert g == b


def test_sliding_window_agg_stream_matches_batch(spark, sf_dir, events_dir, ckpt):
    """Sliding streaming windows (12h slide over 1-day windows) must
    match the batch groupBy(window(ts, dur, slide)) lowering."""
    sdf = RT.file_stream(spark, events_dir, _events_schema(spark, sf_dir))
    agg = RT.window_agg_stream(
        sdf,
        "ts",
        "1 day",
        {"n": F.count(F.lit(1))},
        watermark="1 minute",
        slide="12 hours",
    )
    got = RT.run_available_now(agg, "slide_win_t", ckpt, mode="complete")
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 day", "12 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    assert {(r["window_start"], r["n"]) for r in got.select("window_start", "n").collect()} == {
        (r["window_start"], r["n"]) for r in batch.collect()
    }


def test_interval_join_stream_matches_batch(spark, sf_dir, events_dir, ckpt):
    """Streaming time-interval join (native stream-stream range join)
    must agree with the batch binned lowering (q59) on the same data."""
    schema = _events_schema(spark, sf_dir)
    clicks = (
        RT.file_stream(spark, events_dir, schema)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        RT.file_stream(spark, events_dir, schema)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
        )
    )
    out = RT.interval_join_stream(
        clicks,
        purchases,
        ["user_id"],
        "click_ts",
        "purchase_ts",
        0.0,
        3600.0,
        watermark="1 minute",
    ).select("click_id", "purchase_id", "user_id")
    got = RT.run_available_now(out, "ij_out", ckpt, mode="append")
    stream_rows = {
        (r["click_id"], r["purchase_id"], r["user_id"])
        for r in got.collect()
    }
    from striot_spark.queries.registry import REGISTRY, _load

    _load()
    batch = REGISTRY["q59_interval_join"].fn(spark, sf_dir)
    batch_rows = {
        (r["click_id"], r["purchase_id"], r["user_id"])
        for r in batch.collect()
    }
    assert stream_rows == batch_rows
    assert len(stream_rows) > 0


def test_socket_stream_parses_json_lines(spark, ckpt):
    """End-to-end TCP ingress: a local line server feeds the socket
    source; JSON lines parse into typed columns (the reference's
    native transport shape, one serialized event per message)."""
    import json
    import socket
    import threading
    import time

    from striot_spark.streaming.runtime import socket_stream

    rows = [{"event_id": i, "value": float(i) * 1.5} for i in range(5)]
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]

    def serve():
        conn, _ = srv.accept()
        with conn:
            payload = "".join(json.dumps(r) + "\n" for r in rows)
            conn.sendall(payload.encode())
            time.sleep(5)  # keep the connection open while Spark polls

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    stream = socket_stream(
        spark, "127.0.0.1", port, "event_id BIGINT, value DOUBLE"
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("sock_out")
        .option("checkpointLocation", str(ckpt))
        .start()
    )
    try:
        deadline = time.time() + 30
        got = []
        while time.time() < deadline:
            got = spark.sql("SELECT * FROM sock_out ORDER BY event_id").collect()
            if len(got) >= len(rows):
                break
            time.sleep(0.5)
    finally:
        q.stop()
        srv.close()
    assert [(r["event_id"], r["value"]) for r in got] == [
        (r["event_id"], r["value"] * 1.0) for r in rows
    ]


def test_stream_static_broadcast_enrich(spark, sf_dir, events_dir, ckpt):
    """Stream-static join: a streaming feed enriched against a static
    dimension. Spark plans the static side as a broadcast per
    micro-batch — the streaming side never shuffles and no stream-state
    is kept (no watermark needed for stream-static inner joins)."""
    from striot_spark.sources.batch import load_table

    schema = _events_schema(spark, sf_dir)
    stream = spark.readStream.schema(schema).parquet(events_dir)
    dim = spark.createDataFrame(
        [("click", 1.5), ("view", 1.0), ("purchase", 5.0)],
        "event_type string, weight double",
    )
    out = stream.join(F.broadcast(dim), "event_type").withColumn(
        "weighted", F.col("value") * F.col("weight")
    )
    q = (
        out.writeStream.format("memory")
        .queryName("enriched")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(
        "SELECT count(*) AS n, sum(weighted) AS s FROM enriched"
    ).collect()[0]
    batch = load_table(spark, sf_dir, "events").join(dim, "event_type")
    exp = batch.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value") * F.col("weight")).alias("s"),
    ).collect()[0]
    assert got["n"] == exp["n"]
    assert got["s"] == pytest.approx(exp["s"])


def test_idempotent_parquet_sink_exactly_once_on_replay(
    spark, sf_dir, tmp_path
):
    """Multi-batch drain through the idempotent foreachBatch sink, then
    a simulated crash-replay of the final batch: re-running a batch id
    must overwrite its partition, not append duplicates."""
    from striot_spark.sources.batch import load_table
    from striot_spark.streaming.runtime import to_idempotent_parquet

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    src = tmp_path / "src"
    # three files -> three micro-batches with maxFilesPerTrigger=1
    for i in range(3):
        events.filter(F.col("event_id") % 3 == i).coalesce(1).write.parquet(
            str(src / f"f{i}")
        )
    schema = events.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    out = tmp_path / "out"
    q = to_idempotent_parquet(
        stream, str(out), str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination()
    total = events.count()
    first = spark.read.parquet(str(out))
    assert first.count() == total
    batch_ids = {r["batch_id"] for r in first.select("batch_id").distinct().collect()}
    assert len(batch_ids) == 3
    # crash-replay: re-execute the last batch's write with the same id
    # (materialize the rows first — the write overwrites its own input)
    last = max(batch_ids)
    replay = first.filter(F.col("batch_id") == last).drop("batch_id")
    rows = replay.collect()
    spark.createDataFrame(rows, replay.schema).write.mode(
        "overwrite"
    ).parquet(f"{out}/batch_id={last}")
    spark.catalog.refreshByPath(str(out))
    again = spark.read.parquet(str(out))
    assert again.count() == total  # no duplicates after replay


def test_join_w_stream_matches_batch_closed_windows(
    spark, sf_dir, events_dir, ckpt
):
    """Single-query chained-stateful joinW (windowed agg on each side +
    stream-stream window join — the Spark 3.5 multiple-stateful-operators
    pattern): append-mode output must equal the batch join_w restricted
    to window pairs the final watermark CLOSED (the trailing unfinalized
    windows of a bounded replay are withheld by design; the oracle-gated
    q87 uses the complete-mode two-tier drain instead)."""
    import datetime as dt

    from striot_spark.functions.analytics import cents
    from striot_spark.operators.join import join_w
    from striot_spark.operators.windows import ChopTime

    schema = _events_schema(spark, sf_dir)
    purchases = RT.file_stream(spark, events_dir, schema).filter(
        F.col("event_type") == "purchase"
    )
    clicks = RT.file_stream(spark, events_dir, schema).filter(
        F.col("event_type") == "click"
    )
    with pytest.raises(ValueError, match="positive"):
        RT.join_w_stream(purchases, clicks, "ts", "ts", 86400, 0, {}, {})
    out = RT.join_w_stream(
        purchases,
        clicks,
        "ts",
        "ts",
        86400,
        172800,
        {"revenue_c": F.sum(cents(F.col("value")))},
        {"n_clicks": F.count(F.lit(1))},
        watermark="1 minute",
    )
    got = RT.run_available_now(out, "joinw_stream_out", ckpt, mode="append")
    stream_rows = sorted(map(tuple, got.collect()))

    ev = load_table(spark, sf_dir, "events")
    batch = join_w(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "click"),
        ChopTime("1 day"),
        ChopTime("2 days"),
        {"revenue_c": F.sum(cents(F.col("value")))},
        {"n_clicks": F.count(F.lit(1))},
        "ts",
        "ts",
    )
    # final global watermark = min over the two inputs of (max ts - 1m);
    # a window pair is closed (emitted) iff the 2-day window's end has
    # passed it
    wm = min(
        ev.filter(F.col("event_type") == t).agg(F.max("ts")).collect()[0][0]
        for t in ("purchase", "click")
    ) - dt.timedelta(seconds=60)
    wm_epoch = wm.replace(tzinfo=dt.timezone.utc).timestamp()
    expected = sorted(
        (r["left_window"], r["right_window"], r["revenue_c"], r["n_clicks"])
        for r in batch.collect()
        if r["n_clicks"] is not None
        and r["right_window"] + 172800 <= wm_epoch
    )
    assert stream_rows == expected
    assert len(stream_rows) > 0


def test_lcm_containment_arithmetic_property():
    """The claim that makes the LCM lowering lossless: for any
    whole-second lengths L, R and any left-window start Ls (a multiple
    of L), the right window containing Ls — floor(Ls/R)*R, the batch
    join_w alignment — lies in the SAME lcm(L,R) bucket as Ls, so the
    post-join containment filter over LCM-equi-joined pairs recovers
    exactly the batch pairing."""
    import math
    import random

    rng = random.Random(7)
    pairs = [(7, 10), (20, 50), (86400, 129600), (3599, 7200), (5, 5),
             (60, 90), (1, 97)]
    for L, R in pairs:
        M = math.lcm(L, R)
        for _ in range(200):
            ls = rng.randrange(0, 10 * M, L)  # a left window start
            containing = (ls // R) * R
            assert containing // M == ls // M, (L, R, ls)


def test_join_w_stream_non_nesting_lengths_match_batch(
    spark, sf_dir, events_dir, ckpt
):
    """The round-5 generalization: window lengths that do NOT nest
    (1 day / 1.5 days — 129600 % 86400 != 0) must reproduce the batch
    join_w alignment exactly via the LCM-chained-window lowering.
    A pair emits once the final watermark passes BOTH its windows'
    ends (each side's aggregate appears when its own window closes;
    the LCM key only scopes state eviction, not emission)."""
    import datetime as dt

    from striot_spark.functions.analytics import cents
    from striot_spark.operators.join import join_w
    from striot_spark.operators.windows import ChopTime

    L, R = 86400, 129600
    M = 259200  # lcm
    schema = _events_schema(spark, sf_dir)
    purchases = RT.file_stream(spark, events_dir, schema).filter(
        F.col("event_type") == "purchase"
    )
    clicks = RT.file_stream(spark, events_dir, schema).filter(
        F.col("event_type") == "click"
    )
    out = RT.join_w_stream(
        purchases,
        clicks,
        "ts",
        "ts",
        L,
        R,
        {"revenue_c": F.sum(cents(F.col("value")))},
        {"n_clicks": F.count(F.lit(1))},
        watermark="1 minute",
    )
    got = RT.run_available_now(out, "joinw_nonnest_out", ckpt, mode="append")
    stream_rows = sorted(map(tuple, got.collect()))

    ev = load_table(spark, sf_dir, "events")
    batch = join_w(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "click"),
        ChopTime("1 day"),
        ChopTime(f"{R} seconds"),
        {"revenue_c": F.sum(cents(F.col("value")))},
        {"n_clicks": F.count(F.lit(1))},
        "ts",
        "ts",
    )
    wm = min(
        ev.filter(F.col("event_type") == t).agg(F.max("ts")).collect()[0][0]
        for t in ("purchase", "click")
    ) - dt.timedelta(seconds=60)
    wm_epoch = wm.replace(tzinfo=dt.timezone.utc).timestamp()
    expected = sorted(
        (r["left_window"], r["right_window"], r["revenue_c"], r["n_clicks"])
        for r in batch.collect()
        if r["n_clicks"] is not None
        and max(r["left_window"] + L, r["right_window"] + R) <= wm_epoch
    )
    assert stream_rows == expected
    assert len(stream_rows) > 0
    # the non-nesting alignment really occurred: some left window's
    # containing right window starts at a non-multiple of the left
    # length (impossible under nesting)
    assert any(rw % L != 0 for _, rw, _, _ in stream_rows)


def test_join_w_stream_emits_when_both_windows_close_mid_lcm_bucket(
    spark, tmp_path, ckpt
):
    """Pin the emission rule the q93 oracle states: a pair whose left
    AND right windows the watermark passed emits even while its LCM
    bucket is still open — crafted so the final watermark lands in the
    SECOND half of an LCM bucket (the regime the driver events data
    never exercises, where a bucket-closure rule would under-count)."""
    import datetime as dt

    L, R = 20, 50  # lcm 100
    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def at(s):
        return base + dt.timedelta(seconds=s)

    # watermark drivers at t=165 on both sides -> final wm = 155,
    # which lands INSIDE LCM bucket [100,200) (open until 200).
    # Pair left [100,120) x right [100,150): both ends <= 155 ->
    # must emit although its bucket is open. Pair left [160,180) x
    # right [150,200): right end 200 > 155 -> withheld.
    left_rows = [(at(5), 1.0), (at(105), 1.0), (at(165), 1.0)]
    right_rows = [(at(7), 2.0), (at(103), 2.0), (at(165), 2.0)]
    lsrc, rsrc = tmp_path / "jl", tmp_path / "jr"
    ldf = spark.createDataFrame(left_rows, "ts timestamp, v double")
    rdf = spark.createDataFrame(right_rows, "ts timestamp, v double")
    ldf.coalesce(1).write.parquet(str(lsrc))
    rdf.coalesce(1).write.parquet(str(rsrc))
    out = RT.join_w_stream(
        RT.file_stream(spark, str(lsrc), ldf.schema),
        RT.file_stream(spark, str(rsrc), rdf.schema),
        "ts",
        "ts",
        L,
        R,
        {"ln": F.count(F.lit(1))},
        {"rn": F.count(F.lit(1))},
        watermark="10 seconds",
    )
    got = RT.run_available_now(out, "joinw_midbucket", ckpt, mode="append")
    pairs = {(r["left_window"], r["right_window"]) for r in got.collect()}
    t0 = int(base.replace(tzinfo=dt.timezone.utc).timestamp())
    # first bucket fully closed: ([0,20),[0,50)) emits
    assert (t0, t0) in pairs
    # BOTH windows of ([100,120),[100,150)) closed at wm=155 while
    # their LCM bucket [100,200) is still open -> emits (the rule a
    # bucket-closure oracle would wrongly exclude)
    assert (t0 + 100, t0 + 100) in pairs
    # left [160,180) x right [150,200): right end past wm -> withheld
    assert (t0 + 160, t0 + 150) not in pairs


# -- round-6: multi-batch (maxFilesPerTrigger=1) replay robustness -----------
#
# The driver's r05 q93/q100 hash reds were environment-conditional replay
# nondeterminism: cross-batch arrival order feeding order-sensitive count
# windows, and watermark stepping on the chained joinW. These tests drive
# the fixed lowerings through MANY micro-batches over deliberately
# out-of-order file staging and assert batch parity — turning driver
# environment variance into a local regression gate (VERDICT r05 task 4).


def _write_ordered_files(spark, dfs, base_dir):
    RT.stage_ordered_files(dfs, base_dir)


def _barrier_df(ev, ts_val):
    """One synthetic watermark-barrier event (sentinel ids, fabricated
    timestamp) shaped like ``ev`` — the replay's final-watermark push."""
    special = {
        "event_id": F.lit(-1).cast("long"),
        "user_id": F.lit(-1).cast("long"),
        "event_type": F.lit("__barrier__"),
        "ts": F.lit(ts_val),
    }
    return ev.limit(1).select(
        *[
            special.get(f.name, F.lit(None).cast(f.dataType)).alias(f.name)
            for f in ev.schema.fields
        ]
    )


@pytest.fixture(scope="module")
def ooo_staged(spark, sf_dir, tmp_path_factory):
    """Events split into three contiguous (ts, event_id) ranges staged
    OUT OF ORDER (middle, early, late) plus a far-future barrier file —
    with maxFilesPerTrigger=1 this replays as 4 data micro-batches whose
    cross-batch arrival order disagrees with event-time order."""
    import datetime as dt

    from pyspark.sql import Window

    from striot_spark.functions.analytics import cents

    ev = load_table(spark, sf_dir, "events").withColumn(
        "cents", cents(F.col("value"))
    ).drop("props")
    n = ev.count()
    w = Window.orderBy("ts", "event_id")
    evr = ev.withColumn("rn", F.row_number().over(w))
    third = n // 3
    a = evr.filter(F.col("rn") <= third).drop("rn")
    b = evr.filter(
        (F.col("rn") > third) & (F.col("rn") <= 2 * third)
    ).drop("rn")
    c = evr.filter(F.col("rn") > 2 * third).drop("rn")
    mx = ev.agg(F.max("ts")).first()[0]
    # delay must exceed the staging's disorder (the whole data span);
    # the barrier lands one hour past max+delay so the final watermark
    # is max_real + 1h — every real event finalizes
    delay = dt.timedelta(days=365)
    barrier = _barrier_df(a, mx + delay + dt.timedelta(hours=1))
    out = str(tmp_path_factory.mktemp("ooo_stage") / "data")
    _write_ordered_files(spark, [b, a, c, barrier], out)
    return out, ev, "365 days"


def test_chop_count_stream_order_robust_multi_batch(spark, ooo_staged, ckpt):
    src, ev, delay = ooo_staged
    schema = spark.read.parquet(src).schema
    sdf = RT.file_stream(spark, src, schema, max_files_per_trigger=1)
    out = RT.chop_count_stream(
        sdf,
        n=5,
        value_col="cents",
        agg=lambda vs: int(sum(vs)),
        key=["user_id"],
        time_col="ts",
        out_field="sum_c",
        out_type="bigint",
        tiebreak="event_id",
        buf_type="bigint",
        order_robust=True,
        watermark_delay=delay,
    )
    got = RT.run_available_now(
        out, "chop_ooo", ckpt, mode="append", expect_data_batches=4
    )
    stream_rows = sorted(
        (r["user_id"], r["window_ordinal"], r["ts"], r["sum_c"])
        for r in got.collect()
    )
    pdf = ev.select("user_id", "event_id", "ts", "cents").toPandas()
    pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
    expected = []
    for uid, g in pdf.groupby("user_id", sort=False):
        vals, ts = g["cents"].tolist(), g["ts"].tolist()
        for k in range(len(vals) // 5):
            expected.append(
                (uid, k, ts[5 * k + 4], int(sum(vals[5 * k : 5 * k + 5])))
            )
    assert stream_rows == sorted(expected)
    assert len(stream_rows) > 0


def test_sliding_count_stream_order_robust_multi_batch(
    spark, ooo_staged, ckpt
):
    src, ev, delay = ooo_staged
    schema = spark.read.parquet(src).schema
    sdf = RT.file_stream(spark, src, schema, max_files_per_trigger=1)
    out = RT.sliding_count_stream(
        sdf,
        n=3,
        value_col="cents",
        agg=lambda vs: float(sum(vs)),
        key=["user_id"],
        time_col="ts",
        out_field="s3",
        out_type="double",
        tiebreak="event_id",
        order_robust=True,
        watermark_delay=delay,
    )
    got = RT.run_available_now(
        out, "slide_ooo", ckpt, mode="append", expect_data_batches=4
    )
    stream_rows = sorted(
        (r["user_id"], r["ts"], r["s3"])
        for r in got.collect()
        if r["user_id"] != -1
    )
    pdf = ev.select("user_id", "event_id", "ts", "cents").toPandas()
    pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
    expected = []
    for uid, g in pdf.groupby("user_id", sort=False):
        vals, ts = g["cents"].tolist(), g["ts"].tolist()
        for i in range(len(vals)):
            expected.append(
                (uid, ts[i], float(sum(vals[max(0, i - 2) : i + 1])))
            )
    assert stream_rows == sorted(expected)
    assert len(stream_rows) > 0


def test_join_w_stream_multi_batch_closed_set(
    spark, sf_dir, tmp_path_factory, ckpt
):
    """joinW replayed one file per micro-batch over TIME-ORDERED file
    ranges (cross-file disorder zero, so the 1-minute watermark can
    never drop data): the drained pairs restricted to
    closed-at-final-watermark must equal the batch-computed closed set
    — the q93 emission rule holding under progressive watermark
    stepping, not just the single-batch replay."""
    from pyspark.sql import Window

    from striot_spark.functions.analytics import cents
    from striot_spark.queries.composite import _q93_closed_batch

    ev = load_table(spark, sf_dir, "events").drop("props")
    n = ev.count()
    w = Window.orderBy("ts", "event_id")
    evr = ev.withColumn("rn", F.row_number().over(w))
    third = n // 3
    parts = [
        evr.filter(F.col("rn") <= third).drop("rn"),
        evr.filter((F.col("rn") > third) & (F.col("rn") <= 2 * third)).drop(
            "rn"
        ),
        evr.filter(F.col("rn") > 2 * third).drop("rn"),
    ]
    src = str(tmp_path_factory.mktemp("joinw_mb") / "data")
    _write_ordered_files(spark, parts, src)
    schema = spark.read.parquet(src).schema
    purchases = RT.file_stream(
        spark, src, schema, max_files_per_trigger=1
    ).filter(F.col("event_type") == "purchase")
    clicks = RT.file_stream(
        spark, src, schema, max_files_per_trigger=1
    ).filter(F.col("event_type") == "click")
    out = RT.join_w_stream(
        purchases,
        clicks,
        "ts",
        "ts",
        86400,
        129600,
        {"revenue_c": F.sum(cents(F.col("value")))},
        {"n_clicks": F.count(F.lit(1))},
        watermark="1 minute",
    )
    got = RT.run_available_now(
        out, "joinw_mb", ckpt, mode="append", expect_data_batches=3
    )
    wm_us = (
        ev.agg(
            F.least(
                F.max(
                    F.when(
                        F.col("event_type") == "purchase",
                        F.unix_micros(F.col("ts")),
                    )
                ),
                F.max(
                    F.when(
                        F.col("event_type") == "click",
                        F.unix_micros(F.col("ts")),
                    )
                ),
            )
        ).first()[0]
        - 60_000_000
    )
    stream_rows = sorted(
        tuple(r)
        for r in got.filter(
            F.greatest(
                F.col("left_window") + 86400, F.col("right_window") + 129600
            )
            * 1_000_000
            <= F.lit(wm_us)
        ).collect()
    )
    expected = sorted(tuple(r) for r in _q93_closed_batch(ev, wm_us).collect())
    assert stream_rows == expected
    assert len(stream_rows) > 0


def test_enrich_stream_matches_batch_join_multi_batch(
    spark, ooo_staged, ckpt
):
    """Stream-static enrichment is stateless, so even an adversarial
    out-of-order multi-batch replay must reproduce the batch join
    row-for-row (no watermark, no late-drops by construction)."""
    src, ev, _delay = ooo_staged
    dim = spark.createDataFrame(
        [(i, f"seg{i % 3}") for i in range(0, 2000, 2)],  # half match
        "user_id long, segment string",
    )
    schema = spark.read.parquet(src).schema
    sdf = RT.file_stream(spark, src, schema, max_files_per_trigger=1)
    joined = RT.enrich_stream(sdf, dim, on="user_id", how="left")
    got = RT.run_available_now(joined, "enrich_mb", ckpt, mode="append")
    stream_rows = sorted(
        (r["event_id"], r["segment"]) for r in got.collect()
        if r["user_id"] != -1  # drop the staging's barrier sentinel
    )
    expected = sorted(
        (r["event_id"], r["segment"])
        for r in ev.join(F.broadcast(dim), "user_id", "left").collect()
    )
    assert stream_rows == expected and len(stream_rows) > 0


def test_enrich_stream_rejects_non_stream_preserving_joins(spark):
    dim = spark.createDataFrame([(1, "a")], "user_id long, seg string")
    sdf = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="not stream-side-preserving"):
        RT.enrich_stream(sdf, dim, on="user_id", how="full_outer")


def test_upsert_snapshot_sink_matches_batch_compaction(
    spark, ooo_staged, ckpt, tmp_path
):
    """Streaming latest-wins upsert over an adversarial out-of-order
    multi-batch replay must converge to exactly the batch compaction
    (per-key max by (ts, event_id)) — batch boundaries and arrival
    order must not matter. A same-checkpoint resume leaves the snapshot
    identical; a fresh checkpoint against it refuses (run-id guard)."""
    from striot_spark.functions.analytics import latest_snapshot

    src, ev, _delay = ooo_staged
    schema = spark.read.parquet(src).schema
    sdf = RT.file_stream(spark, src, schema, max_files_per_trigger=1)
    snap_dir = str(tmp_path / "snap")
    kw = dict(
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        payload_cols=["event_type", "cents"],
    )

    def snapshot():
        return sorted(
            (r["user_id"], r["event_id"], r["event_type"], r["cents"])
            for r in RT.read_snapshot(spark, snap_dir).collect()
            if r["user_id"] != -1  # barrier sentinel
        )

    RT.upsert_snapshot_sink(sdf, snap_dir, ckpt, **kw).awaitTermination()
    got = snapshot()
    expect = sorted(
        (r["user_id"], r["event_id"], r["event_type"], r["cents"])
        for r in latest_snapshot(
            ev, ["user_id"], ["ts", "event_id"],
            ["event_id", "event_type", "cents"],
        ).collect()
    )
    assert got == expect and len(got) > 0
    # resuming with the SAME checkpoint dir re-offers nothing new; any
    # replayed batch id is skipped and the snapshot stays identical
    RT.upsert_snapshot_sink(sdf, snap_dir, ckpt, **kw).awaitTermination()
    assert snapshot() == expect
    # a FRESH checkpoint dir restarts batch ids at 0, so the run-id
    # guard must refuse the existing snapshot
    q = RT.upsert_snapshot_sink(sdf, snap_dir, str(tmp_path / "ck2"), **kw)
    with pytest.raises(Exception, match="different run"):
        q.awaitTermination()


def test_streaming_ingest_quality_pipeline_composes(
    spark, sf_dir, tmp_path, ckpt
):
    """The round-6 stateless gates (blocklist, integer linear quality
    filter) compose onto an ingest stream unchanged — they are pure
    Column predicates, so the streaming survivors equal the batch
    filter exactly; the downstream fingerprint dedup then keeps one doc
    per SimHash of that filtered set (arrival-order picks which)."""
    from striot_spark.functions.dedup import simhash
    from striot_spark.functions.text import (
        blocklist_filter,
        linear_quality_filter,
    )
    from striot_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    src = tmp_path / "q_pipe_src"
    docs.repartition(2).write.parquet(str(src))
    sdf = RT.file_stream(spark, str(src), docs.schema).withColumn(
        "ts", F.lit("2024-01-01").cast("timestamp")
    )
    gated = linear_quality_filter(
        blocklist_filter(sdf, "text", ("vector", "hash")),
        "text",
        "n_chars",
        threshold=600,
    )
    deduped = RT.fingerprint_dedup_stream(gated, "text", "ts")
    got = RT.run_available_now(deduped, "q_pipe_out", ckpt, mode="append")
    got_ids = [r["doc_id"] for r in got.collect()]

    batch_gated = linear_quality_filter(
        blocklist_filter(docs, "text", ("vector", "hash")),
        "text",
        "n_chars",
        threshold=600,
    )
    batch_ids = {r["doc_id"] for r in batch_gated.collect()}
    assert set(got_ids) <= batch_ids  # gates identical stream vs batch
    expected_fps = {
        r["simhash"] for r in simhash(batch_gated, "doc_id", "text").collect()
    }
    survivor_fps = {
        r["simhash"]
        for r in simhash(
            docs.filter(F.col("doc_id").isin(got_ids)), "doc_id", "text"
        ).collect()
    }
    assert survivor_fps == expected_fps
    assert len(got_ids) == len(set(got_ids)) and len(got_ids) > 0


def test_interval_join_stream_multi_batch_ooo(spark, ooo_staged, ckpt):
    """Stream-stream interval join under the adversarial 4-batch
    out-of-order replay: with a watermark exceeding the disorder, no
    state is evicted early and the drained result must equal the batch
    interval join exactly — arrival order across micro-batches must
    not change pairing."""
    src, ev, delay = ooo_staged
    schema = spark.read.parquet(src).schema

    def sides(sdf):
        clicks = sdf.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        buys = sdf.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("b_user"),
            F.col("ts").alias("purchase_ts"),
        )
        return clicks, buys

    lc = RT.file_stream(spark, src, schema, max_files_per_trigger=1)
    rc = RT.file_stream(spark, src, schema, max_files_per_trigger=1)
    clicks, buys = sides(lc)[0], sides(rc)[1]
    buys = buys.withColumnRenamed("b_user", "user_id")
    out = RT.interval_join_stream(
        clicks, buys, ["user_id"], "click_ts", "purchase_ts",
        0.0, 3600.0, watermark=delay,
    ).select("click_id", "purchase_id", "user_id")
    got = {
        (r["click_id"], r["purchase_id"])
        for r in RT.run_available_now(out, "ij_ooo", ckpt).collect()
    }
    bc, bb = sides(ev)
    bb = bb.withColumnRenamed("b_user", "user_id")
    cond = (
        (bc["user_id"] == bb["user_id"])
        & (bb["purchase_ts"] >= bc["click_ts"])
        & (
            bb["purchase_ts"]
            <= bc["click_ts"] + F.expr("INTERVAL 3600 SECOND")
        )
    )
    expected = {
        (r["click_id"], r["purchase_id"])
        for r in bc.join(bb, cond).select("click_id", "purchase_id").collect()
    }
    assert got == expected
    assert len(got) > 0


def test_join_e_stream_multi_batch_ooo(spark, ooo_staged, ckpt):
    """Windowed theta join (joinE) under the adversarial 4-batch
    replay: window-bucketed inner join state must pair rows across
    micro-batches identically to the batch lowering."""
    src, ev, delay = ooo_staged
    schema = spark.read.parquet(src).schema
    purchases = RT.file_stream(
        spark, src, schema, max_files_per_trigger=1
    ).filter(F.col("event_type") == "purchase")
    errors = RT.file_stream(
        spark, src, schema, max_files_per_trigger=1
    ).filter(F.col("event_type") == "error")
    out = RT.join_e_stream(
        purchases, errors, "ts", 3600,
        theta=F.col("value_l") > F.col("value_r"),
        watermark=delay,
    ).select("window_id", "event_id_l", "event_id_r")
    got = {
        (r["window_id"], r["event_id_l"], r["event_id_r"])
        for r in RT.run_available_now(out, "je_ooo", ckpt).collect()
    }
    p = ev.filter(F.col("event_type") == "purchase").select(
        (F.col("ts").cast("long") - F.col("ts").cast("long") % 3600).alias(
            "window_id"
        ),
        F.col("event_id").alias("pid"),
        F.col("value").alias("pv"),
    )
    e = ev.filter(F.col("event_type") == "error").select(
        (F.col("ts").cast("long") - F.col("ts").cast("long") % 3600).alias(
            "window_id"
        ),
        F.col("event_id").alias("eid"),
        F.col("value").alias("ev_v"),
    )
    expected = {
        (r["window_id"], r["pid"], r["eid"])
        for r in p.join(e, "window_id")
        .filter(F.col("pv") > F.col("ev_v"))
        .collect()
    }
    assert got == expected
    assert len(got) > 0


def test_zip_join_stream_multi_batch_buffers(spark, sf_dir, ckpt, tmp_path):
    """Positional zip across IN-ORDER micro-batches: staging the
    (ts, event_id)-ordered thirds as separate files with
    maxFilesPerTrigger=1 makes sides imbalance within each batch, so
    pairing must drain the cross-batch pend buffers — result must
    still equal the batch row_number zip exactly."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").drop("props")
    w = Window.orderBy("ts", "event_id")
    evr = ev.withColumn("rn", F.row_number().over(w))
    n = ev.count()
    third = n // 3
    parts = [
        evr.filter(F.col("rn") <= third).drop("rn"),
        evr.filter(
            (F.col("rn") > third) & (F.col("rn") <= 2 * third)
        ).drop("rn"),
        evr.filter(F.col("rn") > 2 * third).drop("rn"),
    ]
    src = str(tmp_path / "zip_stage")
    RT.stage_ordered_files(parts, src)
    schema = spark.read.parquet(src).schema
    clicks = RT.file_stream(
        spark, src, schema, max_files_per_trigger=1
    ).filter(F.col("event_type") == "click")
    views = RT.file_stream(
        spark, src, schema, max_files_per_trigger=1
    ).filter(F.col("event_type") == "view")
    out = RT.zip_join_stream(clicks, views, "ts", "event_id", "value")
    got = {
        (r["zip_pos"], r["l_id"], r["r_id"])
        for r in RT.run_available_now(
            out, "zip_mb", ckpt, expect_data_batches=3
        ).collect()
    }
    c = ev.filter(F.col("event_type") == "click").withColumn(
        "zip_pos", F.row_number().over(w) - 1
    )
    v = ev.filter(F.col("event_type") == "view").withColumn(
        "zip_pos", F.row_number().over(w) - 1
    )
    expected = {
        (r["zip_pos"], r["l_id"], r["r_id"])
        for r in c.select(
            "zip_pos", F.col("event_id").alias("l_id")
        )
        .join(
            v.select("zip_pos", F.col("event_id").alias("r_id")),
            "zip_pos",
        )
        .collect()
    }
    assert got == expected
    assert len(got) > 0


def test_zip_join_stream_empty_pend_roundtrip(spark, ckpt, tmp_path):
    """A batch that pairs BOTH sides completely leaves empty pend
    arrays in state — which can round-trip as None; the next batch
    must still process (regression guard for the _pend_arrays None
    contract applied to zip_join_stream)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)

    def ev(i, typ):
        return (base + dt.timedelta(seconds=i), i, typ, float(i))

    schema = "ts timestamp, event_id long, event_type string, value double"
    b1 = spark.createDataFrame(
        [ev(1, "click"), ev(2, "view"), ev(3, "click"), ev(4, "view")],
        schema,
    )  # balanced: 2/2 -> pend empties
    b2 = spark.createDataFrame(
        [ev(5, "view"), ev(6, "view"), ev(7, "click")], schema
    )  # right ahead by one
    b3 = spark.createDataFrame([ev(8, "click")], schema)  # drains pend
    src = str(tmp_path / "zipsrc")
    RT.stage_ordered_files([b1, b2, b3], src)
    sch = spark.read.parquet(src).schema
    clicks = RT.file_stream(
        spark, src, sch, max_files_per_trigger=1
    ).filter(F.col("event_type") == "click")
    views = RT.file_stream(
        spark, src, sch, max_files_per_trigger=1
    ).filter(F.col("event_type") == "view")
    out = RT.zip_join_stream(clicks, views, "ts", "event_id", "value")
    got = sorted(
        (r["zip_pos"], r["l_id"], r["r_id"])
        for r in RT.run_available_now(
            out, "zip_ep", ckpt, expect_data_batches=3
        ).collect()
    )
    # clicks in order: 1,3,7,8 ; views in order: 2,4,5,6
    assert got == [(0, 1, 2), (1, 3, 4), (2, 7, 5), (3, 8, 6)]


def test_incremental_agg_sink_matches_batch_totals(
    spark, ooo_staged, ckpt, tmp_path
):
    """The additive materialized view over the adversarial out-of-order
    multi-batch replay must converge to exactly the batch groupBy
    totals, the pointer must record the last applied batch id + run id,
    a same-run replay must be a no-op (no double counting), and a
    fresh-checkpoint restart against the same snapshot must REFUSE
    (batch ids restart at 0, so the bare <= last guard would silently
    drop every batch — the r07 ADVICE hole)."""
    import os

    src, ev, _delay = ooo_staged
    schema = spark.read.parquet(src).schema
    sdf = RT.file_stream(spark, src, schema, max_files_per_trigger=1)
    snap_dir = str(tmp_path / "mv")
    q = RT.incremental_agg_sink(
        sdf, snap_dir, ckpt, key_cols=["user_id"], sum_cols=["cents"]
    )
    q.awaitTermination()
    got = sorted(
        (r["user_id"], r["n_rows"], r["sum_cents"])
        for r in RT.read_snapshot(spark, snap_dir).collect()
        if r["user_id"] != -1
    )
    expect = sorted(
        (r["user_id"], r["n_rows"], r["sum_cents"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("sum_cents"),
        )
        .collect()
    )
    assert got == expect and len(got) > 0
    man = json.load(open(os.path.join(snap_dir, "_MANIFEST")))
    assert man["last_batch"] >= 2  # multi-batch replay ran
    assert len(man["run_id"]) == 8 and man["parts"] == 16
    assert all(0 <= int(k) < 16 for k in man["map"])
    # resuming with the SAME checkpoint dir is the supported replay
    # path: the engine re-offers nothing new, any replayed batch id is
    # <= last under the SAME run id, and totals stay identical
    q2 = RT.incremental_agg_sink(
        sdf, snap_dir, ckpt, key_cols=["user_id"], sum_cols=["cents"]
    )
    q2.awaitTermination()
    again = sorted(
        (r["user_id"], r["n_rows"], r["sum_cents"])
        for r in RT.read_snapshot(spark, snap_dir).collect()
        if r["user_id"] != -1
    )
    assert again == expect
    # a FRESH checkpoint dir against the same snapshot restarts batch
    # ids at 0; the replay guard would misread real data as replays and
    # silently drop it, so the run-id guard must refuse instead
    q3 = RT.incremental_agg_sink(
        sdf,
        snap_dir,
        str(tmp_path / "ck2"),
        key_cols=["user_id"],
        sum_cols=["cents"],
    )
    with pytest.raises(Exception, match="different run"):
        q3.awaitTermination()


def test_partitioned_state_guards(tmp_path):
    """Unit-level guards of the shared partitioned snapshot state: a
    replayed batch id skips, a run-id mismatch refuses, a
    partition-count change refuses (keys would re-hash to different
    partitions), and a path holding legacy whole-snapshot state
    refuses rather than being shadowed by a manifest. Tested directly
    because a restarted stream with a drained checkpoint runs no
    micro-batch at all, so these guards can't be provoked through
    foreachBatch without new data."""
    import os

    from striot_spark.streaming.runtime import _PartitionedState

    path = str(tmp_path / "st")
    os.makedirs(path)
    with open(os.path.join(path, "_MANIFEST"), "w") as f:
        json.dump(
            {
                "version": 1,
                "parts": 16,
                "run_id": "aaaaaaaa",
                "last_batch": 3,
                "map": {},
            },
            f,
        )
    st = _PartitionedState(path, ["k"], 16, "aaaaaaaa")
    _, skip = st.load(3)
    assert skip  # replayed batch (<= last): already durable
    _, skip = st.load(4)
    assert not skip
    with pytest.raises(ValueError, match="different run"):
        _PartitionedState(path, ["k"], 16, "bbbbbbbb").load(4)
    with pytest.raises(ValueError, match="state_parts"):
        _PartitionedState(path, ["k"], 8, "aaaaaaaa").load(4)
    with pytest.raises(ValueError, match="state_parts"):
        _PartitionedState(path, ["k"], 0, "aaaaaaaa")
    legacy = str(tmp_path / "leg")
    os.makedirs(legacy)
    with open(os.path.join(legacy, "_CURRENT"), "w") as f:
        f.write("a")
    with pytest.raises(ValueError, match="legacy whole-snapshot"):
        _PartitionedState(legacy, ["k"], 16, "aaaaaaaa").load(0)


@pytest.mark.parametrize(
    "bad", [{"state_parts": 0}, {"state_parts": -1}, {"gc_grace_batches": -2}],
    ids=["parts0", "parts-1", "grace-2"],
)
@pytest.mark.parametrize("sink", ["upsert", "incremental", "near_dup"])
def test_snapshot_sinks_reject_bad_state_args_at_build(
    spark, tmp_path, sink, bad
):
    """A state_parts below 1 or a gc_grace_batches below -1 raises
    ValueError when the sink is built: no query starts, rather than one
    that fails at its first micro-batch."""
    from striot_spark.functions.dedup import near_dup_filter_stream

    sdf = spark.readStream.format("rate").load()
    snap, ck = str(tmp_path / "snap"), str(tmp_path / "ck")
    build = {
        "upsert": lambda: RT.upsert_snapshot_sink(
            sdf, snap, ck, key_cols=["value"], order_cols=["timestamp"],
            payload_cols=[], **bad,
        ),
        "incremental": lambda: RT.incremental_agg_sink(
            sdf, snap, ck, key_cols=["value"], sum_cols=[], **bad
        ),
        "near_dup": lambda: near_dup_filter_stream(
            sdf, str(tmp_path / "out"), snap, ck, "value", "text",
            ["value"], **bad,
        ),
    }[sink]
    before = {q.id for q in spark.streams.active}
    try:
        with pytest.raises(ValueError, match="state_parts|gc_grace_batches"):
            build()
        assert {q.id for q in spark.streams.active} == before
    finally:
        for q in spark.streams.active:
            if q.id not in before:
                q.stop()


def test_partitioned_state_crash_replay_recovery(spark, tmp_path):
    """The crash discipline, driven through the state primitive
    directly: a batch that dies AFTER writing its generation dir but
    BEFORE the manifest flip leaves the previous state fully visible
    (readers resolve the manifest, so the orphan dir is dead bytes),
    and the replayed batch idempotently overwrites that same dir and
    commits — totals identical to a crash-free run."""
    import os

    from striot_spark.streaming.runtime import (
        _PART_COL,
        _PartitionedState,
        read_snapshot,
    )

    path = str(tmp_path / "st")
    st = _PartitionedState(path, ["k"], 4, "deadbeef")

    def delta(rows):
        df = spark.createDataFrame(rows, "k long, total long")
        return df.withColumn(_PART_COL, st.part_expr())

    # batch 0 commits cleanly
    man, skip = st.load(0)
    assert man is None and not skip
    d0 = delta([(1, 10), (2, 20)])
    st.commit(d0, man, st.touched(d0), 0)
    before = sorted(
        (r["k"], r["total"]) for r in read_snapshot(spark, path).collect()
    )
    assert before == [(1, 10), (2, 20)]
    # batch 1 writes its generation dir, then "crashes" pre-flip
    d1 = delta([(1, 99)])
    (
        d1.repartition(1, _PART_COL)
        .write.partitionBy(_PART_COL)
        .mode("overwrite")
        .parquet(os.path.join(path, "g000000001"))
    )
    # the orphan is invisible: reads still resolve batch 0's state
    assert sorted(
        (r["k"], r["total"]) for r in read_snapshot(spark, path).collect()
    ) == before
    # replay of batch 1: not a skip (manifest never advanced), and the
    # commit overwrites the orphan dir rather than duplicating it
    man, skip = st.load(1)
    assert man is not None and not skip and man["last_batch"] == 0
    touched = st.touched(d1)
    prev = st.read_parts(spark, man, touched)
    merged = (
        prev.unionByName(d1.drop(_PART_COL))
        .groupBy("k")
        .agg(F.sum("total").alias("total"))
        .withColumn(_PART_COL, st.part_expr())
    )
    st.commit(merged, man, touched, 1)
    after = sorted(
        (r["k"], r["total"]) for r in read_snapshot(spark, path).collect()
    )
    assert after == [(1, 109), (2, 20)]
    # and a second replay of the SAME batch id is now a skip
    _, skip = st.load(1)
    assert skip


def test_partitioned_snapshot_rewrites_only_touched_partitions(
    spark, tmp_path
):
    """The VERDICT r8 scale bar for the snapshot-sink family: a batch
    touching 1 of N hash partitions must rewrite exactly 1 — per-batch
    cost O(batch + touched-state), not O(total state). Also pins the
    GC invariant (each partition lives in exactly one generation dir;
    superseded copies are deleted) and that the manifest read equals
    the batch totals."""
    import os

    parts = 8
    wide = [(k, 10) for k in range(40)]  # batch 0: keys across all parts
    one = [(7, 5), (7, 6)]  # batch 1: a single key -> a single partition
    df = spark.createDataFrame(wide, "user_id long, cents long")
    df2 = spark.createDataFrame(one, "user_id long, cents long")
    src = str(tmp_path / "src")
    RT.stage_ordered_files([df, df2], src, order_cols=["user_id"])
    schema = spark.read.parquet(src).schema
    sdf = RT.file_stream(spark, src, schema, max_files_per_trigger=1)
    snap_dir = str(tmp_path / "mv")
    q = RT.incremental_agg_sink(
        sdf, snap_dir, str(tmp_path / "ck"),
        key_cols=["user_id"], sum_cols=["cents"], state_parts=parts,
    )
    q.awaitTermination()
    man = json.load(open(os.path.join(snap_dir, "_MANIFEST")))
    last_gen = f"g{man['last_batch']:09d}"
    # the single-key batch rewrote exactly ONE partition
    rewritten = [k for k, g in man["map"].items() if g == last_gen]
    assert len(rewritten) == 1
    # ... and the other partitions still live in their original gen
    assert len(man["map"]) > 1
    # GC invariant: every partition exists in exactly one gen dir
    on_disk = {}
    for gen in os.listdir(snap_dir):
        if not gen.startswith("g"):
            continue
        for d in os.listdir(os.path.join(snap_dir, gen)):
            if d.startswith("__state_part="):
                on_disk.setdefault(d, []).append(gen)
    assert all(len(g) == 1 for g in on_disk.values())
    assert len(on_disk) == len(man["map"])
    # the manifest read equals the batch totals
    got = sorted(
        (r["user_id"], r["n_rows"], r["sum_cents"])
        for r in RT.read_snapshot(spark, snap_dir).collect()
    )
    all_rows = spark.createDataFrame(
        wide + one, "user_id long, cents long"
    )
    expect = sorted(
        (r["user_id"], r["n_rows"], r["sum_cents"])
        for r in all_rows.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("sum_cents"),
        )
        .collect()
    )
    assert got == expect and len(got) == 40


def test_partitioned_state_gc_grace_defers_deletion(spark, tmp_path):
    """Shared-lake safety (VERDICT r9 task 5): with gc_grace_batches=1
    a superseded partition dir survives the commit that supersedes it
    (a reader holding the previous manifest can finish mid-read) and
    is deleted only once a FURTHER commit passes the grace horizon.
    The deferral ledger rides the manifest, so it survives restarts."""
    import os

    from striot_spark.streaming.runtime import (
        _PART_COL,
        _PartitionedState,
        read_snapshot,
    )

    path = str(tmp_path / "st")
    st = _PartitionedState(path, ["k"], 4, "deadbeef", gc_grace_batches=1)

    def commit(batch_id, rows):
        d = spark.createDataFrame(rows, "k long, total long").withColumn(
            _PART_COL, st.part_expr()
        )
        man, skip = st.load(batch_id)
        assert not skip
        touched = st.touched(d)
        prev = st.read_parts(spark, man, touched)
        merged = d if prev is None else (
            prev.unionByName(d.drop(_PART_COL))
            .groupBy("k")
            .agg(F.sum("total").alias("total"))
            .withColumn(_PART_COL, st.part_expr())
        )
        st.commit(merged, man, touched, batch_id)

    def gen_dirs():
        return sorted(
            g for g in os.listdir(path) if g.startswith("g")
        )

    commit(0, [(1, 10)])
    commit(1, [(1, 5)])  # supersedes g0's partition for key 1
    # grace: the superseded g0 dir is still on disk after commit 1
    assert gen_dirs() == ["g000000000", "g000000001"]
    man = json.load(open(os.path.join(path, "_MANIFEST")))
    assert man["pending_gc"] == [[1, "g000000000", 2]]
    commit(2, [(1, 1)])  # horizon passed: batch-1's deferral now due
    assert gen_dirs() == ["g000000001", "g000000002"]
    # crash-safety (ADVICE r10): the due g0 entry rides through commit
    # 2's manifest flip (deletion is post-flip — a crash in between
    # retries next commit) alongside commit 2's fresh deferral, and
    # leaves the ledger only once its dir is verifiably gone
    man = json.load(open(os.path.join(path, "_MANIFEST")))
    assert sorted(e[1] for e in man["pending_gc"]) == [
        "g000000000",
        "g000000001",
    ]
    commit(3, [(1, 2)])  # g0 dir verified gone -> entry leaves ledger
    man = json.load(open(os.path.join(path, "_MANIFEST")))
    assert sorted(e[1] for e in man["pending_gc"]) == [
        "g000000001",
        "g000000002",
    ]
    got = sorted(
        (r["k"], r["total"]) for r in read_snapshot(spark, path).collect()
    )
    assert got == [(1, 18)]


def test_partitioned_state_empty_batches(spark, tmp_path):
    """An empty micro-batch (touched == []) writes NO generation dir —
    the manifest still advances last_batch (replay guard) and records
    the data schema, so a stream whose first batches are all empty
    serves an EMPTY snapshot (legacy-writer parity) instead of
    raising, and later empty batches leave no never-GC'd litter."""
    import os

    from striot_spark.streaming.runtime import (
        _PART_COL,
        _PartitionedState,
        read_snapshot,
    )

    path = str(tmp_path / "st")
    st = _PartitionedState(path, ["k"], 4, "deadbeef")

    def empty_delta():
        return spark.createDataFrame([], "k long, total long").withColumn(
            _PART_COL, st.part_expr()
        )

    # batch 0 is empty: no gen dir, schema-bearing manifest, empty read
    man, skip = st.load(0)
    st.commit(empty_delta(), man, [], 0)
    assert [g for g in os.listdir(path) if g.startswith("g")] == []
    snap = read_snapshot(spark, path)
    assert snap.count() == 0 and snap.columns == ["k", "total"]
    _, skip = st.load(0)
    assert skip  # empty commit still advanced the replay guard
    # batch 1 has data
    d = spark.createDataFrame([(1, 10)], "k long, total long").withColumn(
        _PART_COL, st.part_expr()
    )
    man, _ = st.load(1)
    st.commit(d, man, st.touched(d), 1)
    # batch 2 empty again: state intact, no new gen dir
    man, _ = st.load(2)
    st.commit(empty_delta(), man, [], 2)
    assert [
        g for g in os.listdir(path) if g.startswith("g")
    ] == ["g000000001"]
    assert [
        (r["k"], r["total"]) for r in read_snapshot(spark, path).collect()
    ] == [(1, 10)]
    assert json.load(
        open(os.path.join(path, "_MANIFEST"))
    )["last_batch"] == 2


def test_near_dup_filter_stream_matches_batch(spark, tmp_path):
    """The online LSH near-dup ingest filter over an id-ordered 3-batch
    replay must keep EXACTLY the docs the batch near_dup_filter keeps
    (first-wins per band bucket == min-id per bucket), including dups
    that straddle batch boundaries; short docs (no shingles) always
    pass; and a fresh-checkpoint restart against the same band-owner
    state must refuse (run-id guard)."""
    import os

    from striot_spark.functions import dedup as D

    rows = [
        (0, "alpha beta gamma delta epsilon"),
        (1, "alpha beta gamma delta epsilon"),  # exact dup of 0
        (2, "totally different words here now"),
        (3, "x"),  # too short to shingle: always kept
        (4, "alpha beta gamma delta zeta"),  # near dup of 0 (next batch)
        (5, "unrelated content about other topics"),
        (6, "totally different words here now"),  # dup of 2, batch 2
        (7, "alpha beta gamma delta epsilon"),  # dup of 0, batch 3
        (8, "brand new final document text"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    batch_kept = sorted(
        r["doc_id"]
        for r in D.near_dup_filter(docs, "doc_id", "text").collect()
    )
    assert 0 in batch_kept and 1 not in batch_kept and 3 in batch_kept
    assert 7 not in batch_kept  # cross-batch dup must be caught

    src = str(tmp_path / "src")
    chunks = [
        docs.filter(F.col("doc_id") < 4),
        docs.filter((F.col("doc_id") >= 4) & (F.col("doc_id") < 7)),
        docs.filter(F.col("doc_id") >= 7),
    ]
    RT.stage_ordered_files(chunks, src, order_cols=["doc_id"])
    schema = spark.read.parquet(src).schema
    sdf = RT.file_stream(spark, src, schema, max_files_per_trigger=1)
    out, snap = str(tmp_path / "out"), str(tmp_path / "snap")
    os.makedirs(snap, exist_ok=True)
    q = D.near_dup_filter_stream(
        sdf, out, snap, str(tmp_path / "ck"), "doc_id", "text",
        ["doc_id"],
    )
    q.awaitTermination()
    stream_kept = sorted(
        r["doc_id"] for r in D.read_kept(spark, out).collect()
    )
    assert stream_kept == batch_kept
    man = json.load(open(os.path.join(snap, "_MANIFEST")))
    assert man["last_batch"] >= 2 and len(man["run_id"]) == 8
    assert man["parts"] == 16
    # fresh checkpoint against the same owner state must refuse
    q2 = D.near_dup_filter_stream(
        sdf, out, snap, str(tmp_path / "ck2"), "doc_id", "text",
        ["doc_id"],
    )
    with pytest.raises(Exception, match="different run"):
        q2.awaitTermination()


def test_drain_pins_and_restores_shuffle_partitions(
    spark, sf_dir, events_dir, ckpt
):
    """run_available_now pins spark.sql.shuffle.partitions for the
    drain (the state-commit fan-out fix: 200 default partitions x
    n_stateful_ops x n_batches tiny checkpoint writes made q93's drain
    commit-bound under the grading driver's plain session) and MUST
    restore the session value afterwards — a leaked override would
    silently reshape every later batch query in the sweep. Results are
    partition-count-invariant: the same aggregation drained at 3
    partitions equals the module-default drain."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    sdf = RT.file_stream(spark, events_dir, _events_schema(spark, sf_dir))
    agg = RT.window_agg_stream(
        sdf, "ts", "1 day", {"n": F.count(F.lit(1))}, watermark="1 minute"
    )
    got = RT.run_available_now(
        agg,
        "drain_pin_probe",
        ckpt,
        mode="complete",
        drain_shuffle_partitions=3,
    )
    rows3 = {
        (r["window_start"], r["n"])
        for r in got.select("window_start", "n").collect()
    }
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    batch_rows = {(r["window_start"], r["n"]) for r in batch.collect()}
    assert rows3 == batch_rows


def test_sink_drain_width_pins_batch_clone_and_restores(
    spark, sf_dir, events_dir, tmp_path
):
    """The foreachBatch snapshot sinks accept drain_shuffle_partitions
    (PERF §46): the pin must reach the micro-batch session CLONE (the
    plans foreachBatch bodies build run there — that is where the
    n_batches x 200-task scheduling term lives), the session value must
    be restored immediately after start(), and the snapshot contents
    must be partition-count-invariant vs an unpinned drain."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    schema = _events_schema(spark, sf_dir)
    seen_path = str(tmp_path / "mv_pinned")
    sdf = RT.file_stream(spark, events_dir, schema)

    with RT.drain_width(spark, 3):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
        q = RT.incremental_agg_sink(
            sdf,
            seen_path,
            str(tmp_path / "ck_pinned"),
            key_cols=["user_id"],
            sum_cols=["value"],
            drain_shuffle_partitions=None,  # outer pin already applies
        )
    # restored at context exit, while the query may still run
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    q.awaitTermination()
    pinned = {
        (r["user_id"], r["n_rows"], r["sum_value"])
        for r in RT.read_snapshot(spark, seen_path)
        .select("user_id", "n_rows", "sum_value")
        .collect()
    }

    sdf2 = RT.file_stream(spark, events_dir, schema)
    q2 = RT.incremental_agg_sink(
        sdf2,
        str(tmp_path / "mv_plain"),
        str(tmp_path / "ck_plain"),
        key_cols=["user_id"],
        sum_cols=["value"],
        drain_shuffle_partitions=8,  # the sweep-path form
    )
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    q2.awaitTermination()
    plain = {
        (r["user_id"], r["n_rows"], r["sum_value"])
        for r in RT.read_snapshot(spark, str(tmp_path / "mv_plain"))
        .select("user_id", "n_rows", "sum_value")
        .collect()
    }
    assert pinned == plain and len(pinned) > 0
