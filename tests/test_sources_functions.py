"""Tests for CSV sources (taxi F2 parity), broadcast lookup, and the
taxi Q1 pipeline on synthetic trips."""

from __future__ import annotations

import textwrap

import pytest

from pyspark.sql import functions as F

from striot_spark.functions.caching import broadcast_lookup
from striot_spark.sources.csv import (
    frequent_routes,
    load_taxi_csv,
    trips_to_journeys,
)

CSV_ROWS = textwrap.dedent(
    """\
    07290D3599E7A0D62097A346EFCC1FB5,E7750A37CAB07D0DFF0AF7E3573AC141,2013-01-01 00:00:00,2013-01-01 00:02:00,120,0.44,-73.956528,40.716976,-73.962440,40.715008,CRD,3.50,0.50,0.50,1.00,0.00,5.50
    07290D3599E7A0D62097A346EFCC1FB5,E7750A37CAB07D0DFF0AF7E3573AC141,2013-01-01 00:05:00,2013-01-01 00:35:00,1800,1.71,-73.956528,40.716976,-73.962440,40.715008,CSH,6.00,0.50,0.50,0.00,0.00,7.00
    22D70BF00EEB0ADC83BA8177BB861991,3FF2709163DE7036FCAA4E5A3324E4BF,2013-01-01 00:40:00,2013-01-01 01:10:00,1800,1.48,-200.0,40.715008,-73.962440,40.715008,CSH,6.50,0.50,0.50,0.00,0.00,7.50
    """
)


@pytest.fixture(scope="module")
def taxi_csv(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("taxi")
    p = d / "trips.csv"
    p.write_text(CSV_ROWS)
    return str(p)


def test_taxi_csv_parses_typed(spark, taxi_csv):
    df = load_taxi_csv(spark, taxi_csv)
    assert df.count() == 3
    row = df.orderBy("pickup_datetime").first()
    assert row["payment_type"] == "CRD"
    assert abs(row["fare_amount"] - 3.5) < 1e-6
    assert row["dropoff_datetime"].minute == 2


def test_journeys_filter_out_of_range_cells(spark, taxi_csv):
    """Row 3 has pickup longitude -200 → cell out of 1..300 range →
    dropped (inRange, Taxi.hs:107-113)."""
    j = trips_to_journeys(load_taxi_csv(spark, taxi_csv))
    assert j.count() == 2
    cell = j.first()["start_cell"]
    assert 1 <= cell["clat"] <= 300 and 1 <= cell["clon"] <= 300


def test_frequent_routes_dedups_unchanged_windows(spark, taxi_csv):
    """Both valid trips share one route; Q1 emits the first 30-min
    window's top-k and dedups the unchanged second window."""
    out = frequent_routes(load_taxi_csv(spark, taxi_csv), k=3).collect()
    assert len(out) == 1
    assert ">" in out[0]["top_routes"]


def test_broadcast_lookup_is_shuffle_free(spark, sf_dir):
    from striot_spark.sources.batch import load_table

    ev = load_table(spark, sf_dir, "events")
    out = broadcast_lookup(
        ev,
        {"click": 1, "view": 2, "purchase": 3},
        "event_type",
        "type_code",
        default=0,
    )
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()
    got = {
        (r["event_type"], r["type_code"])
        for r in out.select("event_type", "type_code").distinct().collect()
    }
    assert ("click", 1) in got and ("error", 0) in got


def test_bucketed_join_and_agg_have_zero_shuffles(spark, sf_dir, tmp_path):
    """Tables bucketed on the same key join bucket-to-bucket: the
    executed plan has NO Exchange; a groupBy on the bucket key is also
    shuffle-free. This is the write-once-shuffle-never layout for
    fact-fact joins at scale."""
    from striot_spark.sources.batch import load_table
    from striot_spark.sources.bucketed import read_bucketed, write_bucketed

    ev = load_table(spark, sf_dir, "events")
    write_bucketed(
        ev, "ev_bkt_a", str(tmp_path / "a"), ["user_id"], 8, ["user_id"]
    )
    write_bucketed(
        ev.select("user_id", "event_id", "value"),
        "ev_bkt_b",
        str(tmp_path / "b"),
        ["user_id"],
        8,
        ["user_id"],
    )
    try:
        a = read_bucketed(spark, "ev_bkt_a")
        b = read_bucketed(spark, "ev_bkt_b").withColumnRenamed(
            "event_id", "r_event_id"
        ).withColumnRenamed("value", "r_value")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        join_plan = (
            a.join(b, "user_id")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in join_plan
        agg_plan = (
            a.groupBy("user_id")
            .count()
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in agg_plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS ev_bkt_a")
        spark.sql("DROP TABLE IF EXISTS ev_bkt_b")


def test_csv_with_rejects_dead_letter_split(spark, tmp_path):
    """Malformed lines land in the rejects frame verbatim; good rows
    parse fully typed. Both sides come from one text scan (no cache
    workaround, no silent null-fill of bad fields)."""
    from striot_spark.sources.csv import TAXI_SCHEMA, csv_with_rejects

    good1 = (
        "m1,h1,2015-01-01 10:00:00,2015-01-01 10:10:00,600,2.5,"
        "-73.9,40.7,-73.95,40.75,CSH,10.0,0.5,0.5,1.0,0.0,12.0"
    )
    bad = "m2,h2,NOT_A_DATE,2015-01-01 10:10:00,oops,2.5"
    good2 = (
        "m3,h3,2015-01-01 11:00:00,2015-01-01 11:10:00,600,1.5,"
        "-73.9,40.7,-73.95,40.75,CRD,8.0,0.5,0.5,1.0,0.0,10.0"
    )
    (tmp_path / "t.csv").write_text(
        "\n".join([good1, bad, good2]) + "\n\n"  # trailing blank line
    )
    g, r = csv_with_rejects(
        spark, str(tmp_path), TAXI_SCHEMA, timestampFormat="yyyy-M-d HH:mm:ss"
    )
    assert sorted(row["medallion"] for row in g.collect()) == ["m1", "m3"]
    assert g.schema["trip_time_in_secs"].dataType.simpleString() == "int"
    rejects = {row["raw_line"] for row in r.collect()}
    # the malformed line AND the blank line (silent all-null trap) reject
    assert rejects == {bad, ""}


def test_partitioned_write_avoids_small_files(spark, sf_dir, tmp_path):
    """repartition-on-partition-cols before partitionBy: exactly ONE
    parquet file per partition value, vs tasks-x-values for the naive
    write on a multi-partition input."""
    import glob

    from striot_spark.sources.batch import load_table
    from striot_spark.sources.bucketed import write_partitioned

    docs = load_table(spark, sf_dir, "documents").repartition(8)

    naive = tmp_path / "naive"
    docs.write.partitionBy("lang").mode("overwrite").parquet(str(naive))
    naive_files = glob.glob(f"{naive}/lang=*/[!.]*.parquet")

    good = tmp_path / "good"
    write_partitioned(docs, str(good), ["lang"], sort_by=["doc_id"])
    good_files = glob.glob(f"{good}/lang=*/[!.]*.parquet")

    n_langs = docs.select("lang").distinct().count()
    assert len(good_files) == n_langs  # one file per value
    assert len(naive_files) > len(good_files)  # the explosion is real
    # content identical
    assert (
        spark.read.parquet(str(good)).count()
        == spark.read.parquet(str(naive)).count()
        == docs.count()
    )


def test_register_views_sql_front_door(spark, sf_dir):
    """spark.sql over the registered views matches the DataFrame API —
    same tables, same plans, either syntax."""
    from striot_spark.sources.batch import load_table, register_views

    register_views(spark, sf_dir)
    got = spark.sql(
        """
        SELECT l_returnflag, count(*) AS n
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT'
        GROUP BY l_returnflag
        """
    ).collect()
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    exp = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert {(r["l_returnflag"], r["n"]) for r in got} == {
        (r["l_returnflag"], r["n"]) for r in exp
    }


def test_jsonl_roundtrip_with_rejects(spark, sf_dir, tmp_path):
    """documents -> JSONL export -> dead-letter re-import: good rows
    roundtrip exactly; an injected malformed line and a type-violating
    line land verbatim in rejects."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from striot_spark.sources.batch import load_table
    from striot_spark.sources.csv import jsonl_with_rejects

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    exported = tmp_path / "export"
    docs.coalesce(1).write.mode("overwrite").json(str(exported))
    # inject one broken + one schema-violating line (into a FRESH dir —
    # appending to files Spark just wrote trips its cached file sizes)
    bad1 = '{"doc_id": not-json'
    bad2 = '{"doc_id": "NaN-ish", "text": 42, "lang": {}}'
    part = next(exported.glob("part-*.json"))
    out = tmp_path / "ingest"
    out.mkdir()
    (out / "data.jsonl").write_text(
        part.read_text() + bad1 + "\n" + bad2 + "\n\n"  # + blank line
    )
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
        ]
    )
    good, rejects = jsonl_with_rejects(spark, str(out), schema)
    n = docs.count()
    assert good.count() == n
    got = {r["raw_line"] for r in rejects.collect()}
    assert bad1 in got and bad2 in got and "" in got
    # typed roundtrip equality on a sample column set
    a = {(r["doc_id"], r["lang"]) for r in good.collect()}
    b = {(r["doc_id"], r["lang"]) for r in docs.collect()}
    assert a == b


def test_orc_round_trip_preserves_types_and_pushdown(spark, sf_dir, tmp_path):
    from striot_spark.sources import formats as FMT
    from striot_spark.sources.batch import load_table

    ev = load_table(spark, sf_dir, "events")
    p = str(tmp_path / "events_orc")
    FMT.write_orc(ev, p)
    back = FMT.read_orc(spark, p)
    assert back.schema == ev.schema  # ORC preserves Spark types exactly
    assert back.count() == ev.count()
    a = sorted(r["event_id"] for r in ev.filter("value > 900").collect())
    b = sorted(r["event_id"] for r in back.filter("value > 900").collect())
    assert a == b
    # the filter reaches the ORC scan (pushdown parity with parquet)
    plan = back.filter("value > 900")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "GreaterThan(value,900" in plan


def test_jsonl_round_trip_with_schema(spark, sf_dir, tmp_path):
    from striot_spark.sources import formats as FMT
    from striot_spark.sources.batch import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    p = str(tmp_path / "events_jsonl")
    FMT.write_jsonl(ev, p)
    back = FMT.read_jsonl(spark, p, ev.schema)
    assert back.schema == ev.schema
    got = sorted(
        (r["event_id"], r["ts"], r["value"]) for r in back.collect()
    )
    want = sorted(
        (r["event_id"], r["ts"], r["value"]) for r in ev.collect()
    )
    assert got == want  # timestamps + doubles survive the text hop


def test_load_table_schema_memo_matches_inference(spark, sf_dir):
    """The r17 schema memo is METADATA-only: the memoized-path frame
    must carry the identical schema (incl. the nanos->timestamp
    rebuild) and identical rows as a load that infers the schema again
    (made after the memo is cleared), and the memo must be keyed per
    (dir, table) — never rows or plans."""
    import os

    from striot_spark.sources import batch as B

    B._SCHEMA_MEMO.clear()
    B.load_table(spark, sf_dir, "events")
    memo_df = B.load_table(spark, sf_dir, "events")
    assert (os.path.abspath(sf_dir), "events") in B._SCHEMA_MEMO
    B._SCHEMA_MEMO.clear()
    fresh_df = B.load_table(spark, sf_dir, "events")
    assert memo_df.schema == fresh_df.schema
    a = memo_df.orderBy("event_id").limit(5).collect()
    b = fresh_df.orderBy("event_id").limit(5).collect()
    assert a == b
    # second memoized load reuses the stored StructType (same object)
    before = B._SCHEMA_MEMO[(os.path.abspath(sf_dir), "events")]
    B.load_table(spark, sf_dir, "events")
    assert B._SCHEMA_MEMO[(os.path.abspath(sf_dir), "events")] is before
