"""Flagship query: the taxi-Q1 ``frequentRoutes`` pipeline
(``examples/taxi/Taxi.hs:173-178``) re-expressed over the events table.

Reference chain: source → map(tripToJourney) → filter(in-range) →
30-min sliding window → topk-10 route counts → filterAcc dedup-on-change
→ sink.  Analog here: events → filter(valid) → tumbling day window →
top-3 event-type counts → ordered route list → keep only windows whose
list changed vs the previous window.  Exercises map, filter, time
window, windowed topk (pure DataFrame rank — no UDF), collect+sort, and
filterAcc-as-lag in one plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from striot_spark.tempdirs import staged, striot_mkdtemp
from striot_spark.functions.analytics import day_str, topk
from striot_spark.queries.registry import register
from striot_spark.sources.batch import load_table


_FREQUENT_ROUTES_SQL = """
    WITH counts AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               event_type, count(*) AS n
        FROM events WHERE value >= 0 GROUP BY 1, 2),
    ranked AS (
        SELECT day, event_type, n,
               rank() OVER (PARTITION BY day
                            ORDER BY n DESC, event_type ASC) AS rnk
        FROM counts),
    lists AS (
        SELECT day,
               string_agg(event_type, ',' ORDER BY rnk, event_type)
                   AS top_routes
        FROM ranked WHERE rnk <= 3 GROUP BY day)
    SELECT day, top_routes
    FROM (SELECT day, top_routes,
                 lag(top_routes) OVER (ORDER BY day) AS prev
          FROM lists) t
    WHERE prev IS NULL OR prev <> top_routes
    """


@register(
    "q30_frequent_routes",
    _FREQUENT_ROUTES_SQL,
    doc="flagship frequentRoutes (Taxi.hs:173-178): window → topk → "
    "dedup-on-change, all Catalyst-visible",
)
def q30_frequent_routes(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value") >= 0)
        .withColumn("day", day_str(F.col("ts")))
    )
    return routes_on_change(topk(ev, ["day"], "event_type", 3))


def routes_on_change(ranked: DataFrame) -> DataFrame:
    """The frequentRoutes finalize tier, shared by q30 and its stream
    twin: each day's (``rnk``, ``event_type``) rows become one ordered
    route list, and a day is kept only when its list differs from the
    previous day's (dedup-on-change as a ``lag``)."""
    lists = ranked.groupBy("day").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rnk", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            ",",
        ).alias("top_routes")
    )
    w = W.orderBy("day")
    return (
        lists.withColumn("prev", F.lag("top_routes").over(w))
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("top_routes")))
        .select("day", "top_routes")
    )


def frequent_routes_stream(
    spark: SparkSession,
    events_path: str,
    schema=None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Streaming lowering of the flagship frequentRoutes pipeline.

    Two tiers, mirroring how this runs on an unbounded 100 TB/day feed:

    1. **Streaming tier** (incremental, watermarked): per-(day-window,
       event_type) counts via Structured Streaming state. This is the
       only tier that sees fact-table volume; its state is one row per
       (window, type), and the watermark bounds it.
    2. **Finalize tier** (per emitted window): topk-3 rank, route-list
       assembly, and dedup-on-change run over the *aggregated* rows —
       cardinality = windows x event-types, trivially small at any input
       scale. In production this tail runs in foreachBatch or over the
       sink table; here it runs after an available-now drain.

    Reference chain: ``examples/taxi/Taxi.hs:173-178`` (source → map →
    filter → window → topk → dedup-on-change → sink).
    """
    from striot_spark.streaming import runtime as RT

    sdf = RT.file_stream(spark, events_path, schema)
    sdf = sdf.filter(F.col("value") >= 0)
    counts = RT.window_agg_stream(
        sdf,
        "ts",
        "1 day",
        {"n": F.count(F.lit(1))},
        key=("event_type",),
        watermark="1 minute",
    )
    drained = RT.run_available_now(
        counts,
        checkpoint_dir=checkpoint_dir,
        mode="complete",
        source_path=events_path,
    )
    ranked = (
        drained.withColumn("day", day_str(F.col("window_start")))
        .withColumn(
            "rnk",
            F.rank().over(
                W.partitionBy("day").orderBy(
                    F.col("n").desc(), F.col("event_type").asc()
                )
            ),
        )
        .filter(F.col("rnk") <= 3)
    )
    return routes_on_change(ranked)


# -- streaming flagship under the correctness gate ---------------------------

def _stage_events(spark: SparkSession, sf_dir: str) -> str:
    """Stage the events table as a streaming-source directory (the file
    source lists a directory; the testdata dir mixes all tables, and its
    TIMESTAMP(NANOS) encoding needs the load_table shim anyway). Staged
    once per sf_dir for the process lifetime.

    Written as EXACTLY ONE parquet file, globally sorted by
    (ts, event_id). The file source's offsets are file-granular — a
    single file can never split across micro-batches — so every replay
    over this staging is one data batch plus the final no-data
    (watermark-commit) batch IN ANY ENVIRONMENT, regardless of
    maxFilesPerTrigger defaults or file-listing order. That pins down
    the two things a multi-batch replay leaves environment-dependent:
    watermark late-drops (watermark stays at its floor through the
    single data batch, so nothing is ever late) and cross-batch arrival
    order (there is no second data batch). Round-6 fix for the driver's
    q93/q100 hash mismatches — see VERDICT r05 'What's wrong'. The sort
    additionally makes within-file order the oracle's global
    (ts, event_id) order, so even order-sensitive operators that do NOT
    re-sort see the canonical sequence."""

    def write(out: str):
        ev = load_table(spark, sf_dir, "events").repartition(1)
        ev = ev.sortWithinPartitions("ts", "event_id")
        ev.write.mode("overwrite").parquet(out)
        return ev.schema

    return staged(sf_dir, "striot_fr_stream_src_", write)


# barrier sentinel ids: real event_id/user_id are non-negative bigints
BARRIER_USER = -1

# the stream twins below register their batch twin's oracle string and,
# where the lowering is the same, run their batch twin's pipeline over a
# replayed source
from striot_spark.queries.composite import (  # noqa: E402
    DAILY_DISTINCT_ORACLE,
    INTERVAL_JOIN_ORACLE,
    JOINE_ORACLE,
)
from striot_spark.queries.datapipe import (  # noqa: E402
    CMS_ORACLE,
    SURPRISAL_ORACLE,
)
from striot_spark.queries.events_ops import (  # noqa: E402
    BURST_ORACLE,
    CHOPTIME_ORACLE,
    DEBOUNCE_ORACLE_CTE,
    EXP_HISTOGRAM_ORACLE,
    LATEST_SNAPSHOT_ORACLE,
    MERGE_ORACLE,
    OHLC_ORACLE,
    TABLE_DIGEST_ORACLE,
    TOKEN_COUNTS_ORACLE,
    ZIP_ORACLE,
    daily_ohlc,
    daily_value_stats,
    events_digest,
    hour_counts,
    merge_clicks_views,
    token_counts,
)


def _barrier_row(base: DataFrame, ts) -> DataFrame:
    """One fabricated event shaped like ``base``, at ``ts`` under its
    own key (``BARRIER_USER``): the row a replay stages last to push
    its final watermark past every real event."""
    special = {
        "event_id": F.lit(-1).cast("long"),
        "user_id": F.lit(BARRIER_USER).cast("long"),
        "event_type": F.lit("__barrier__"),
        "ts": F.lit(ts),
    }
    return base.limit(1).select(
        *[
            special.get(f.name, F.lit(None).cast(f.dataType)).alias(f.name)
            for f in base.schema.fields
        ]
    )


def _stage_events_barrier(
    spark: SparkSession, sf_dir: str, barrier_hours: int = 1
) -> str:
    """Like ``_stage_events`` (one globally sorted file ⇒ one data
    micro-batch in any environment), plus ONE synthetic watermark
    barrier row sorted last: a fabricated event one hour past the real
    maximum timestamp, under its own key (``BARRIER_USER``). Replays
    that finalize events strictly below the watermark (the
    ``order_robust`` count windows) need the final watermark to pass
    the last REAL event — with ``watermark_delay='0 seconds'`` the
    barrier pins it one hour beyond, so every real event finalizes
    while the barrier itself (== the watermark, its own key, a lone
    event that can never complete a window) stays silently pending.
    The oracle runs over the unmodified ``events`` table; the barrier
    is invisible in any output by construction."""
    import datetime as _dt

    def write(out: str):
        base = load_table(spark, sf_dir, "events")
        mx = base.agg(F.max("ts")).first()[0]
        barrier = _barrier_row(
            base, mx + _dt.timedelta(hours=int(barrier_hours))
        )
        ev = base.unionByName(barrier).repartition(1)
        ev = ev.sortWithinPartitions("ts", "event_id")
        ev.write.mode("overwrite").parquet(out)
        return ev.schema

    return staged(
        (sf_dir, int(barrier_hours)), "striot_fr_stream_srcb_", write
    )


def _stage_events_ooo(spark: SparkSession, sf_dir: str) -> str:
    """ADVERSARIAL replay staging: events split into three contiguous
    (ts, event_id) ranges written as separate mtime-ordered files in
    OUT-OF-ORDER sequence (middle, early, late), plus a far-future
    barrier file last. Replayed with ``maxFilesPerTrigger=1`` this is
    four data micro-batches whose cross-batch arrival order disagrees
    with event-time order — the exact failure shape behind the driver's
    r05 q100 hash red, now constructed ON PURPOSE so an oracle-gated
    query (q101) proves the order-robust lowering withstands it in the
    driver's own environment. The 365-day watermark delay exceeds any
    possible disorder (the whole data span); the barrier lands one hour
    past max+delay so the final watermark passes every real event.
    Test staging only (``split_thirds``).
    """
    import datetime as _dt

    from striot_spark.streaming.runtime import split_thirds, stage_ordered_files

    def write(out: str):
        base = load_table(spark, sf_dir, "events")
        a, b, c = split_thirds(base, ["ts", "event_id"])
        mx = base.agg(F.max("ts")).first()[0]
        barrier = _barrier_row(base, mx + _dt.timedelta(days=365, hours=1))
        stage_ordered_files([b, a, c, barrier], out)
        return base.schema

    return staged(sf_dir, "striot_fr_stream_srco_", write)


@register(
    "q65_frequent_routes_stream",
    _FREQUENT_ROUTES_SQL,
    doc="the flagship frequentRoutes pipeline lowered to Structured "
    "Streaming (file-replay source → watermarked incremental day/type "
    "counts → tiny finalize tier: topk, route list, dedup-on-change) and "
    "drained available-now — streaming parity holds against the SAME "
    "DuckDB oracle as batch q30 (Taxi.hs:173-178)",
)
def q65_frequent_routes_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return frequent_routes_stream(spark, _stage_events(spark, sf_dir))


from striot_spark.queries.events_ops import CENTS_SQL as _Q78_CENTS


@register(
    "q78_window_agg_stream",
    CHOPTIME_ORACLE,
    doc="streaming chopTime aggregation (watermarked tumbling window + "
    "incremental state) drained available-now — hash-checked against "
    "the SAME oracle as batch q05, and the same pipeline "
    "(events_ops.daily_value_stats): on a streaming frame "
    "Stream.window_agg lowers ChopTime to the native event-time window, "
    "so streaming-vs-batch window semantics parity is driver-visible, "
    "not only locally tested",
)
def q78_window_agg_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.core import Stream
    from striot_spark.streaming import runtime as RT

    src = _stage_events(spark, sf_dir)
    s = Stream(RT.file_stream(spark, src), time_col="ts")
    return RT.run_available_now(
        daily_value_stats(s), mode="complete", source_path=src
    )


from striot_spark.queries.events_ops import TS_FMT as _TS_FMT


@register(
    "q86_sessionize_stream",
    f"""
    WITH flags AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS ns
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
        SELECT user_id, ts,
               sum(ns) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
        FROM flags)
    SELECT user_id,
           strftime(min(ts), '{_TS_FMT}') AS session_start,
           count(*) AS n
    FROM s GROUP BY user_id, session_id
    """,
    doc="streaming sessionization (native session_window, watermarked "
    "state) drained available-now and hash-checked against the batch "
    "gaps-and-islands oracle (q12's semantics on user_id, "
    "session_start, n) — third driver-visible streaming parity row",
)
def q86_sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.analytics import ts_str
    from striot_spark.streaming import runtime as RT

    src = _stage_events(spark, sf_dir)
    sdf = RT.file_stream(spark, src)
    agg = RT.session_agg_stream(
        sdf,
        "ts",
        "30 minutes",
        {"n": F.count(F.lit(1))},
        key=["user_id"],
        watermark="1 minute",
    )
    drained = RT.run_available_now(agg, mode="complete", source_path=src)
    return drained.select(
        "user_id",
        ts_str(F.col("session_start")).alias("session_start"),
        "n",
    )


# -- taxi CSV dead-letter entry path under the correctness gate --------------

def _stage_taxi_csv(spark: SparkSession, sf_dir: str) -> str:
    """Render the events table as DEBS-taxi-format CSV text
    (``sources/csv.py`` F2 schema, 17 fields) with DETERMINISTIC damage
    injected: every event with ``event_id % 101 == 0`` becomes a
    wrong-arity line (``CORRUPT``), every remaining ``% 103 == 0`` a
    blank line — the two malformed-line shapes the dead-letter split
    must route to rejects. Because the damage rule is arithmetic on
    event_id, the DuckDB oracle can state the expected good/reject
    partition directly over the events view. Staged once per sf_dir."""

    from striot_spark.functions.analytics import cents

    def write(out: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        ts_s = F.date_format(F.col("ts"), "yyyy-MM-dd HH:mm:ss")
        fields = [
            F.concat(F.lit("M"), F.col("user_id").cast("string")),
            F.concat(F.lit("H"), F.col("user_id").cast("string")),
            ts_s,
            ts_s,
            F.pmod(F.col("event_id"), F.lit(3600))
            .cast("int")
            .cast("string"),
            F.lit("1.5"),
            # constant coords well inside the valid Q1 grid (cell math is
            # float32; boundary-dependent values would make in_range flaky)
            F.lit("-73.98"),
            F.lit("40.75"),
            F.lit("-73.97"),
            F.lit("40.74"),
            F.col("event_type"),
            F.lit("10.0"),
            F.lit("0.5"),
            F.lit("0.5"),
            F.lit("1.0"),
            F.lit("0.0"),
            # integer cents as the float field's text: exact in float32
            # and recoverable exactly with a long cast (no float-text
            # round-trip)
            cents(F.col("value")).cast("string"),
        ]
        line = (
            F.when(F.col("event_id") % 101 == 0, F.lit("CORRUPT"))
            .when(F.col("event_id") % 103 == 0, F.lit(""))
            .otherwise(F.concat_ws(",", *fields))
        )
        ev.select(line.alias("value")).repartition(2).write.mode(
            "overwrite"
        ).text(out)

    return staged(sf_dir, "striot_taxi_csv_", write)


@register(
    "q88_taxi_csv_dead_letter",
    """
    WITH good AS (
        SELECT event_type AS payment_type, count(*) AS n,
               sum(CAST(round((value)*100.0, 0) AS BIGINT)) / 100.0
                   AS total_amount
        FROM events
        WHERE event_id % 101 <> 0 AND event_id % 103 <> 0
        GROUP BY 1)
    SELECT payment_type, n, total_amount FROM good
    UNION ALL
    SELECT '__rejected__' AS payment_type, count(*) AS n,
           CAST(NULL AS DOUBLE) AS total_amount
    FROM events WHERE event_id % 101 = 0 OR event_id % 103 = 0
    """,
    doc="the CSV dead-letter entry path end-to-end under the oracle "
    "gate (sources/csv.py:csv_with_rejects over the F2 taxi schema, "
    "Taxi.hs:123-140): events rendered as 17-field taxi CSV with "
    "deterministic damage (wrong-arity + blank lines), parsed with the "
    "dead-letter split; good rows aggregate per payment_type, rejects "
    "surface as one counted row — good/reject routing is hash-checked, "
    "not just unit-tested",
)
def q88_taxi_csv_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.sources.csv import TAXI_SCHEMA, csv_with_rejects

    path = _stage_taxi_csv(spark, sf_dir)
    good, rejects = csv_with_rejects(
        spark, path, TAXI_SCHEMA, timestampFormat="yyyy-M-d HH:mm:ss"
    )
    agg = good.groupBy(F.col("payment_type")).agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.col("total_amount").cast("long")) / 100.0).alias(
            "total_amount"
        ),
    )
    rej = rejects.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("__rejected__").alias("payment_type"),
        "n",
        F.lit(None).cast("double").alias("total_amount"),
    )
    return agg.unionByName(rej)


def _stage_docs_jsonl(spark: SparkSession, sf_dir: str) -> str:
    """Render the documents table as JSONL text with DETERMINISTIC
    damage (q88's recipe on the LLM-data interchange format): every doc
    with ``doc_id % 101 == 0`` becomes a malformed JSON line, every
    remaining ``% 103 == 0`` a blank line. Arithmetic damage rule →
    the DuckDB oracle states the good/reject partition directly over
    the documents view. Staged once per sf_dir."""

    def write(out: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        payload = F.to_json(F.struct("doc_id", "lang", "n_chars"))
        line = (
            F.when(F.col("doc_id") % 101 == 0, F.lit('{"doc_id": CORRUPT'))
            .when(F.col("doc_id") % 103 == 0, F.lit(""))
            .otherwise(payload)
        )
        docs.select(line.alias("value")).repartition(2).write.mode(
            "overwrite"
        ).text(out)

    return staged(sf_dir, "striot_docs_jsonl_", write)


@register(
    "q98_docs_jsonl_dead_letter",
    """
    WITH good AS (
        SELECT lang, count(*) AS n,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        WHERE doc_id % 101 <> 0 AND doc_id % 103 <> 0
        GROUP BY 1)
    SELECT lang, n, sum_chars FROM good
    UNION ALL
    SELECT '__rejected__' AS lang, count(*) AS n,
           CAST(NULL AS BIGINT) AS sum_chars
    FROM documents WHERE doc_id % 101 = 0 OR doc_id % 103 = 0
    """,
    doc="the JSONL dead-letter entry path end-to-end under the oracle "
    "gate (sources/csv.py:jsonl_with_rejects — JSONL is THE LLM "
    "training-data interchange format, so its ingest gets the same "
    "driver-verified treatment as CSV q88): documents rendered as "
    "JSONL with deterministic damage (malformed JSON + blank lines), "
    "parsed with the one-text-scan dead-letter split; good rows "
    "aggregate per lang, rejects surface as one counted row",
)
def q98_docs_jsonl_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from striot_spark.sources.csv import jsonl_with_rejects

    path = _stage_docs_jsonl(spark, sf_dir)
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("lang", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    good, rejects = jsonl_with_rejects(spark, path, schema)
    agg = good.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("sum_chars"),
    )
    rej = rejects.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("__rejected__").alias("lang"),
        "n",
        F.lit(None).cast("long").alias("sum_chars"),
    )
    return agg.unionByName(rej)


# -- stateful streaming operators under the correctness gate -----------------

from striot_spark.queries.events_ops import TS_FMT as _TS_FMT_Q89


@register(
    "q89_scan_stream",
    f"""
    WITH c AS (
        SELECT user_id, ts,
               CAST(round((value)*100.0, 0) AS BIGINT) AS cents
        FROM events),
    g AS (SELECT user_id, ts, sum(cents) AS c FROM c GROUP BY 1, 2)
    SELECT user_id, strftime(ts, '{_TS_FMT_Q89}') AS ts,
           sum(c) OVER (PARTITION BY user_id ORDER BY ts) / 100.0
               AS running
    FROM g
    """,
    doc="streamScan lowered to Structured Streaming "
    "(applyInPandasWithState per-key accumulator, "
    "FunctionalProcessing.hs:188-191): per-user running money total, "
    "drained available-now and hash-checked against the batch window-"
    "sum oracle — the stateful streaming path the legacy lowering "
    "executes is driver-verified, not only locally tested. Cents are "
    "derived as a Spark column BEFORE the stream op so the Python "
    "accumulator adds exact integers (no cross-engine float rounding)",
)
def q89_scan_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.analytics import cents, ts_str
    from striot_spark.streaming import runtime as RT

    src = _stage_events(spark, sf_dir)
    sdf = RT.file_stream(spark, src).withColumn("cents", cents(F.col("value")))
    out = RT.scan_stream(
        sdf,
        step=lambda acc, row: acc + row["cents"],
        init=0,
        out_field="running_c",
        out_type="bigint",
        key=["user_id"],
        time_col="ts",
        state_type="acc bigint",
    )
    drained = RT.run_available_now(out, mode="append", source_path=src)
    # finalize: (user_id, ts) is unique in this data, but the grouped
    # form stays exact even under timestamp ties (max running == total
    # through that instant, independent of within-tie order)
    return drained.groupBy("user_id", "ts").agg(
        (F.max("running_c") / 100.0).alias("running")
    ).select("user_id", ts_str(F.col("ts")).alias("ts"), "running")


@register(
    "q90_filteracc_stream",
    """
    SELECT user_id, event_id FROM (
        SELECT user_id, event_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events) t
    WHERE prev IS NULL OR prev <> event_type
    """,
    doc="streamFilterAcc lowered to Structured Streaming "
    "(applyInPandasWithState; exact pre-update-predicate semantics, "
    "FunctionalProcessing.hs:181-185): per-user dedup-on-change of "
    "event_type — the reference's canonical filterAcc use "
    "(docs/Operators.md:109-119) — drained available-now and "
    "hash-checked against the batch lag oracle",
)
def q90_filteracc_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.streaming import runtime as RT

    src = _stage_events(spark, sf_dir)
    sdf = RT.file_stream(spark, src)
    out = RT.filter_acc_stream(
        sdf,
        step=lambda acc, row: (row["event_type"],),
        init=(None,),
        pred=lambda row, acc: acc[0] is None
        or row["event_type"] != acc[0],
        key=["user_id"],
        time_col="ts",
        state_type="prev string",
        # the oracle's lag() orders by (ts, event_id); matching the
        # tiebreak makes gate equality hold even under timestamp ties
        # instead of relying on (user_id, ts) uniqueness in the data
        tiebreak="event_id",
    )
    drained = RT.run_available_now(out, mode="append", source_path=src)
    return drained.select("user_id", "event_id")


@register(
    "q91_sliding_count_stream",
    f"""
    WITH c AS (
        SELECT user_id, ts, event_id,
               CAST(round((value)*100.0, 0) AS BIGINT) AS cents
        FROM events)
    SELECT user_id, strftime(ts, '{_TS_FMT_Q89}') AS ts,
           sum(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
               / 100.0 AS sum3
    FROM c
    """,
    doc="count-based sliding window lowered to Structured Streaming "
    "(sliding n, FunctionalProcessing.hs:93-97: per-key bounded buffer "
    "of the previous n-1 values in applyInPandasWithState state): "
    "per-user sum over the last 3 events, drained available-now and "
    "hash-checked against the batch rowsBetween-frame oracle — all "
    "three stateful streaming lowerings (scan q89, filterAcc q90, "
    "sliding-count q91) are now correctness-gate-verified",
)
def q91_sliding_count_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.analytics import cents, ts_str
    from striot_spark.streaming import runtime as RT

    src = _stage_events(spark, sf_dir)
    sdf = RT.file_stream(spark, src).withColumn("cents", cents(F.col("value")))
    out = RT.sliding_count_stream(
        sdf,
        n=3,
        value_col="cents",
        agg=lambda vs: float(sum(vs)),
        key=["user_id"],
        time_col="ts",
        out_field="s3c",
        out_type="double",
        # match the oracle's ROWS frame ordered by (ts, event_id) —
        # deterministic under timestamp ties, not data-uniqueness luck
        tiebreak="event_id",
    )
    drained = RT.run_available_now(out, mode="append", source_path=src)
    return drained.select(
        "user_id",
        ts_str(F.col("ts")).alias("ts"),
        (F.col("s3c") / 100.0).alias("sum3"),
    )


@register(
    "q92_scan_stream_global",
    f"""
    WITH c AS (
        SELECT ts, CAST(round((value)*100.0, 0) AS BIGINT) AS cents
        FROM events),
    g AS (SELECT ts, sum(cents) AS c FROM c GROUP BY ts)
    SELECT strftime(ts, '{_TS_FMT_Q89}') AS ts,
           sum(c) OVER (ORDER BY ts) / 100.0 AS running
    FROM g
    """,
    doc="streamScan over the TOTALLY ORDERED stream — the reference's "
    "exact definition (FunctionalProcessing.hs:188-191 folds one "
    "accumulator over the whole stream, no key): lowered as scan_stream "
    "with a constant key, so every event flows through ONE state "
    "partition in (ts, event_id) order. This is the semantic-parity "
    "demonstration; its throughput ceiling is one core's fold rate, "
    "which is why the keyed form (q89) is the scale-safe default — see "
    "the call-site note in streaming/runtime.py:scan_stream",
)
def q92_scan_stream_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.analytics import cents, ts_str
    from striot_spark.streaming import runtime as RT

    src = _stage_events(spark, sf_dir)
    sdf = (
        RT.file_stream(spark, src)
        .withColumn("cents", cents(F.col("value")))
        # the constant key = the reference's single total order; any
        # literal works, the state store holds exactly one accumulator
        .withColumn("g", F.lit(0))
    )
    out = RT.scan_stream(
        sdf,
        step=lambda acc, row: acc + row["cents"],
        init=0,
        out_field="running_c",
        out_type="bigint",
        key=["g"],
        time_col="ts",
        state_type="acc bigint",
        tiebreak="event_id",
        carry_cols=["event_id"],
    )
    drained = RT.run_available_now(
        out,
        mode="append",
        expect_data_batches=1,
        source_path=src,
    )
    # finalize with the LAST row per tied instant in (ts, event_id)
    # order: its accumulator is the total through that instant by
    # construction, regardless of increment sign (ADVICE r05: max of
    # the running value is only order-correct for non-negative cents)
    return drained.groupBy("ts").agg(
        (F.max_by("running_c", "event_id") / 100.0).alias("running")
    ).select(ts_str(F.col("ts")).alias("ts"), "running")


@register(
    "q100_chop_count_stream",
    f"""
    WITH o AS (
        SELECT user_id, ts,
               CAST(round((value)*100.0, 0) AS BIGINT) AS cents,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) - 1 AS rn
        FROM events)
    SELECT user_id, rn // 5 AS window_ordinal,
           strftime(max(ts), '{_TS_FMT_Q89}') AS ts,
           CAST(sum(cents) AS BIGINT) AS sum_c
    FROM o GROUP BY user_id, rn // 5
    HAVING count(*) = 5
    """,
    doc="tumbling COUNT window (chop n, FunctionalProcessing.hs:"
    "113-116) lowered to Structured Streaming: per-user windows of 5 "
    "events in (ts, event_id) order, each emitting one integer-cents "
    "sum stamped with the completing event's timestamp and the dense "
    "per-key window ordinal — the batch q04 dense-seq semantics as "
    "bounded per-key state. Round 6: ORDER-ROBUST lowering — events "
    "buffer in state and release in global (ts, event_id) order as the "
    "watermark passes them (a barrier row in the staging pushes the "
    "final watermark past all real events), so window membership no "
    "longer depends on micro-batch arrival order — the driver's r05 "
    "hash red was exactly that cross-batch-order hole (VERDICT r05 "
    "task 2). The staging is also a single sorted file (one data "
    "batch, asserted), so arrival order is pinned even before the "
    "robust buffering. Only complete windows emit, so the oracle "
    "filters to count(*) = 5 — the reference's lazy-list semantics "
    "where an unfilled window never materializes",
)
def q100_chop_count_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.analytics import cents, ts_str
    from striot_spark.streaming import runtime as RT

    src = _stage_events_barrier(spark, sf_dir)
    sdf = RT.file_stream(spark, src).withColumn("cents", cents(F.col("value")))
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
        buf_type="bigint",  # exact integer cents across batch boundaries
        order_robust=True,
        watermark_delay="0 seconds",
    )
    drained = RT.run_available_now(
        out,
        mode="append",
        expect_data_batches=1,
        source_path=src,
    )
    return drained.filter(F.col("user_id") != BARRIER_USER).select(
        "user_id", "window_ordinal", ts_str(F.col("ts")).alias("ts"), "sum_c"
    )


@register(
    "q97_filteracc_stream_global",
    """
    SELECT event_id FROM (
        SELECT event_id, event_type,
               lag(event_type) OVER (ORDER BY ts, event_id) AS prev
        FROM events) t
    WHERE prev IS NULL OR prev <> event_type
    """,
    doc="streamFilterAcc over the TOTALLY ORDERED stream — like q92 for "
    "streamScan, this is the reference's exact definition "
    "(FunctionalProcessing.hs:181-185 threads one accumulator through "
    "the whole stream): dedup-on-change of event_type across ALL users "
    "in (ts, event_id) order, lowered as filter_acc_stream with a "
    "constant key. One state partition = one core's fold rate; the "
    "keyed form (q90) is the scale-safe default — see "
    "streaming/runtime.py:scan_stream's keyed-vs-global note",
)
def q97_filteracc_stream_global(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from striot_spark.streaming import runtime as RT

    src = _stage_events(spark, sf_dir)
    sdf = RT.file_stream(spark, src).withColumn("g", F.lit(0))
    out = RT.filter_acc_stream(
        sdf,
        step=lambda acc, row: (row["event_type"],),
        init=(None,),
        pred=lambda row, acc: acc[0] is None
        or row["event_type"] != acc[0],
        key=["g"],
        time_col="ts",
        state_type="prev string",
        tiebreak="event_id",
    )
    drained = RT.run_available_now(out, mode="append", source_path=src)
    return drained.select("event_id")


@register(
    "q101_sliding_stream_ooo_replay",
    f"""
    WITH o AS (
        SELECT user_id, ts, event_id,
               CAST(round((value)*100.0, 0) AS BIGINT) AS cents
        FROM events)
    SELECT user_id, strftime(ts, '{_TS_FMT_Q89}') AS ts,
           CAST(sum(cents) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id
                            ROWS BETWEEN 2 PRECEDING
                            AND CURRENT ROW) AS BIGINT) AS s3c
    FROM o
    """,
    doc="sliding COUNT window (sliding n, FunctionalProcessing.hs:93-97) "
    "under an ADVERSARIAL multi-batch replay: the staging splits events "
    "into three out-of-order files plus a watermark barrier, replayed "
    "one file per micro-batch (maxFilesPerTrigger=1, 4 data batches "
    "asserted) — cross-batch arrival order deliberately disagrees with "
    "event-time order. The order_robust lowering buffers events in "
    "state and releases them in global (ts, event_id) order as the "
    "watermark passes them, so the result still matches the batch "
    "ROWS-frame oracle exactly — driver-visible proof that the round-6 "
    "robust count windows neutralize the arrival-order hole behind the "
    "r05 q100 red, in the driver's own environment (VERDICT r05 task 7)",
)
def q101_sliding_stream_ooo_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from striot_spark.functions.analytics import cents, ts_str
    from striot_spark.streaming import runtime as RT

    src = _stage_events_ooo(spark, sf_dir)
    sdf = RT.file_stream(
        spark, src, max_files_per_trigger=1
    ).withColumn("cents", cents(F.col("value")))
    out = RT.sliding_count_stream(
        sdf,
        n=3,
        value_col="cents",
        agg=lambda vs: int(sum(vs)),
        key=["user_id"],
        time_col="ts",
        out_field="s3c",
        out_type="bigint",
        tiebreak="event_id",
        order_robust=True,
        watermark_delay="365 days",
    )
    drained = RT.run_available_now(
        out,
        mode="append",
        expect_data_batches=4,
        source_path=src,
    )
    return drained.filter(F.col("user_id") != BARRIER_USER).select(
        "user_id", ts_str(F.col("ts")).alias("ts"), "s3c"
    )


@register(
    "q100d_chop_stream_money_double",
    f"""
    WITH o AS (
        SELECT user_id, ts,
               CAST(round((value)*100.0, 0) AS BIGINT) AS cents,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) - 1 AS rn
        FROM events)
    SELECT user_id, rn // 5 AS window_ordinal,
           strftime(max(ts), '{_TS_FMT_Q89}') AS ts,
           sum(cents) / 100.0 AS sum_v
    FROM o GROUP BY user_id, rn // 5
    HAVING count(*) = 5
    """,
    doc="q100 shadow pair for the driver-hash probe (VERDICT r05 task "
    "5): byte-identical pipeline to q100_chop_count_stream, but the "
    "money column is emitted as a DOUBLE (integer cents / 100.0, "
    "oracle matching) instead of a raw BIGINT sum. If this shadow "
    "goes driver-green while the original stays red, the divergence "
    "is in the driver's value hasher's integer handling, not in the "
    "streaming emission — one cheap decisive experiment",
)
def q100d_chop_stream_money_double(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    out = q100_chop_count_stream(spark, sf_dir)
    return out.select(
        "user_id",
        "window_ordinal",
        "ts",
        (F.col("sum_c") / 100.0).alias("sum_v"),
    )


from striot_spark.queries.events_ops import CENTS_SQL as _CENTS_SQL_Q108


@register(
    "q108_stream_static_enrich",
    f"""
    SELECT coalesce(c.c_mktsegment, 'unknown') AS segment,
           count(*) AS n,
           sum({_CENTS_SQL_Q108}) / 100.0 AS sum_value
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
    doc="stream-static dimension enrichment (streaming/runtime.py:"
    "enrich_stream): the events stream left-joins the static customer "
    "table per micro-batch — STATELESS in Structured Streaming (no "
    "watermark, no state store), so the drained result is batch-"
    "deterministic regardless of replay batching; the dimension side "
    "is broadcast (at 100 TB of stream the dim table is the small "
    "side by construction). Post-drain rollup to per-segment counts + "
    "exact cents keeps the gated output bounded",
)
def q108_stream_static_enrich(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from striot_spark.functions.analytics import sum_money
    from striot_spark.streaming import runtime as RT

    src = _stage_events(spark, sf_dir)
    sdf = RT.file_stream(spark, src)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = RT.enrich_stream(sdf, dim, on="user_id", how="left")
    drained = RT.run_available_now(joined, mode="append", source_path=src)
    return drained.groupBy(
        F.coalesce(F.col("c_mktsegment"), F.lit("unknown")).alias("segment")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        sum_money(F.col("value")).alias("sum_value"),
    )


@register(
    "q111_sliding_time_stream",
    f"""
    WITH w AS (
        SELECT date_trunc('day', ts) - k * INTERVAL 1 DAY AS ws,
               {_Q78_CENTS} AS c
        FROM events, range(0, 2) r(k))
    SELECT strftime(ws, '%Y-%m-%d') AS window_start,
           strftime(ws + 2 * INTERVAL 1 DAY, '%Y-%m-%d') AS window_end,
           count(*) AS n,
           sum(c) / 100.0 AS sum_value
    FROM w GROUP BY ws
    """,
    doc="sliding TIME window on the stream (slidingTime, "
    "FunctionalProcessing.hs:99-103, streaming form): Spark's native "
    "window(ts, '2 days', slide '1 day') under a watermark — each event "
    "feeds exactly two overlapping day-aligned windows, incrementally, "
    "with no buffering beyond the windowed aggregation state. This is "
    "the documented 100 TB scale path for slidingTime (the per-event "
    "slide stays batch-only; coarse slide granularity keeps state "
    "linear in windows, not events). Oracle expands each event into "
    "its two covering windows and aggregates — exact cents",
)
def q111_sliding_time_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.analytics import sum_money
    from striot_spark.streaming import runtime as RT

    src = _stage_events(spark, sf_dir)
    sdf = RT.file_stream(spark, src)
    counts = RT.window_agg_stream(
        sdf,
        "ts",
        "2 days",
        {
            "n": F.count(F.lit(1)),
            "sum_value": sum_money(F.col("value")),
        },
        watermark="1 minute",
        slide="1 day",
    )
    drained = RT.run_available_now(counts, mode="complete", source_path=src)
    return drained.select(
        day_str(F.col("window_start")).alias("window_start"),
        day_str(F.col("window_end")).alias("window_end"),
        "n",
        "sum_value",
    )


@register(
    "q115_daily_distinct_stream",
    DAILY_DISTINCT_ORACLE,
    doc="EXACT windowed distinct count on the stream: two CHAINED "
    "stateful aggregations in one plan (Spark 4 multiple-stateful-"
    "operator support) — agg1 dedups to (day-window, user) partials, "
    "agg2 counts users per window as agg1's windows finalize; both "
    "watermark-bounded, append mode. The streaming mirror of batch "
    "q56 under the SAME oracle. State is O(distinct users per open "
    "window), not O(events); a 48h barrier row (its own never-closing "
    "window, invisible in output) pushes the final watermark past the "
    "last real day so every real window emits in the drain",
)
def q115_daily_distinct_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from striot_spark.streaming import runtime as RT

    src = _stage_events_barrier(spark, sf_dir, barrier_hours=48)
    sdf = RT.file_stream(spark, src)
    s1 = (
        sdf.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 day"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_ev"))
    )
    s2 = s1.groupBy("window").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n_ev").alias("n_events"),
    )
    drained = RT.run_available_now(
        s2,
        mode="append",
        expect_data_batches=1,
        source_path=src,
    )
    return drained.select(
        day_str(F.col("window.start")).alias("day"),
        "n_users",
        "n_events",
    )


@register(
    "q116_interval_join_stream",
    INTERVAL_JOIN_ORACLE,
    doc="STREAMING bounded time-interval join under the same oracle as "
    "batch q59: native stream-stream inner join with the range "
    "condition written on the two watermarked event-time columns, so "
    "Spark derives state-eviction bounds (left rows die once the right "
    "watermark passes click_ts+1h, right rows symmetrically) — state "
    "is O(events in the interval span), not O(stream). Single-file "
    "sorted staging makes the drain single-batch deterministic; an "
    "inner join emits on arrival, so no barrier is needed",
)
def q116_interval_join_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from striot_spark.functions.analytics import cents
    from striot_spark.streaming import runtime as RT

    src = _stage_events(spark, sf_dir)
    clicks = (
        RT.file_stream(spark, src)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        RT.file_stream(spark, src)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "value",
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
    )
    drained = RT.run_available_now(out, mode="append", source_path=src)
    return drained.select(
        "click_id",
        "purchase_id",
        "user_id",
        (
            F.unix_micros(F.col("purchase_ts"))
            - F.unix_micros(F.col("click_ts"))
        ).alias("gap_us"),
        (cents(F.col("value")) / F.lit(100.0)).alias("purchase_value"),
    )


@register(
    "q117_joine_stream",
    JOINE_ORACLE,
    doc="STREAMING streamJoinE under the same oracle as batch q32 "
    "(FunctionalProcessing.hs:161-173): both streams bucket into "
    "aligned 1h tumbling windows via F.window equality (keeps the "
    "event-time metadata Spark needs to derive stream-stream state "
    "eviction), theta purchase.value > error.value applied post-join. "
    "Inner join emits on arrival — single-batch drain, no barrier",
)
def q117_joine_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.streaming import runtime as RT

    src = _stage_events(spark, sf_dir)
    purchases = RT.file_stream(spark, src).filter(
        F.col("event_type") == "purchase"
    ).select("event_id", "ts", "value")
    errors = RT.file_stream(spark, src).filter(
        F.col("event_type") == "error"
    ).select("event_id", "ts", "value")
    out = RT.join_e_stream(
        purchases,
        errors,
        "ts",
        3600,
        theta=F.col("value_l") > F.col("value_r"),
        watermark="1 minute",
    ).select("window_id", "event_id_l", "event_id_r")
    # the pre-sink projection prunes ts_l/ts_r: a stream must reach the
    # sink with at most ONE event-time lineage (__win), or the join's
    # watermark-propagation rule refuses the plan
    drained = RT.run_available_now(out, mode="append", source_path=src)
    return drained.select(
        "window_id",
        F.col("event_id_l").alias("purchase_id"),
        F.col("event_id_r").alias("error_id"),
    )


@register(
    "q120_merge_stream",
    MERGE_ORACLE,
    doc="STREAMING streamMerge (FunctionalProcessing.hs:135-144) under "
    "the same oracle as batch q03: two filtered streams union'd by "
    "name — stateless in Structured Streaming, so the drain is batch-"
    "deterministic under any replay batching; the reference's "
    "(time,seq) re-order is the downstream consumer's concern exactly "
    "as in the batch lowering (the gate is order-insensitive)",
)
def q120_merge_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.core import Stream
    from striot_spark.streaming import runtime as RT

    src = _stage_events(spark, sf_dir)
    s = Stream(RT.file_stream(spark, src))
    return RT.run_available_now(
        merge_clicks_views(s), mode="append", source_path=src
    )


def _stage_documents(spark: SparkSession, sf_dir: str) -> str:
    """One-file staging of the documents table for streaming replays
    (same single-data-batch determinism argument as ``_stage_events``,
    sorted by doc_id)."""

    def write(out: str):
        docs = load_table(spark, sf_dir, "documents").repartition(1)
        docs = docs.sortWithinPartitions("doc_id")
        docs.write.mode("overwrite").parquet(out)
        return docs.schema

    return staged(sf_dir, "striot_doc_stream_src_", write)


@register(
    "q121_expand_stream",
    TOKEN_COUNTS_ORACLE,
    doc="STREAMING streamExpand (FunctionalProcessing.hs:206-210) under "
    "the same oracle as batch q02: explode word tokens on a document "
    "stream (stateless flat-map) feeding an unwatermarked global "
    "count drained in complete mode — expand itself adds no state; "
    "the vocabulary-sized aggregation is the only stateful tier",
)
def q121_expand_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.streaming import runtime as RT

    src = _stage_documents(spark, sf_dir)
    counts = token_counts(RT.file_stream(spark, src))
    return RT.run_available_now(counts, mode="complete", source_path=src)


_NTOK_Q122 = "len(list_filter(string_split(text, ' '), x -> x <> ''))"
_STOP_Q122 = "('the','a','of','and','to','in','is','it','for','on')"


@register(
    "q122_corpus_ingest_stream",
    f"""
    WITH gated AS (
        SELECT doc_id, text FROM documents
        WHERE NOT list_has_any(
                  list_filter(string_split(text, ' '), x -> x <> ''),
                  ['vector', 'stream', 'hash'])
          AND CAST(100 * len(list_filter(string_split(text, ' '),
                                         x -> x IN {_STOP_Q122}))
                   + 10 * {_NTOK_Q122}
                   - 50 * length(regexp_replace(text, '[a-z0-9 ]', '',
                                                'g'))
                   - abs(n_chars - 180) AS BIGINT) >= 700)
    SELECT min(doc_id) AS doc_id, count(*) AS n_dupes
    FROM gated GROUP BY md5(text)
    """,
    doc="end-to-end STREAMING corpus ingest under the oracle gate — "
    "the streaming twin of the batch q99 pipeline: document stream -> "
    "blocklist gate (q103's operator, stateless) -> integer linear "
    "quality gate >= 700 (q110's operator, stateless) -> exact dedup "
    "as an unwatermarked groupBy(md5) keeping min(doc_id) (order-"
    "insensitive survivor choice, so the drain is deterministic under "
    "ANY replay batching — deliberately NOT first-arrival dedup), "
    "drained in complete mode. State is one row per distinct "
    "fingerprint; the stateless gates shed volume before it",
)
def q122_corpus_ingest_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from striot_spark.functions.text import (
        blocklist_filter,
        linear_quality_filter,
    )
    from striot_spark.streaming import runtime as RT

    src = _stage_documents(spark, sf_dir)
    sdf = RT.file_stream(spark, src)
    gated = blocklist_filter(sdf, "text", ("vector", "stream", "hash"))
    gated = linear_quality_filter(
        gated, "text", "n_chars", threshold=700
    )
    from striot_spark.functions.dedup import exact_dedup

    deduped = exact_dedup(gated, "doc_id", "text").select(
        F.col("keep_id").alias("doc_id"), "n_dupes"
    )
    drained = RT.run_available_now(deduped, mode="complete", source_path=src)
    return drained.select("doc_id", "n_dupes")


@register(
    "q123_zip_join_stream",
    ZIP_ORACLE,
    doc="STREAMING streamJoin — the positional zip "
    "(FunctionalProcessing.hs:148-155) under the same oracle as batch "
    "q10: both streams merge under a side tag into ONE stateful "
    "operator (single constant key — the reference's zip is globally "
    "sequential, the q92 semantic-parity precedent) that pairs nth "
    "click with nth view in (ts, event_id) order, buffering only the "
    "unpaired prefix of the side that is ahead. Single-file sorted "
    "staging + expect_data_batches=1 pin the drain deterministic",
)
def q123_zip_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.streaming import runtime as RT

    src = _stage_events(spark, sf_dir)
    clicks = RT.file_stream(spark, src).filter(
        F.col("event_type") == "click"
    )
    views = RT.file_stream(spark, src).filter(
        F.col("event_type") == "view"
    )
    out = RT.zip_join_stream(clicks, views, "ts", "event_id", "value")
    drained = RT.run_available_now(
        out,
        mode="append",
        expect_data_batches=1,
        source_path=src,
    )
    return drained.select(
        "zip_pos",
        F.col("l_id").alias("click_id"),
        F.col("r_id").alias("view_id"),
        F.col("l_val").alias("click_value"),
        F.col("r_val").alias("view_value"),
    )


@register(
    "q125_upsert_snapshot_stream",
    LATEST_SNAPSHOT_ORACLE,
    doc="STREAMING latest-wins upsert sink under the same oracle as "
    "batch q107, driven through the ADVERSARIAL 4-batch out-of-order "
    "replay on purpose: upsert_snapshot_sink's foreachBatch merge "
    "(batch-side partial compaction + merge of ONLY the hash-prefix "
    "partitions the batch touches, committed by an atomic manifest "
    "flip) is max_by over a per-key total order, so "
    "the final snapshot is provably independent of micro-batch "
    "boundaries AND cross-batch arrival order — no watermark needed. "
    "The drained snapshot is read back with read_snapshot and gated",
)
def q125_upsert_snapshot_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:

    from striot_spark.functions.analytics import cents, ts_str
    from striot_spark.streaming import runtime as RT

    src = _stage_events_ooo(spark, sf_dir)
    sdf = RT.file_stream(
        spark, src, max_files_per_trigger=1
    ).withColumn("value_c", cents(F.col("value")))
    snap = RT.drain_snapshot(
        RT.upsert_snapshot_sink,
        sdf,
        source_path=src,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        payload_cols=["event_type", "value_c"],
    ).filter(
        F.col("user_id") != BARRIER_USER
    )
    return snap.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_type"),
        ts_str(F.col("ts")).alias("last_ts"),
        F.col("value_c").alias("last_value_c"),
    )


@register(
    "q130_cms_sketch_stream",
    CMS_ORACLE,
    doc="the count-min sketch BUILT ON THE STREAM (same oracle as "
    "batch q128): tokens explode on a document stream and fan into "
    "(row, bucket) pairs whose counts aggregate incrementally — CMS "
    "partials merge by addition, so streaming aggregation state IS "
    "the sketch (depth x width rows, bounded, no watermark needed "
    "in complete mode). The drained sketch then scores the exact "
    "top-20 batch-side exactly as q128 — proving sketch-on-stream == "
    "sketch-on-batch bit-for-bit",
)
def q130_cms_sketch_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.text import md5_hash64, nonempty_tokens
    from striot_spark.streaming import runtime as RT

    depth, width, top_k = 3, 512, 20
    src = _stage_documents(spark, sf_dir)
    sdf = RT.file_stream(spark, src)
    toks_s = sdf.select(
        F.explode(nonempty_tokens(F.col("text"))).alias("tok")
    )
    bucket = lambda i: F.pmod(  # noqa: E731
        md5_hash64(F.concat(F.col("tok"), F.lit(f"#{i}"))), F.lit(width)
    )
    sketch_s = (
        toks_s.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("row"), bucket(i).alias("pos")
                        )
                        for i in range(depth)
                    ]
                )
            ).alias("rp")
        )
        .groupBy(F.col("rp.row").alias("row"), F.col("rp.pos").alias("pos"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    drained = RT.run_available_now(sketch_s, mode="complete", source_path=src)
    table = {(r["row"], r["pos"]): r["c"] for r in drained.collect()}
    maps = [
        F.create_map(
            *[
                c
                for (row, pos), n in sorted(table.items())
                if row == i
                for c in (F.lit(pos), F.lit(n))
            ]
        )
        for i in range(depth)
    ]
    docs = load_table(spark, sf_dir, "documents")
    exact = (
        docs.select(F.explode(nonempty_tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), F.col("tok"))
        .limit(top_k)
    )
    est = F.least(*[F.element_at(maps[i], bucket(i)) for i in range(depth)])
    return exact.select(
        "tok", "exact_n", est.cast("long").alias("cms_estimate")
    )


@register(
    "q138_incremental_agg_stream",
    """
    SELECT user_id, event_type,
           count(*) AS n_rows,
           CAST(sum(CAST(round((value)*100.0, 0) AS BIGINT))
               AS BIGINT) AS sum_value_c
    FROM events GROUP BY user_id, event_type
    """,
    doc="streaming incremental MATERIALIZED VIEW: per-(user,type) "
    "count/sum totals maintained by merging only each micro-batch's "
    "pre-aggregated DELTA into the snapshot "
    "(streaming/runtime.py:incremental_agg_sink) — O(batch + #keys) "
    "per batch forever, never rescanning history. Driven through the "
    "ADVERSARIAL 4-batch out-of-order replay on purpose: addition is "
    "associative+commutative so totals are provably independent of "
    "batch boundaries and arrival order; replay idempotence comes "
    "from the last-applied batch id in the atomic state manifest; "
    "the totals table is hash-prefix partitioned so each batch "
    "rewrites only the partitions holding its keys. Same "
    "oracle as the plain batch groupBy",
)
def q138_incremental_agg_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:

    from striot_spark.functions.analytics import cents
    from striot_spark.streaming import runtime as RT

    src = _stage_events_ooo(spark, sf_dir)
    sdf = RT.file_stream(
        spark, src, max_files_per_trigger=1
    ).withColumn("value_c", cents(F.col("value")))
    snap = RT.drain_snapshot(
        RT.incremental_agg_sink,
        sdf,
        source_path=src,
        key_cols=["user_id", "event_type"],
        sum_cols=["value_c"],
    ).filter(
        F.col("user_id") != BARRIER_USER
    )
    return snap.select(
        "user_id", "event_type", "n_rows", F.col("sum_value_c")
    )


@register(
    "q141_hll_sketch_stream",
    f"""
    WITH toks AS (
        SELECT lang,
               unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS tok
        FROM documents),
    h AS (SELECT lang,
                 ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv,
                 tok
          FROM toks),
    r AS (
        SELECT lang, hv % 64 AS bucket,
               CASE WHEN (hv // 64) = 0 THEN 40
                    ELSE least(bit_count(((hv // 64) & (-(hv // 64))) - 1)
                               + 1, 40)
               END AS rho
        FROM h),
    regs AS (SELECT lang, bucket, max(rho) AS reg
             FROM r GROUP BY lang, bucket),
    g AS (SELECT lang, count(*) AS n_obs,
                 sum((1::BIGINT << (40 - reg))) AS s_obs
          FROM regs GROUP BY lang),
    ex AS (SELECT lang, count(DISTINCT tok) AS exact_distinct
           FROM toks GROUP BY lang)
    SELECT g.lang, ex.exact_distinct,
           CAST((709 * 64 * 64 * (1::BIGINT << 40)) //
                (1000 * (s_obs + (64 - n_obs) * (1::BIGINT << 40)))
                AS BIGINT) AS hll_est
    FROM g JOIN ex ON g.lang = ex.lang
    """,
    doc="the q139 HyperLogLog built ON THE STREAM: hll_registers runs "
    "as a complete-mode streaming max aggregation (register max is "
    "algebraic, so the sketch is exactly batching-insensitive), the "
    "drained register table is finished with the shifted-long "
    "harmonic mean, and the result is gated against the SAME oracle "
    "as batch q139 — the cardinality twin of q130's streaming "
    "count-min sketch",
)
def q141_hll_sketch_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.analytics import hll_estimate, hll_registers
    from striot_spark.functions.text import nonempty_tokens
    from striot_spark.streaming import runtime as RT

    src = _stage_documents(spark, sf_dir)
    sdf = RT.file_stream(spark, src)
    toks_s = sdf.select(
        "lang", F.explode(nonempty_tokens(F.col("text"))).alias("tok")
    )
    regs_s = hll_registers(toks_s, ["lang"], "tok")
    drained = RT.run_available_now(regs_s, mode="complete", source_path=src)
    est = hll_estimate(drained, ["lang"])
    docs = load_table(spark, sf_dir, "documents")
    exact = (
        docs.select(
            "lang", F.explode(nonempty_tokens(F.col("text"))).alias("tok")
        )
        .groupBy("lang")
        .agg(F.count_distinct(F.col("tok")).alias("exact_distinct"))
    )
    return exact.join(est, "lang").select(
        "lang", "exact_distinct", "hll_est"
    )


@register(
    "q143_compact_small_files",
    f"""
    SELECT event_id, user_id, event_type,
           CAST(round((value)*100.0, 0) AS BIGINT) AS value_c,
           strftime(ts, '{_TS_FMT_Q89}') AS ts_s
    FROM events
    """,
    doc="small-file compaction as a first-class maintenance pass: the "
    "events table is deliberately scattered into 64 tiny parquet "
    "files (the debris every micro-batch sink accretes), then "
    "compact_files rewrites them into ceil(bytes/target) "
    "comfortable files via a NARROW coalesce — no shuffle, no "
    "re-sort, one sequential read+write; sizes come from the Hadoop "
    "FS listing, not estimates. The gate proves content identity "
    "through the rewrite; the unit test pins the file-count collapse "
    "(functions/bucketing.py:compact_files)",
)
def q143_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:

    from striot_spark.functions.analytics import cents, ts_str
    from striot_spark.functions.bucketing import compact_files

    ev = load_table(spark, sf_dir, "events")
    frag = striot_mkdtemp(prefix="striot_q143_frag_") + "/data"
    ev.repartition(64).write.parquet(frag)
    out = striot_mkdtemp(prefix="striot_q143_out_") + "/data"
    compacted = compact_files(spark, frag, out, target_bytes=8 * 1024 * 1024)
    return compacted.select(
        "event_id",
        "user_id",
        "event_type",
        cents(F.col("value")).alias("value_c"),
        ts_str(F.col("ts")).alias("ts_s"),
    )


@register(
    "q150_table_digest_stream",
    TABLE_DIGEST_ORACLE,
    doc="the q148 content digest built ON THE STREAM through the "
    "adversarial out-of-order multi-batch replay: count and modular "
    "SUM are algebraic aggregates, so the complete-mode streaming "
    "digest is exactly batching- and arrival-order-insensitive — "
    "continuous replication validation (digest the stream while it "
    "loads, compare against the source's batch digest) under the "
    "SAME oracle and pipeline (events_ops.events_digest) as batch q148",
)
def q150_table_digest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.streaming import runtime as RT

    src = _stage_events_ooo(spark, sf_dir)
    sdf = RT.file_stream(spark, src, max_files_per_trigger=1).filter(
        F.col("user_id") != BARRIER_USER
    )
    return RT.run_available_now(
        events_digest(sdf), mode="complete", source_path=src
    )


@register(
    "q152_pit_enrich_stream",
    f"""
    WITH odd AS (SELECT * FROM events WHERE event_id % 2 = 1),
    even AS (SELECT * FROM events WHERE event_id % 2 = 0),
    j AS (
        SELECT e.event_id, o.event_type AS state_type,
               row_number() OVER (
                   PARTITION BY e.event_id
                   ORDER BY o.ts DESC, o.event_id DESC) AS rn
        FROM even e JOIN odd o
          ON e.user_id = o.user_id AND o.ts <= e.ts)
    SELECT e.event_id, e.user_id,
           strftime(e.ts, '{_TS_FMT_Q89}') AS ts_s,
           j2.state_type
    FROM even e
    LEFT JOIN (SELECT event_id, state_type FROM j WHERE rn = 1) j2
      ON e.event_id = j2.event_id
    """,
    doc="streaming POINT-IN-TIME feature join (the training-serving-"
    "skew killer): each streamed event is enriched with the state its "
    "entity had AT THE EVENT'S OWN TIMESTAMP, by a stateless stream-"
    "static LEFT join against the q134 SCD-2 validity intervals "
    "(valid_from <= ts < valid_to) — no window, no state store, "
    "batch-deterministic under any replay batching. History here: "
    "odd event_ids form the per-user state changes, the even half "
    "streams through the adversarial out-of-order replay; the oracle "
    "recomputes the as-of lookup per event",
)
def q152_pit_enrich_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.analytics import scd2_history, ts_str
    from striot_spark.streaming import runtime as RT

    ev = load_table(spark, sf_dir, "events")
    hist = scd2_history(
        ev.filter(F.col("event_id") % 2 == 1),
        key_cols=["user_id"],
        ts_col="ts",
        tiebreak_col="event_id",
        payload_cols=["event_type"],
    ).select(
        F.col("user_id").alias("h_user"),
        F.col("event_type").alias("state_type"),
        "valid_from",
        "valid_to",
    )
    # stream-static joins re-evaluate the static side every micro-batch
    # - persist the (window-aggregated) history so the 4-batch replay
    # computes it once, not four times
    from striot_spark.functions.caching import track_persist

    hist = track_persist(hist)
    src = _stage_events_ooo(spark, sf_dir)
    sdf = (
        RT.file_stream(spark, src, max_files_per_trigger=1)
        .filter(F.col("user_id") != BARRIER_USER)
        .filter(F.col("event_id") % 2 == 0)
    )
    joined = sdf.join(
        hist,
        (F.col("user_id") == F.col("h_user"))
        & (F.col("valid_from") <= F.col("ts"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
        "left",
    ).select(
        "event_id",
        "user_id",
        ts_str(F.col("ts")).alias("ts_s"),
        "state_type",
    )
    return RT.run_available_now(joined, source_path=src)


@register(
    "q164_ohlc_bars_stream",
    OHLC_ORACLE,
    doc="q161's OHLC downsampling computed ON THE STREAM through the "
    "adversarial out-of-order multi-batch replay: min_by/max_by over "
    "the (ts, event_id) total order, min/max/count are all "
    "order-insensitive algebraic aggregates, so the complete-mode "
    "streaming bars are exactly batching- and arrival-order-"
    "insensitive — tick-to-bar compression in flight, same oracle as "
    "the batch form",
)
def q164_ohlc_bars_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.streaming import runtime as RT

    src = _stage_events_ooo(spark, sf_dir)
    sdf = RT.file_stream(spark, src, max_files_per_trigger=1).filter(
        F.col("user_id") != BARRIER_USER
    )
    return RT.run_available_now(
        daily_ohlc(sdf), mode="complete", source_path=src
    )


@register(
    "q174_rollup_serve_stream",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S.%f')
               AS bucket,
           event_type, count(*) AS n,
           CAST(sum(CAST(round((value)*100.0, 0) AS BIGINT))
               AS BIGINT) AS sum_c
    FROM events GROUP BY 1, 2
    """,
    doc="the CONTINUOUS AGGREGATE serving pattern: the stream "
    "maintains minute-level (bucket, type) totals incrementally "
    "(q138's delta-merge sink — O(batch + #keys) per batch, history "
    "never rescanned), and the HOUR level is served by re-aggregating "
    "the minute snapshot (q166's algebraic combine law) — raw events "
    "are touched exactly once, at ingest. Driven through the "
    "adversarial out-of-order replay; the oracle computes the hour "
    "level directly from raw events, so equality proves delta "
    "maintenance AND partial reuse compose exactly",
)
def q174_rollup_serve_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:

    from striot_spark.functions.analytics import cents, ts_str
    from striot_spark.streaming import runtime as RT

    src = _stage_events_ooo(spark, sf_dir)
    sdf = (
        RT.file_stream(spark, src, max_files_per_trigger=1)
        .filter(F.col("user_id") != BARRIER_USER)
        .select(
            F.date_trunc("minute", F.col("ts")).alias("minute"),
            "event_type",
            cents(F.col("value")).alias("value_c"),
        )
    )
    snap = RT.drain_snapshot(
        RT.incremental_agg_sink,
        sdf,
        source_path=src,
        key_cols=["minute", "event_type"],
        sum_cols=["value_c"],
    )
    return snap.groupBy(
        ts_str(F.date_trunc("hour", F.col("minute"))).alias("bucket"),
        "event_type",
    ).agg(
        F.sum("n_rows").alias("n"),
        F.sum("sum_value_c").alias("sum_c"),
    )


@register(
    "q179_cdc_apply_stream",
    """
    WITH r AS (
        SELECT user_id, event_type,
               CAST(round((value)*100.0, 0) AS BIGINT) AS c,
               strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS t,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
    SELECT user_id, c AS last_cents, t AS last_ts
    FROM r WHERE rn = 1 AND event_type <> 'error'
    """,
    doc="q167's CDC-apply-with-tombstones ON THE STREAM: the upsert "
    "snapshot sink keeps the latest (ts, event_id) row per key with "
    "the op riding in the payload, and the tombstone filter runs at "
    "READ time — so a delete holds the key's slot (suppressing it "
    "from serving) until a newer upsert resurrects it, across ANY "
    "micro-batch boundaries. Driven through the adversarial "
    "out-of-order replay: max_by latest-wins is batching- and "
    "arrival-order-insensitive, replay-idempotent via the state "
    "manifest; oracle is the batch semantics minus the log-depth "
    "count (per-key counts belong to the additive sink, q138)",
)
def q179_cdc_apply_stream(spark: SparkSession, sf_dir: str) -> DataFrame:

    from striot_spark.functions.analytics import cents, ts_str
    from striot_spark.streaming import runtime as RT

    src = _stage_events_ooo(spark, sf_dir)
    sdf = (
        RT.file_stream(spark, src, max_files_per_trigger=1)
        .filter(F.col("user_id") != BARRIER_USER)
        .select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            cents(F.col("value")).alias("last_cents"),
            ts_str(F.col("ts")).alias("last_ts"),
        )
    )
    snap = RT.drain_snapshot(
        RT.upsert_snapshot_sink,
        sdf,
        source_path=src,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        payload_cols=["event_type", "last_cents", "last_ts"],
    )
    return snap.filter(F.col("event_type") != "error").select(
        "user_id", "last_cents", "last_ts"
    )


@register(
    "q189_freshness_stream",
    """
    WITH g AS (
        SELECT event_type, max(ts) AS mx FROM events GROUP BY 1),
    t AS (SELECT max(ts) AS gmx FROM events)
    SELECT event_type, strftime(mx, '%Y-%m-%d %H:%M:%S.%f') AS latest,
           epoch_us(gmx) - epoch_us(mx) AS lag_us
    FROM g, t
    """,
    doc="q184's freshness audit maintained ON THE STREAM: the upsert "
    "snapshot sink keeps the maximally-(ts, event_id) row per event "
    "type (latest-wins IS running max), so the monitor reads a "
    "types-sized snapshot instead of scanning history; the global "
    "reference max is the max OVER the snapshot (max of per-type "
    "maxes). Adversarial out-of-order replay: max_by is batching- "
    "and arrival-order-insensitive, so the lag table is exact at "
    "every drain point",
)
def q189_freshness_stream(spark: SparkSession, sf_dir: str) -> DataFrame:

    from striot_spark.functions.analytics import ts_str
    from striot_spark.streaming import runtime as RT

    src = _stage_events_ooo(spark, sf_dir)
    sdf = (
        RT.file_stream(spark, src, max_files_per_trigger=1)
        .filter(F.col("user_id") != BARRIER_USER)
        .select("event_type", "ts", "event_id")
    )
    snap = RT.drain_snapshot(
        RT.upsert_snapshot_sink,
        sdf,
        source_path=src,
        key_cols=["event_type"],
        order_cols=["ts", "event_id"],
        payload_cols=[],
    )
    t = snap.agg(F.max("ts").alias("gmx"))
    return snap.crossJoin(F.broadcast(t)).select(
        "event_type",
        ts_str(F.col("ts")).alias("latest"),
        (F.unix_micros(F.col("gmx")) - F.unix_micros(F.col("ts"))).alias(
            "lag_us"
        ),
    )


@register(
    "q198_debounce_stream",
    DEBOUNCE_ORACLE_CTE
    + """
    SELECT user_id, event_id FROM k WHERE kept
    """,
    doc="q195's keep-dependent debounce ON THE STREAM "
    "(streaming/runtime.py:filter_keep_acc_stream): per-key state = "
    "last KEPT timestamp in exact integer microseconds, advanced "
    "only on kept rows via applyInPandasWithState; in-order replay "
    "(the q89/q90 staging) because burst suppression is inherently "
    "order-sensitive — same recursive-CTE oracle as the batch form, "
    "proving the micro-batched state handoff reproduces the "
    "sequential recurrence exactly",
)
def q198_debounce_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.streaming import runtime as RT

    src = _stage_events(spark, sf_dir)
    sdf = RT.file_stream(spark, src)
    gap_us = 43_200_000_000

    def pred(row: dict, acc) -> bool:
        if acc[0] is None:
            return True
        return row["ts"].value // 1000 - acc[0] >= gap_us

    def step(acc, row: dict):
        return (row["ts"].value // 1000,)

    out = RT.filter_keep_acc_stream(
        sdf,
        step=step,
        init=(None,),
        pred=pred,
        key=["user_id"],
        time_col="ts",
        state_type="last_us long",
        tiebreak="event_id",
    )
    drained = RT.run_available_now(out, mode="append", source_path=src)
    return drained.select("user_id", "event_id")


@register(
    "q206_burst_detection_stream",
    BURST_ORACLE,
    doc="q196's rate-burst monitor fed ON THE STREAM: the "
    "(type, hour) counts are maintained as a complete-mode streaming "
    "aggregation (count is algebraic, so the drained table is "
    "batching- and arrival-order-insensitive — adversarial replay), "
    "and the sliding-median flag is the SAME read-side view the "
    "batch form uses (functions/analytics.py:burst_flags) over the "
    "BOUNDED hour-count table — the monitor never touches raw "
    "events after ingest; same oracle string as q196",
)
def q206_burst_detection_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from striot_spark.functions.analytics import burst_flags
    from striot_spark.streaming import runtime as RT

    src = _stage_events_ooo(spark, sf_dir)
    sdf = RT.file_stream(spark, src, max_files_per_trigger=1).filter(
        F.col("user_id") != BARRIER_USER
    )
    m = RT.run_available_now(hour_counts(sdf), mode="complete", source_path=src)
    return burst_flags(m, "event_type", "b")


@register(
    "q220_stream_exact_dedup",
    """
    SELECT user_id, event_type,
           count(DISTINCT event_id) AS n_events,
           CAST(sum(CAST(round((value)*100.0, 0) AS BIGINT))
               AS BIGINT) AS sum_c
    FROM events GROUP BY user_id, event_type
    """,
    doc="EXACT at-least-once -> exactly-once dedup ON the stream via "
    "Spark's native dropDuplicatesWithinWatermark: the staged replay "
    "delivers every event TWICE (two mtime-ordered copies — the "
    "redelivery a crashing upstream producer causes), the id-keyed "
    "dedup inside the watermark horizon drops the duplicates, and "
    "the downstream per-(user, type) totals equal the oracle over "
    "the ORIGINAL events — sum_c would be doubled if a single "
    "duplicate survived, so the gate is redelivery-sensitive in "
    "every cell. State is bounded by the watermark horizon (ids "
    "older than the delay are evicted), unlike an unwatermarked "
    "dropDuplicates whose state grows forever",
)
def q220_stream_exact_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from striot_spark.functions.analytics import cents
    from striot_spark.streaming import runtime as RT

    def write(out: str):
        base = load_table(spark, sf_dir, "events")
        RT.stage_ordered_files([base, base], out)
        return base.schema

    src = staged(sf_dir, "striot_q220_dup_src_", write)
    sdf = RT.file_stream(spark, src, max_files_per_trigger=1)
    deduped = (
        sdf.withWatermark("ts", "365 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents(F.col("value"))).alias("sum_c"),
        )
    )
    return RT.run_available_now(deduped, mode="complete", source_path=src)


_NEAR_DUP_SQL = """
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
                   AS tk
        FROM documents),
    idx AS (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks),
    sh AS (SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS shingle FROM idx),
    hs AS (SELECT doc_id,
                  ('0x' || substr(md5(shingle), 1, 15))::BIGINT
                      % 2147483647 AS h
           FROM sh),
    sig AS (SELECT doc_id,
                   min((2 * h + 1) % 2147483647) AS mh0,
                   min((3 * h + 7) % 2147483647) AS mh1,
                   min((5 * h + 13) % 2147483647) AS mh2,
                   min((7 * h + 31) % 2147483647) AS mh3
            FROM hs GROUP BY doc_id),
    bands AS (
        SELECT doc_id, 0 AS band,
               mh0::VARCHAR || '_' || mh1::VARCHAR AS sig FROM sig
        UNION ALL
        SELECT doc_id, 1,
               mh2::VARCHAR || '_' || mh3::VARCHAR FROM sig),
    own AS (SELECT band, sig, min(doc_id) AS owner
            FROM bands GROUP BY band, sig),
    dup AS (SELECT DISTINCT b.doc_id FROM bands b
            JOIN own o ON b.band = o.band AND b.sig = o.sig
            WHERE o.owner < b.doc_id)
    SELECT d.doc_id, d.lang FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM dup)
    """


@register(
    "q225_stream_near_dup_filter",
    _NEAR_DUP_SQL,
    doc="ONLINE near-dup suppression AT ingest "
    "(functions/dedup.py:near_dup_filter_stream): the corpus replays "
    "as 5 id-ordered micro-batches, each arriving document registers "
    "its MinHash-LSH bands, and any document sharing a band with an "
    "earlier arrival (prior batch via the band-owner snapshot, same "
    "batch via the batch-internal min) is dropped before it ever "
    "lands — the dedup gate a 100 TB training ingest runs at the "
    "pipe instead of re-clustering after the fact. State is "
    "#band-buckets (not #docs), hash-prefix partitioned: each batch "
    "probes and rewrites only the partitions its bands touch, under "
    "the manifest + run-id crash discipline; kept rows append as "
    "per-batch overwrites so crash-replay cannot double-admit. With "
    "id-ordered arrival, first-wins per bucket == min-id per bucket, "
    "so the oracle is the BATCH near_dup_filter semantics in SQL — "
    "the driver gate proves the streaming fold equals the batch "
    "form. 203/500 fixture docs are suppressed at sf0.01 (gate is "
    "value-sensitive, not vacuous)",
)
def q225_stream_near_dup_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:

    from striot_spark.functions import dedup as D
    from striot_spark.streaming import runtime as RT

    def write(out: str):
        docs = load_table(spark, sf_dir, "documents")
        hi = int(docs.agg(F.max("doc_id")).collect()[0][0]) + 1
        step = (hi + 4) // 5
        chunks = [
            docs.filter(
                (F.col("doc_id") >= i * step)
                & (F.col("doc_id") < (i + 1) * step)
            )
            for i in range(5)
        ]
        RT.stage_ordered_files(chunks, out, order_cols=["doc_id"])
        return docs.schema

    src = staged(sf_dir, "striot_q225_src_", write)
    sdf = RT.file_stream(spark, src, max_files_per_trigger=1)
    out = striot_mkdtemp(prefix="striot_q225_out_")
    snap = striot_mkdtemp(prefix="striot_q225_snap_")
    q = D.near_dup_filter_stream(
        sdf,
        out,
        snap,
        striot_mkdtemp(prefix="striot_q225_ck_"),
        "doc_id",
        "text",
        ["doc_id", "lang"],
        drain_shuffle_partitions=RT.derive_drain_width(spark, src),
    )
    q.awaitTermination()
    return D.read_kept(spark, out)


@register(
    "q229_stream_quantile_bins",
    """
    WITH b AS (
        SELECT CAST(round(value * 100.0, 0) AS BIGINT) // 1000 AS bin,
               count(*) AS n
        FROM events GROUP BY 1),
    c AS (SELECT bin, n, sum(n) OVER (ORDER BY bin ASC) AS cum FROM b),
    nt AS (SELECT sum(n) AS n FROM b),
    t AS (SELECT unnest(range(0, 11)) AS q)
    SELECT CAST(t.q AS BIGINT) AS q, c.bin,
           CAST(c.bin * 1000 AS BIGINT) AS lo_cents
    FROM t CROSS JOIN nt
    JOIN c ON (t.q * (nt.n - 1)) // 10 >= c.cum - c.n
          AND (t.q * (nt.n - 1)) // 10 < c.cum
    """,
    doc="approximate quantiles ON the stream via mergeable bin counts "
    "(functions/analytics.py:binned_quantile_serve): exact quantiles "
    "are not mergeable, but fixed-width (1000-cent) bin counts are "
    "pure addition — the adversarial out-of-order replay maintains "
    "(bin, count) through q138's incremental delta-merge sink "
    "(partitioned manifest + run-id discipline), and serving reconstructs the "
    "DECILE BINS from the #bins-sized snapshot by exact rank "
    "selection at bin resolution: each bin emits the covered decile "
    "indices via an IN-ROW integer sequence explode (zero joins "
    "beyond the broadcast 1-row total — no inequality join in the "
    "Spark plan; the oracle uses the equivalent range-join form over "
    "raw events). Completes the mergeable-sketch family (HLL q139, "
    "CMS q128) with the quantile axis; same additive law means "
    "stream == batch independent of batch boundaries and arrival "
    "order",
)
def q229_stream_quantile_bins(
    spark: SparkSession, sf_dir: str
) -> DataFrame:

    from striot_spark.functions.analytics import (
        binned_quantile_serve,
        cents,
    )
    from striot_spark.streaming import runtime as RT

    src = _stage_events_ooo(spark, sf_dir)
    sdf = (
        RT.file_stream(spark, src, max_files_per_trigger=1)
        .filter(F.col("user_id") != BARRIER_USER)
        .select(cents(F.col("value")).alias("vc"))
        .select(F.expr("vc DIV 1000").alias("bin"))
    )
    snap = RT.drain_snapshot(
        RT.incremental_agg_sink,
        sdf,
        source_path=src,
        key_cols=["bin"],
        sum_cols=[],
    )
    serve = binned_quantile_serve(snap, "bin", "n_rows", ticks=10)
    return serve.select(
        "q", "bin", (F.col("bin") * 1000).cast("long").alias("lo_cents")
    )


def _stage_pair_events(spark: SparkSession, sf_dir: str) -> str:
    """Stage the co-purchase pair OBSERVATIONS (one row per same-order
    partkey pair occurrence, NO pre-aggregation) as three mtime-ordered
    files. Ordered by (u, v), a pair's duplicate observations are
    contiguous, so the third-splits deliberately cut THROUGH pairs —
    the same edge's multiplicity accumulates across micro-batch
    boundaries, which is exactly what the additive ingest sink must
    get right.
    Test staging only (``split_thirds``).
    """
    from striot_spark.streaming.runtime import split_thirds, stage_ordered_files

    def write(out: str):
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
        a = li.alias("a")
        b = li.alias("b")
        pe = a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        ).select(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        stage_ordered_files(
            split_thirds(pe, ["u", "v"]), out, order_cols=["u", "v"]
        )
        return pe.schema

    return staged(sf_dir, "striot_fr_stream_pairs_", write)


def _q239_oracle(rounds: int) -> str:
    """Unrolled WEIGHTED label propagation over the multiplicity
    co-purchase graph (mirrors ``label_propagation(weight=...)``
    consuming the streamed additive edge snapshot)."""
    sql = """
    WITH pe AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v,
               CAST(count(*) AS BIGINT) AS w
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2),
    edges AS (SELECT u AS src, v AS dst, w FROM pe
              UNION ALL SELECT v AS src, u AS dst, w FROM pe),
    nd AS (SELECT DISTINCT src AS node FROM edges),
    l0 AS (SELECT node, node AS label FROM nd)"""
    for i in range(1, rounds + 1):
        sql += f""",
    p{i} AS (
        SELECT node, label FROM (
            SELECT e.dst AS node, l.label, sum(e.w) AS c,
                   row_number() OVER (
                       PARTITION BY e.dst
                       ORDER BY sum(e.w) DESC, l.label ASC) AS rn
            FROM edges e JOIN l{i - 1} l ON l.node = e.src
            GROUP BY e.dst, l.label) t
        WHERE rn = 1),
    l{i} AS (SELECT nd.node, COALESCE(p.label, nd.node) AS label
             FROM nd LEFT JOIN p{i} p ON p.node = nd.node)"""
    return sql + f"\n    SELECT node, label FROM l{rounds}"


@register(
    "q239_lpa_stream_weighted",
    _q239_oracle(rounds=3),
    doc="STREAMING weighted community detection — the streaming "
    "sibling of the q228 LPA family (VERDICT r8 task 8): co-purchase "
    "pair OBSERVATIONS replay as three micro-batches whose splits "
    "deliberately cut through pairs, the additive ingest sink "
    "(incremental_agg_sink keyed on the edge, hash-prefix-partitioned "
    "state) accumulates each edge's MULTIPLICITY across batch "
    "boundaries into a compact #edges-sized snapshot, and serving "
    "runs label_propagation(weight=...) over it — votes are weight "
    "sums (an edge observed w times votes w times, smallest-label "
    "ties), so heavily co-purchased parts pull communities harder "
    "than one-off baskets. Addition is batching/arrival-order "
    "independent and the vote rounds are deterministic, so the "
    "oracle is the batch multiplicity graph + the identical "
    "unrolled weighted rounds",
)
def q239_lpa_stream_weighted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:

    from striot_spark.functions.graph import label_propagation, undirected
    from striot_spark.streaming import runtime as RT

    src = _stage_pair_events(spark, sf_dir)
    sdf = RT.file_stream(spark, src, max_files_per_trigger=1)
    snap = RT.drain_snapshot(
        RT.incremental_agg_sink,
        sdf,
        source_path=src,
        key_cols=["u", "v"],
        sum_cols=[],
    ).select(
        "u", "v", F.col("n_rows").alias("w")
    )
    edges = undirected(snap)
    return label_propagation(
        edges, rounds=3, src="u", dst="v", weight="w"
    )


@register(
    "q240_incremental_extents_stream",
    f"""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round((value)*100.0, 0) AS BIGINT)) AS BIGINT) AS sum_cents,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS first_seen,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_seen
    FROM events GROUP BY user_id
    """,
    doc="streaming incremental MATERIALIZED VIEW with per-key EXTENTS: "
    "incremental_agg_sink(min_cols/max_cols) maintains first/last-seen "
    "timestamps alongside count+sum through the ADVERSARIAL 4-batch "
    "out-of-order replay — min/max are associative, commutative AND "
    "idempotent (a replayed batch cannot move an extent even without "
    "the batch-id guard), so the converged snapshot equals the batch "
    "groupBy regardless of batching and arrival order. Timestamps "
    "emitted canonically (micro precision) per the registry contract; "
    "the freshness/recency column every serving table wants next to "
    "its totals",
)
def q240_incremental_extents_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:

    from striot_spark.functions.analytics import cents, ts_str
    from striot_spark.streaming import runtime as RT

    src = _stage_events_ooo(spark, sf_dir)
    sdf = RT.file_stream(
        spark, src, max_files_per_trigger=1
    ).withColumn("value_c", cents(F.col("value")))
    snap = RT.drain_snapshot(
        RT.incremental_agg_sink,
        sdf,
        source_path=src,
        key_cols=["user_id"],
        sum_cols=["value_c"],
        min_cols=["ts"],
        max_cols=["ts"],
    ).filter(
        F.col("user_id") != BARRIER_USER
    )
    return snap.select(
        "user_id",
        "n_rows",
        F.col("sum_value_c").alias("sum_cents"),
        ts_str(F.col("min_ts")).alias("first_seen"),
        ts_str(F.col("max_ts")).alias("last_seen"),
    )


@register(
    "q273_surprisal_stream",
    SURPRISAL_ORACLE,
    doc="STREAMING ingest-time surprisal scoring — the deployment "
    "shape of q272's quality screen (batch corpus stats, stream "
    "scoring): phase 1 builds the per-token bits table from the "
    "static corpus snapshot (vocab-bounded, q75's collect class) and "
    "inlines it as a MapType literal; phase 2 scores each ARRIVING "
    "document in-row via F.aggregate over its token array — a "
    "STATELESS projection (no state store, no watermark, zero "
    "shuffle on the stream), so the drained result is "
    "batch-deterministic under any replay batching and the oracle is "
    "q272's batch SQL verbatim. A vocab too large to inline would "
    "explode+join per micro-batch (the q108 broadcast-enrich "
    "pattern); the map literal is the 100 TB ingest path as long as "
    "the vocabulary is executor-memory-bounded (64k BPE vocabs are)",
)
def q273_surprisal_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.text import nonempty_tokens
    from striot_spark.streaming import runtime as RT

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(nonempty_tokens(F.col("text"))).alias("tok")
    )
    cnt = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = cnt.agg(F.sum("c").cast("long").alias("total"))
    bits = cnt.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.expr("CAST(length(bin(total DIV c)) - 1 AS BIGINT)").alias(
            "b"
        ),
    )
    pairs = [(r["tok"], int(r["b"])) for r in bits.collect()]
    if pairs:
        args = []
        for t, b in pairs:
            args.append(F.lit(t))
            args.append(F.lit(b))
        bmap = F.create_map(*args)
    else:
        bmap = F.create_map().cast("map<string,bigint>")

    src = _stage_documents(spark, sf_dir)
    sdf = RT.file_stream(spark, src)
    tk = nonempty_tokens(F.col("text"))
    scored = sdf.select(
        "doc_id",
        F.size(tk).cast("long").alias("n_tokens"),
        F.aggregate(
            tk,
            F.lit(0).cast("long"),
            lambda acc, t: acc + F.coalesce(bmap[t], F.lit(0)),
        ).cast("long").alias("surprisal_bits"),
    )
    drained = RT.run_available_now(scored, mode="append", source_path=src)
    return drained.filter(F.col("n_tokens") > 0).select(
        "doc_id",
        "n_tokens",
        "surprisal_bits",
        F.expr(
            "CAST(surprisal_bits * 1000 DIV n_tokens AS BIGINT)"
        ).alias("mean_millibits"),
    )


def _q282_oracle() -> str:
    """q276's scored CTE WITHOUT the top-k: the serve scores every
    arriving document (the oracle recomputes the corpus stats in SQL;
    the stream inlines the identical literals)."""
    from striot_spark.queries.datapipe import (
        _BM25_B_M,
        _BM25_K1_M,
        _BM25_QUERY,
    )

    tok = "list_filter(string_split(text, ' '), x -> x <> '')"
    norm = (
        f"({1000 - _BM25_B_M} + {_BM25_B_M} * len(t) * n_docs // tot)"
    )
    terms = []
    for i, w in enumerate(_BM25_QUERY):
        tf = f"len(list_filter(t, x -> x = '{w}'))"
        sat = (
            f"({tf} * {(_BM25_K1_M + 1000) * 1000000} "
            f"// ({tf} * 1000 + ({_BM25_K1_M} * {norm}) // 1000))"
        )
        idf = f"((n_docs - df{i} + 1) * 1000 // (df{i} + 1))"
        terms.append(f"{sat} * {idf}")
    score = " + ".join(terms)
    dfs = ", ".join(
        f"sum(CASE WHEN list_contains(t, '{w}') THEN 1 ELSE 0 END)"
        f" AS df{i}"
        for i, w in enumerate(_BM25_QUERY)
    )
    return f"""
    WITH toks AS (SELECT doc_id, {tok} AS t FROM documents),
    stats AS (SELECT count(*) AS n_docs, sum(len(t)) AS tot,
                     {dfs}
              FROM toks)
    SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
           CAST({score} AS BIGINT) AS score
    FROM toks, stats
    """


@register(
    "q282_bm25_stream_serve",
    _q282_oracle(),
    doc="STREAMING ingest-time BM25 scoring — q276's deployment shape "
    "and the retrieval member of the serve tier (graphs: "
    "q250/q267/q269; text quality: q273): phase 1 runs "
    "functions/text.py:bm25_corpus_stats on the static corpus "
    "snapshot (ONE scan -> N_docs/total_tokens/per-term dfs) and "
    "inlines them as literals into the SHARED bm25_score_sql "
    "expression — the batch ranker and the stream scorer compute the "
    "bit-identical score BY CONSTRUCTION (same code path builds "
    "both); phase 2 scores every ARRIVING document in-row: a "
    "STATELESS projection (no state store, no watermark, zero "
    "stream-side shuffle), so the drained result is "
    "batch-deterministic under any replay batching and the oracle is "
    "q276's scored CTE without the top-k (a serve emits every doc's "
    "score; ranking/cutoff is the reader's policy). At 100 TB the "
    "stats pass is one scan and ingest scoring rides the stream at "
    "scan speed",
)
def q282_bm25_stream_serve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from striot_spark.functions.text import (
        bm25_corpus_stats,
        bm25_score_sql,
    )
    from striot_spark.queries.datapipe import (
        _BM25_B_M,
        _BM25_K1_M,
        _BM25_QUERY,
    )
    from striot_spark.streaming import runtime as RT

    docs = load_table(spark, sf_dir, "documents")
    n_docs, tot_tokens, dfs = bm25_corpus_stats(
        docs, "text", _BM25_QUERY
    )
    dl_sql, score_sql = bm25_score_sql(
        "text", _BM25_QUERY, dfs, n_docs, tot_tokens,
        _BM25_K1_M, _BM25_B_M,
    )
    src = _stage_documents(spark, sf_dir)
    sdf = RT.file_stream(spark, src)
    scored = sdf.select(
        "doc_id",
        F.expr(dl_sql).alias("dl"),
        F.expr(score_sql).alias("score"),
    )
    drained = RT.run_available_now(scored, mode="append", source_path=src)
    return drained


@register(
    "q286_exp_histogram_stream_serve",
    EXP_HISTOGRAM_ORACLE,
    doc="STREAMING exponential histogram — the claim q284 makes "
    "('the mergeable, streaming-friendly histogram') proven through "
    "the serve tier: the bucket function is a stateless per-row "
    "projection, so arriving events map to (type, bucket) rows "
    "in-flight and the replay-idempotent incremental_agg_sink "
    "maintains per-bucket count + exact cent sum ADDITIVELY — "
    "additive merge is batch-boundary- and arrival-order-independent "
    "by associativity, so the converged snapshot equals the batch "
    "groupBy and the ORACLE IS q284's SQL VERBATIM (the serve-tier "
    "contract: q250/q267/q269 graphs, q273 quality, q282 retrieval, "
    "now observability). Replayed out-of-order in four adversarial "
    "micro-batches (q101's staging); state is #(type,bucket) rows — "
    "~|types| * 64 keys FOREVER, the smallest state any serve here "
    "carries",
)
def q286_exp_histogram_stream_serve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:

    from striot_spark.functions.analytics import cents
    from striot_spark.streaming import runtime as RT

    src = _stage_events_ooo(spark, sf_dir)
    sdf = (
        RT.file_stream(spark, src, max_files_per_trigger=1)
        .filter(F.col("user_id") != BARRIER_USER)
        .select(
            "event_type", cents(F.col("value")).alias("v")
        )
        .filter(F.col("v") >= 1)
        .withColumn(
            "bucket", F.expr("CAST(length(bin(v)) - 1 AS BIGINT)")
        )
    )
    snap = RT.drain_snapshot(
        RT.incremental_agg_sink,
        sdf,
        source_path=src,
        key_cols=["event_type", "bucket"],
        sum_cols=["v"],
    )
    return snap.select(
        "event_type",
        "bucket",
        F.expr("CAST(1 AS BIGINT) << CAST(bucket AS INT)").alias("lo_c"),
        F.expr(
            "(CAST(1 AS BIGINT) << (CAST(bucket AS INT) + 1)) - 1"
        ).alias("hi_c"),
        F.col("n_rows").cast("long").alias("n_events"),
        F.col("sum_v").cast("long").alias("sum_c"),
    )
