"""Operator-coverage queries over the ``events`` stream table.

One query per core operator / window maker / derived pattern from
SURVEY.md §2, each mirrored by a DuckDB oracle. The ``events`` table is
the F1 fixture (FIXTURES.md): ``event_id`` is the dense positional seq
of the reference's lazy list, ``ts`` the event time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from striot_spark.tempdirs import striot_mkdtemp
from striot_spark.functions.analytics import (
    avg_money,
    cents,
    day_str,
    median_money,
    percentile_money,
    sessionize,
    sum_money,
    threshold_cross,
    topk,
    ts_str,
)
from striot_spark.operators import Chop, ChopTime, Sliding
from striot_spark.queries.registry import register
from striot_spark.sources.batch import event_stream, load_table

TS_FMT = "%Y-%m-%d %H:%M:%S.%f"
CENTS_SQL = "CAST(round((value)*100.0, 0) AS BIGINT)"

# shared by q196 (batch) and q206 (stream): the flag view over a
# (type, hour, n) count table — both query forms call
# analytics.burst_flags and both oracles use this string
BURST_ORACLE = f"""
    WITH m AS (
        SELECT event_type, date_trunc('hour', ts) AS b, count(*) AS n
        FROM events GROUP BY 1, 2),
    w AS (
        SELECT event_type, b, n,
               list_sort(list(n) OVER (
                   PARTITION BY event_type ORDER BY b
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)) AS prev
        FROM m)
    SELECT event_type, strftime(b, '{TS_FMT}') AS bucket, n,
           prev[(len(prev) + 1) // 2] AS med_prev
    FROM w
    WHERE len(prev) >= 4 AND 2 * n > 3 * prev[(len(prev) + 1) // 2]
    """

# shared by q195 (batch) and q198 (stream): the per-key debounce
# recurrence as a recursive CTE, up to the kept-rows table ``k``
DEBOUNCE_ORACLE_CTE = """
    WITH RECURSIVE r AS (
        SELECT user_id, ts, event_id,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY ts ASC, event_id ASC) AS rn
        FROM events),
    k AS (
        SELECT user_id, ts, event_id, rn,
               TRUE AS kept, ts AS last_kept
        FROM r WHERE rn = 1
        UNION ALL
        SELECT r.user_id, r.ts, r.event_id, r.rn,
               epoch_us(r.ts) - epoch_us(k.last_kept) >= 43200000000
                   AS kept,
               CASE WHEN epoch_us(r.ts) - epoch_us(k.last_kept)
                         >= 43200000000
                    THEN r.ts ELSE k.last_kept END AS last_kept
        FROM k JOIN r
          ON r.user_id = k.user_id AND r.rn = k.rn + 1)"""



# -- streamFilter + streamMap (ops #1, #2) -----------------------------------
@register(
    "q01_filter_map",
    """
    SELECT event_id, event_type,
           round(value * 1.1 * 100.0, 0) / 100.0 AS boosted
    FROM events WHERE value > 100
    """,
    doc="streamFilter + streamMap (FunctionalProcessing.hs:59-71). "
    "Rounding happens at 0 decimals in the cents domain: the .5 tie "
    "boundary is exactly representable there, so Spark (BigDecimal "
    "shortest-repr) and DuckDB (binary) rounding agree.",
)
def q01_filter_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = event_stream(spark, sf_dir)
    boosted = F.round(F.col("value") * F.lit(1.1) * F.lit(100.0), 0) / F.lit(100.0)
    return (
        s.filter(F.col("value") > 100)
        .map("event_type", boosted=boosted)
        .df.select("event_id", "event_type", "boosted")
    )


# -- streamExpand (op #4) ----------------------------------------------------
# shared by q02 (batch) and q121 (stream), as is ``token_counts``
TOKEN_COUNTS_ORACLE = """
    SELECT token, count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
    WHERE token <> '' GROUP BY token
    """


@register(
    "q02_expand_tokens",
    TOKEN_COUNTS_ORACLE,
    doc="streamExpand: explode word tokens (FunctionalProcessing.hs:206-210; "
    "hashtag example examples/expand/generate.hs:31-36)",
)
def q02_expand_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_counts(load_table(spark, sf_dir, "documents"))


def token_counts(docs: DataFrame) -> DataFrame:
    """Word-token counts over a documents frame, batch or streaming."""
    from striot_spark.core import Stream

    return (
        Stream(docs)
        .with_columns(tokens=F.split(F.col("text"), " "))
        .expand("tokens", alias="token")
        .filter(F.col("token") != "")
        .df.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# -- streamMerge (op #5) -----------------------------------------------------
# shared by q03 (batch) and q120 (stream), as is ``merge_clicks_views``
MERGE_ORACLE = f"""
    SELECT event_id, strftime(ts, '{TS_FMT}') AS ts_s, 'clicks' AS src, value
    FROM events WHERE event_type = 'click'
    UNION ALL
    SELECT event_id, strftime(ts, '{TS_FMT}') AS ts_s, 'views' AS src, value
    FROM events WHERE event_type = 'view'
    """


@register(
    "q03_merge",
    MERGE_ORACLE,
    doc="streamMerge: n-way union (FunctionalProcessing.hs:135-144)",
)
def q03_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    return merge_clicks_views(event_stream(spark, sf_dir))


def merge_clicks_views(s) -> DataFrame:
    """Clicks and views of an event ``Stream``, tagged and merged."""
    clicks = s.filter(F.col("event_type") == "click").map(
        "event_id", ts_s=ts_str(F.col("ts")), src=F.lit("clicks"), value=F.col("value")
    )
    views = s.filter(F.col("event_type") == "view").map(
        "event_id", ts_s=ts_str(F.col("ts")), src=F.lit("views"), value=F.col("value")
    )
    return clicks.merge(views).df.select("event_id", "ts_s", "src", "value")


# -- streamWindow: chop n (count tumbling) -----------------------------------
@register(
    "q04_chop_count_window",
    f"""
    SELECT event_id // 100 AS window_id, count(*) AS n,
           sum({CENTS_SQL}) / 100.0 AS sum_value
    FROM events GROUP BY 1
    """,
    doc="chop n: tumbling count window by dense-seq arithmetic — no global "
    "sort (FunctionalProcessing.hs:113-116)",
)
def q04_chop(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = event_stream(spark, sf_dir)
    out = s.window_agg(
        Chop(100),
        {"n": F.count(F.lit(1)), "sum_value": sum_money(F.col("value"))},
    )
    return out.df.select("window_id", "n", "sum_value")


# -- streamWindow: chopTime (time tumbling) ----------------------------------
# shared by q05 (batch) and q78 (stream), as is ``daily_value_stats``
CHOPTIME_ORACLE = f"""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           count(*) AS n,
           sum({CENTS_SQL}) / 100.0 AS sum_value,
           sum({CENTS_SQL}) / count(*) / 100.0 AS avg_value
    FROM events GROUP BY 1
    """


@register(
    "q05_choptime_window",
    CHOPTIME_ORACLE,
    doc="chopTime: tumbling time window, epoch-aligned Spark window() "
    "(FunctionalProcessing.hs:118-126; alignment delta documented)",
)
def q05_choptime(spark: SparkSession, sf_dir: str) -> DataFrame:
    return daily_value_stats(event_stream(spark, sf_dir))


def daily_value_stats(s) -> DataFrame:
    """Per-day count, sum and mean of an event ``Stream``'s values: a
    grouped window on a batch frame, a watermarked event-time window on
    a streaming one (``Stream.window_agg``)."""
    out = s.window_agg(
        ChopTime("1 day"),
        {
            "n": F.count(F.lit(1)),
            "sum_value": sum_money(F.col("value")),
            "avg_value": avg_money(F.col("value")),
        },
        keep_window_time=True,
    )
    return out.df.select(
        day_str(F.col("window_start")).alias("day"), "n", "sum_value", "avg_value"
    )


# -- streamWindow: sliding n (analytic frame, no row multiplication) ---------
@register(
    "q06_sliding_count_window",
    f"""
    SELECT event_id,
           (sum({CENTS_SQL}) OVER w) / (count(*) OVER w) / 100.0 AS sliding_avg
    FROM events
    WINDOW w AS (ORDER BY event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
    doc="sliding n: count-based sliding window as rowsBetween frame "
    "(FunctionalProcessing.hs:93-97); global order = correctness oracle, "
    "keyed form parallelizes",
)
def q06_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = event_stream(spark, sf_dir)
    out = s.window_agg(
        Sliding(5),
        {
            "c_": F.count(F.lit(1)),
            "s_": F.sum(cents(F.col("value"))),
        },
    )
    return out.df.select(
        "event_id", (F.col("s_") / F.col("c_") / F.lit(100.0)).alias("sliding_avg")
    )


# -- streamScan (op #7, algebraic path) --------------------------------------
@register(
    "q07_scan_running_sum",
    f"""
    SELECT event_id, user_id,
           sum({CENTS_SQL}) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0
               AS running_total
    FROM events
    """,
    doc="streamScan: per-key cumulative sum (FunctionalProcessing.hs:188-191; "
    "running-aggregate pattern WearableStreams.hs:77-92)",
)
def q07_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = event_stream(spark, sf_dir)
    out = s.scan({"rt_": F.sum(cents(F.col("value")))}, key=["user_id"])
    return out.df.select(
        "event_id", "user_id", (F.col("rt_") / F.lit(100.0)).alias("running_total")
    )


# -- streamFilterAcc: dedup-on-change (op #8) --------------------------------
@register(
    "q08_changes_dedup",
    """
    SELECT event_id, user_id, event_type
    FROM (SELECT event_id, user_id, event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev_type
          FROM events) t
    WHERE prev_type IS NULL OR prev_type <> event_type
    """,
    doc="streamFilterAcc as dedup-on-change (FunctionalProcessing.hs:181-185; "
    "docs/Operators.md:109-119, Taxi.hs:156-157)",
)
def q08_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = event_stream(spark, sf_dir)
    return s.changes("event_type", key=["user_id"]).df.select(
        "event_id", "user_id", "event_type"
    )


# -- streamFilterAcc: 1-in-n sampling ----------------------------------------
@register(
    "q09_sample",
    """
    SELECT event_id, event_type, value FROM events WHERE event_id % 10 = 0
    """,
    doc="sample n: 1-in-n systematic sampling (FunctionalProcessing.hs:258-259) "
    "— dense seq makes it a pushed-down arithmetic filter",
)
def q09_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = event_stream(spark, sf_dir)
    return s.sample(10).df.select("event_id", "event_type", "value")


# -- streamJoin: positional zip (op #6) --------------------------------------
# shared by q10 (batch) and q123 (stream)
ZIP_ORACLE = """
    WITH c AS (SELECT row_number() OVER (ORDER BY ts, event_id) - 1 AS zip_pos,
                      event_id, value
               FROM events WHERE event_type = 'click'),
         v AS (SELECT row_number() OVER (ORDER BY ts, event_id) - 1 AS zip_pos,
                      event_id, value
               FROM events WHERE event_type = 'view')
    SELECT c.zip_pos, c.event_id AS click_id, v.event_id AS view_id,
           c.value AS click_value, v.value AS view_value
    FROM c JOIN v USING (zip_pos)
    """


@register(
    "q10_zip_join",
    ZIP_ORACLE,
    doc="streamJoin: positional pairwise zip of two streams "
    "(FunctionalProcessing.hs:148-155) via row_number equi-join",
)
def q10_zip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = event_stream(spark, sf_dir)
    clicks = s.filter(F.col("event_type") == "click")
    views = s.filter(F.col("event_type") == "view")
    j = clicks.zip_join(views)
    return j.df.select(
        "zip_pos",
        F.col("l_event_id").alias("click_id"),
        F.col("r_event_id").alias("view_id"),
        F.col("l_value").alias("click_value"),
        F.col("r_value").alias("view_value"),
    )


# -- topk / freqMap (Taxi.hs:160-169) ----------------------------------------
@register(
    "q11_topk_per_window",
    """
    WITH counts AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               event_type, count(*) AS n
        FROM events GROUP BY 1, 2)
    SELECT day, event_type, n, rnk
    FROM (SELECT day, event_type, n,
                 rank() OVER (PARTITION BY day
                              ORDER BY n DESC, event_type ASC) AS rnk
          FROM counts) t
    WHERE rnk <= 3
    """,
    doc="topk per window: freqMap + rank, pure DataFrame (Taxi.hs:160-169)",
)
def q11_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn("day", day_str(F.col("ts")))
    return topk(ev, ["day"], "event_type", 3).select("day", "event_type", "n", "rnk")


# -- sessionization (WearableStreams.hs:175-189) -----------------------------
@register(
    "q12_sessionize",
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
               CAST(sum(ns) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS session_id
        FROM flags)
    SELECT user_id, session_id, count(*) AS n,
           strftime(min(ts), '{TS_FMT}') AS session_start,
           strftime(max(ts), '{TS_FMT}') AS session_end
    FROM s GROUP BY 1, 2
    """,
    doc="sessionization: 30-min gap sessions, gaps-and-islands in batch "
    "(reference builds via streamScan, WearableStreams.hs:175-189; "
    "streaming mode uses native session_window)",
)
def q12_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sess = sessionize(ev, "ts", 30, ["user_id"], order_cols=["ts", "event_id"])
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n"),
        ts_str(F.min("ts")).alias("session_start"),
        ts_str(F.max("ts")).alias("session_end"),
    )


# -- median / percentiles (Taxi.hs:269-277) ----------------------------------
@register(
    "q13_percentiles",
    f"""
    SELECT event_type,
           quantile_cont({CENTS_SQL}, 0.5) / 100.0 AS median_value,
           round(quantile_cont({CENTS_SQL}, 0.9) / 100.0, 4) AS p90_value,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
    doc="exact median/percentile over integer cents (profit/median pattern, "
    "Taxi.hs:269-277); percentile_approx is the at-scale variant",
)
def q13_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        median_money(F.col("value")).alias("median_value"),
        F.round(percentile_money(F.col("value"), 0.9), 4).alias("p90_value"),
        F.count(F.lit(1)).alias("n"),
    )


# -- frequency histogram -----------------------------------------------------
@register(
    "q14_value_histogram",
    """
    SELECT CAST(floor(value / 50.0) AS BIGINT) AS bucket, count(*) AS n
    FROM events GROUP BY 1
    """,
    doc="freqMap / histogram (Taxi.hs:164-165, WearableStreams.hs:116-121)",
)
def q14_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.floor(F.col("value") / F.lit(50.0)).cast("long").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))


# -- threshold crossing (WearableExample.hs:72-85) ---------------------------
@register(
    "q15_threshold_cross",
    """
    SELECT event_id, prev_value, value
    FROM (SELECT event_id, value,
                 lag(value) OVER (ORDER BY ts, event_id) AS prev_value
          FROM events) t
    WHERE prev_value > 100 AND value <= 100
    """,
    doc="streamFilterAcc as threshold-crossing CEP (stepEvent, "
    "WearableExample.hs:72-85): prev > thr AND cur <= thr",
)
def q15_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = threshold_cross(ev, "value", 100, ["ts", "event_id"])
    return out.select("event_id", "prev_value", "value")


# -- step count: crossing per tumbling window (WearableExample.hs:95-96) -----
@register(
    "q16_step_count",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, count(*) AS n_steps
    FROM (SELECT ts, value,
                 lag(value) OVER (ORDER BY ts, event_id) AS prev_value
          FROM events) t
    WHERE prev_value > 100 AND value <= 100
    GROUP BY 1
    """,
    doc="stepCount: crossings per tumbling time window "
    "(WearableExample.hs:95-96)",
)
def q16_step_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = threshold_cross(ev, "value", 100, ["ts", "event_id"])
    return out.groupBy(day_str(F.col("ts")).alias("day")).agg(
        F.count(F.lit(1)).alias("n_steps")
    )


# -- memoized map / streamMapCache (examples/caching/Caching.hs:15-20) -------
_CHANNEL_MAP = {
    "click": "engagement",
    "view": "engagement",
    "signup": "conversion",
    "purchase": "conversion",
    "error": "ops",
}


@register(
    "q47_broadcast_enrich",
    f"""
    SELECT CASE event_type
             WHEN 'click' THEN 'engagement'
             WHEN 'view' THEN 'engagement'
             WHEN 'signup' THEN 'conversion'
             WHEN 'purchase' THEN 'conversion'
             WHEN 'error' THEN 'ops'
             ELSE 'other' END AS channel,
           count(*) AS n,
           sum({CENTS_SQL}) / 100.0 AS sum_value
    FROM events GROUP BY 1
    """,
    doc="memoized map (streamMapCache, Caching.hs:15-20) as a broadcast "
    "lookup: the dict becomes a literal MapType Catalyst constant "
    "shipped once per stage — no shuffle, no UDF, no per-row Python",
)
def q47_broadcast_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.caching import broadcast_lookup

    ev = load_table(spark, sf_dir, "events")
    enriched = broadcast_lookup(
        ev, _CHANNEL_MAP, "event_type", "channel", default="other"
    )
    return enriched.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n"), sum_money(F.col("value")).alias("sum_value")
    )


# -- full wearable chain (WearableExample.hs:66-96) --------------------------
@register(
    "q49_wearable_chain",
    f"""
    WITH f AS (
        SELECT event_id, ts, user_id, value FROM events
        WHERE event_type IN ('click', 'view')),
    m AS (
        SELECT ts, event_id,
               CAST(floor(sqrt(value*value + (user_id%16)*(user_id%16)))
                    AS BIGINT) AS ed
        FROM f),
    c AS (SELECT ts, ed, lag(ed) OVER (ORDER BY ts, event_id) AS prev FROM m)
    SELECT ((epoch_us(ts) // 1000000) // 86400) * 86400 AS window_id,
           count(*) AS n_steps
    FROM c WHERE prev > 120 AND ed <= 120 GROUP BY 1
    """,
    doc="the full wearable pipeline as ONE Stream-API chain — "
    "streamFilter (vibe) >>> streamMap (intSqrt Euclidean distance) >>> "
    "streamFilterAcc (stepEvent crossing) >>> chopTime count (stepCount); "
    "WearableExample.hs:66-96, stays declarative end-to-end",
)
def q49_wearable_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = event_stream(spark, sf_dir)
    ed = F.floor(
        F.sqrt(
            F.col("value") * F.col("value")
            + (F.col("user_id") % 16) * (F.col("user_id") % 16)
        )
    ).cast("long")
    chain = (
        s.filter(F.col("event_type").isin("click", "view"))
        .map("event_id", ed=ed)
        .filter_acc(
            lambda prev, cur: (prev > 120) & (cur <= 120), "ed", keep_first=False
        )
    )
    out = chain.window_agg(ChopTime("1 day"), {"n_steps": F.count(F.lit(1))})
    return out.df.select("window_id", "n_steps")


# -- arbitrary whole-window aggregator (streamWindowAggregate with a ---------
# -- user fold, FunctionalProcessing.hs:89-90) -------------------------------
@register(
    "q50_window_custom_fold",
    f"""
    WITH w AS (
        SELECT ((epoch_us(ts) // 1000000) // 86400) * 86400 AS window_id,
               ts, event_id, {CENTS_SQL} AS c
        FROM events),
    l AS (
        SELECT window_id, c,
               lag(c) OVER (PARTITION BY window_id
                            ORDER BY ts, event_id) AS prev
        FROM w)
    SELECT window_id,
           CAST(sum(CASE WHEN prev IS NULL THEN 0
                         ELSE (c - prev) * (c - prev) END) AS BIGINT)
               AS roughness,
           count(*) AS n
    FROM l GROUP BY 1
    """,
    doc="streamWindowAggregate with an ARBITRARY window function "
    "(FunctionalProcessing.hs:89-90: any [a] -> b): sum of squared "
    "consecutive deltas per day, as a declarative in-row fold over "
    "sort_array(collect_list(...)) — exact integer cents, no Python",
)
def q50_window_custom_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sec = F.col("ts").cast("long")
    grouped = ev.groupBy(
        (sec - sec % 86400).alias("window_id")
    ).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("ts"), F.col("event_id"), cents(F.col("value")).alias("c")
                )
            )
        ).alias("wnd"),
        F.count(F.lit(1)).alias("n"),
    )
    fold = F.expr(
        """
        aggregate(
          wnd,
          named_struct('prev', CAST(NULL AS BIGINT), 'acc', CAST(0 AS BIGINT)),
          (s, x) -> named_struct(
              'prev', x.c,
              'acc', s.acc + CASE WHEN s.prev IS NULL THEN CAST(0 AS BIGINT)
                                  ELSE (x.c - s.prev) * (x.c - s.prev) END),
          s -> s.acc)
        """
    )
    return grouped.select("window_id", fold.alias("roughness"), "n")


# -- dataless-event pass-through across map/scan/filterAcc -------------------
@register(
    "q66_null_passthrough_chain",
    f"""
    WITH src AS (
        SELECT event_id, ts, user_id,
               CASE WHEN event_type <> 'view' THEN value END AS value
        FROM events),
    m AS (
        SELECT event_id, ts, user_id, value * 2 AS doubled FROM src),
    sc AS (
        SELECT event_id, ts, user_id, doubled,
               CASE WHEN doubled IS NOT NULL THEN
                   sum(CAST(round((doubled)*100.0, 0) AS BIGINT)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   / 100.0
               END AS running_total,
               last_value(doubled IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
        FROM m)
    SELECT event_id, user_id, doubled, running_total
    FROM sc
    WHERE doubled IS NULL OR prev IS NULL OR doubled <> prev
    """,
    doc="the reference's dataless-event rule through a full operator "
    "chain (FunctionalProcessing.hs:70,185,191): 'view' events are "
    "stripped to timestamp-only, then map doubles (NULL passes), scan "
    "accumulates a running cents total (NULL emits NULL, accumulator "
    "untouched), and filterAcc dedup-on-change compares each data event "
    "against the last NON-NULL value while NULL events always pass",
)
def q66_null_passthrough_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = event_stream(spark, sf_dir)
    # strip 'view' payloads -> timestamp-only events
    s = s.with_columns(
        value=F.when(F.col("event_type") != "view", F.col("value"))
    )
    s = s.map("user_id", null_passthrough="value", doubled=F.col("value") * 2)
    s = s.scan(
        {"rt_": F.sum(cents(F.col("doubled")))},
        key=["user_id"],
        null_passthrough="doubled",
    )
    s = s.filter_acc(
        lambda prev, cur: prev != cur,
        "doubled",
        key=["user_id"],
        keep_first=True,
        null_passthrough=True,
    )
    return s.df.select(
        "event_id",
        "user_id",
        "doubled",
        (F.col("rt_") / F.lit(100.0)).alias("running_total"),
    )


# -- untimed positional joinE (different window sizes per side) --------------
@register(
    "q67_joine_positional_untimed",
    """
    WITH l AS (
        SELECT event_id, value,
               CAST(floor((row_number() OVER (ORDER BY ts, event_id) - 1)
                    / 4) AS BIGINT) AS window_id
        FROM events WHERE event_type = 'click'),
    r AS (
        SELECT event_id, value,
               CAST(floor((row_number() OVER (ORDER BY ts, event_id) - 1)
                    / 6) AS BIGINT) AS window_id
        FROM events WHERE event_type = 'purchase')
    SELECT l.window_id AS window_id,
           l.event_id AS click_id,
           r.event_id AS purchase_id
    FROM l JOIN r USING (window_id)
    WHERE l.value > r.value
    """,
    doc="the reference's PURELY POSITIONAL streamJoinE for untimed "
    "streams (FunctionalProcessing.hs:161-173, fwm1/=fwm2): i-th "
    "count-window of clicks (chop 4) zips with the i-th of purchases "
    "(chop 6), cartesian within the pair + theta; a count window's id "
    "IS its ordinal, so the zip is an equi-join — and the filtered "
    "streams exercise the two-pass partition-offset numbering fallback "
    "(never a single-partition sort)",
)
def q67_joine_positional_untimed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.operators.windows import WINDOW_ID

    s = event_stream(spark, sf_dir)
    clicks = s.filter(F.col("event_type") == "click")
    purchases = s.filter(F.col("event_type") == "purchase")
    out = clicks.join_e(
        purchases,
        Chop(4),
        F.col("l_value") > F.col("r_value"),
        r_maker=Chop(6),
    )
    return out.df.select(
        F.col(WINDOW_ID).alias("window_id"),
        F.col("l_event_id").alias("click_id"),
        F.col("r_event_id").alias("purchase_id"),
    )


# shared by q107 (batch) and q125 (stream)
LATEST_SNAPSHOT_ORACLE = f"""
    SELECT user_id, event_id AS last_event_id,
           event_type AS last_type,
           strftime(ts, '{TS_FMT}') AS last_ts,
           {CENTS_SQL} AS last_value_c
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) t
    WHERE rn = 1
    """


@register(
    "q107_latest_snapshot",
    LATEST_SNAPSHOT_ORACLE,
    doc="latest-wins CDC/upsert compaction (SCD type 1): one row per "
    "key carrying the payload of its (ts, event_id)-latest change. "
    "Lowered as ONE groupBy with max_by on a payload struct — map-side "
    "partial aggregation pre-reduces each task to one candidate per "
    "key, so the shuffle carries candidates, not history (the window "
    "row_number form the oracle uses would sort every key's full "
    "history); plan-gated: no Window/Sort, single exchange",
)
def q107_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.analytics import cents, latest_snapshot, ts_str

    ev = load_table(spark, sf_dir, "events").withColumn(
        "value_c", cents(F.col("value"))
    )
    snap = latest_snapshot(
        ev,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        payload_cols=["event_id", "event_type", "ts", "value_c"],
    )
    return snap.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_type"),
        ts_str(F.col("ts")).alias("last_ts"),
        F.col("value_c").alias("last_value_c"),
    )


@register(
    "q134_scd2_history",
    f"""
    SELECT user_id, event_type, {CENTS_SQL} AS value_c,
           strftime(ts, '{TS_FMT}') AS valid_from,
           strftime(lead(ts) OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_id ASC),
               '{TS_FMT}') AS valid_to
    FROM events
    """,
    doc="SCD type-2 expansion of the change log: every event becomes a "
    "validity interval [its ts, the key's next change), null while "
    "current — the full-history companion to q107's latest-wins "
    "compaction; any past state is then a filter, not a replay. One "
    "window lead per key (parallel at any key cardinality); ties "
    "totally ordered by event_id so overwritten tied rows carry empty "
    "intervals (functions/analytics.py:scd2_history)",
)
def q134_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.analytics import cents, scd2_history, ts_str

    ev = load_table(spark, sf_dir, "events").withColumn(
        "value_c", cents(F.col("value"))
    )
    hist = scd2_history(
        ev,
        key_cols=["user_id"],
        ts_col="ts",
        tiebreak_col="event_id",
        payload_cols=["event_type", "value_c"],
    )
    return hist.select(
        "user_id",
        "event_type",
        "value_c",
        ts_str(F.col("valid_from")).alias("valid_from"),
        ts_str(F.col("valid_to")).alias("valid_to"),
    )


@register(
    "q135_snapshot_asof",
    f"""
    SELECT user_id, event_type AS type_asof, {CENTS_SQL} AS value_c
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00') t
    WHERE rn = 1
    """,
    doc="point-in-time ('time travel') read: the state of the world at "
    "an instant, computed as a pure scan-side interval filter over the "
    "q134 SCD-2 history (valid_from <= T < valid_to) — no join, no "
    "window at read time; the oracle recomputes it as latest-wins over "
    "the truncated log (functions/analytics.py:snapshot_asof)",
)
def q135_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    from striot_spark.functions.analytics import (
        cents,
        scd2_history,
        snapshot_asof,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "value_c", cents(F.col("value"))
    )
    hist = scd2_history(
        ev,
        key_cols=["user_id"],
        ts_col="ts",
        tiebreak_col="event_id",
        payload_cols=["event_type", "value_c"],
    )
    snap = snapshot_asof(hist, datetime.datetime(2024, 1, 15, 0, 0, 0))
    return snap.select(
        "user_id",
        F.col("event_type").alias("type_asof"),
        "value_c",
    )


@register(
    "q146_interarrival_stats",
    """
    WITH g AS (
        SELECT user_id,
               epoch_us(ts) - epoch_us(lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
                   AS gap_us
        FROM events)
    SELECT user_id,
           count(*) AS n_events,
           count(gap_us) AS n_gaps,
           min(gap_us) AS min_gap_us,
           max(gap_us) AS max_gap_us,
           CAST(sum(gap_us) AS BIGINT) AS sum_gap_us
    FROM g GROUP BY user_id
    """,
    doc="per-entity inter-arrival time features (the IoT/behavioral "
    "cadence signal: burstiness, dormancy, rate): consecutive-event "
    "gaps from one per-key window lag in exact integer microseconds, "
    "then a key groupBy with map-side partials — min/max/sum+count "
    "are emitted instead of a float mean so the gate and any "
    "downstream mean (sum DIV n) stay engine-exact. Window is "
    "partitioned by the key: parallel at any key cardinality",
)
def q146_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(
        F.lag(F.col("ts")).over(w)
    )
    g = ev.select("user_id", gap.alias("gap_us"))
    return g.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("gap_us").alias("n_gaps"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
        F.sum("gap_us").alias("sum_gap_us"),
    )


# shared by q148 (batch) and q150 (stream), as is ``events_digest``
TABLE_DIGEST_ORACLE = f"""
    WITH p AS (
        SELECT COALESCE(md5(CAST(event_id AS VARCHAR)), '<NULL>') ||
               COALESCE(md5(CAST(user_id AS VARCHAR)), '<NULL>') ||
               COALESCE(md5(event_type), '<NULL>') ||
               COALESCE(md5(CAST({CENTS_SQL} AS VARCHAR)), '<NULL>')
                   AS s
        FROM events),
    h AS (SELECT ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647
              AS hv
          FROM p)
    SELECT hv % 64 AS bucket, count(*) AS n_rows,
           CAST(sum(hv) % 2147483647 AS BIGINT) AS digest
    FROM h GROUP BY hv % 64
    """


@register(
    "q148_table_digest",
    TABLE_DIGEST_ORACLE,
    doc="order-insensitive bucketed table content digest "
    "(functions/analytics.py:table_digest): per-row injection-safe "
    "column-wise md5 fold, per-bucket row count + modular SUM of row "
    "hashes (commutative, so identical on any engine/partitioning; "
    "unlike XOR, duplicates do not cancel) — the replication/"
    "migration validation primitive: compare two copies by comparing "
    "64 digest rows, mismatches localize to a bucket. One scan, one "
    "bucket-row aggregate with map-side partials",
)
def q148_table_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events_digest(load_table(spark, sf_dir, "events"))


def events_digest(ev: DataFrame) -> DataFrame:
    """The 64-bucket content digest of an events frame, batch or
    streaming (count and modular sum are order-insensitive)."""
    from striot_spark.functions.analytics import table_digest

    ev = ev.select(
        "event_id",
        "user_id",
        "event_type",
        cents(F.col("value")).alias("value_c"),
    )
    return table_digest(
        ev, ["event_id", "user_id", "event_type", "value_c"]
    )


@register(
    "q153_conversion_funnel",
    f"""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    s1 AS (SELECT user_id, min(ts) AS t_view FROM events
           WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(e.ts) AS t_click
           FROM events e JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.ts > s1.t_view
           GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(e.ts) AS t_purchase
           FROM events e JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s2.t_click
           GROUP BY e.user_id)
    SELECT u.user_id,
           strftime(s1.t_view, '{TS_FMT}') AS t_view,
           strftime(s2.t_click, '{TS_FMT}') AS t_click,
           strftime(s3.t_purchase, '{TS_FMT}') AS t_purchase
    FROM u
    LEFT JOIN s1 ON u.user_id = s1.user_id
    LEFT JOIN s2 ON u.user_id = s2.user_id
    LEFT JOIN s3 ON u.user_id = s3.user_id
    """,
    doc="ordered conversion funnel (view THEN click THEN purchase): "
    "per entity, the earliest completion of each stage STRICTLY after "
    "the previous one — the sequenced CEP pattern, lowered as one "
    "conditional-min key aggregation per stage with the prior stage "
    "time equi-joined back (len(stages) key shuffles, map-side "
    "partials, one row per entity of state; no window over full "
    "histories, no collect) "
    "(functions/analytics.py:funnel)",
)
def q153_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.analytics import funnel, ts_str

    ev = load_table(spark, sf_dir, "events")
    out = funnel(
        ev, ["user_id"], "ts", "event_type", ["view", "click", "purchase"]
    )
    return out.select(
        "user_id",
        ts_str(F.col("t_view")).alias("t_view"),
        ts_str(F.col("t_click")).alias("t_click"),
        ts_str(F.col("t_purchase")).alias("t_purchase"),
    )


@register(
    "q154_retention_cohorts",
    """
    WITH a AS (
        SELECT DISTINCT user_id,
               date_diff('day', TIMESTAMP '2024-01-01', ts) // 7 AS wk
        FROM events),
    f AS (SELECT user_id, min(wk) AS cohort FROM a GROUP BY user_id)
    SELECT f.cohort, a.wk - f.cohort AS period_offset,
           count(*) AS n_active
    FROM a JOIN f ON a.user_id = f.user_id
    GROUP BY f.cohort, a.wk - f.cohort
    """,
    doc="weekly cohort retention triangle: entities grouped by their "
    "first-active week, counted in every week they return — pure "
    "integer period arithmetic (datediff DIV 7 from a fixed origin). "
    "One distinct over (entity, period) dedups multi-event weeks so "
    "the cell count is a plain count(*); three key shuffles total, "
    "nothing scales with events-per-entity past the first scan "
    "(functions/analytics.py:retention_cohorts)",
)
def q154_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.analytics import retention_cohorts

    ev = load_table(spark, sf_dir, "events")
    return retention_cohorts(ev, ["user_id"], "ts", "2024-01-01")


@register(
    "q155_rolling_active_users",
    """
    WITH a AS (
        SELECT DISTINCT user_id,
               CAST(date_diff('day', TIMESTAMP '2024-01-01', ts)
                    AS BIGINT) AS d
        FROM events),
    cover AS (
        SELECT DISTINCT user_id, d + g.o AS target_d
        FROM a, (SELECT unnest(range(0, 7)) AS o) g),
    days AS (SELECT DISTINCT d FROM a)
    SELECT c.target_d AS day_idx, count(*) AS active_7d
    FROM cover c JOIN days ON c.target_d = days.d
    GROUP BY c.target_d
    """,
    doc="EXACT rolling 7-day active entities per day (the WAU shape — "
    "the classic hard-at-scale sliding DISTINCT): each distinct "
    "(entity, day) activity is expanded to the 7 target days it "
    "covers, re-deduped, and counted — a bounded x7 row expansion of "
    "the (entity, day) table, never of raw events, so cost scales "
    "with active-pairs not event volume; emitted only for days with "
    "actual activity. Compare q156: the same curve from mergeable "
    "HLL registers",
)
def q155_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    a = ev.select(
        "user_id",
        F.datediff(F.col("ts"), F.lit("2024-01-01"))
        .cast("long")
        .alias("d"),
    ).distinct()
    cover = (
        a.select(
            "user_id",
            F.explode(
                F.array(*[F.col("d") + F.lit(o) for o in range(7)])
            ).alias("target_d"),
        )
        .distinct()
    )
    days = a.select("d").distinct()
    return (
        cover.join(days, cover["target_d"] == days["d"])
        .groupBy(F.col("target_d").alias("day_idx"))
        .agg(F.count(F.lit(1)).alias("active_7d"))
    )


@register(
    "q156_hll_rolling_merge",
    """
    WITH a AS (
        SELECT DISTINCT CAST(user_id AS VARCHAR) AS uid,
               CAST(date_diff('day', TIMESTAMP '2024-01-01', ts)
                    AS BIGINT) AS d
        FROM events),
    h AS (SELECT d, ('0x' || substr(md5(uid), 1, 15))::BIGINT AS hv
          FROM a),
    r AS (
        SELECT d, hv % 64 AS bucket,
               CASE WHEN (hv // 64) = 0 THEN 40
                    ELSE least(bit_count(((hv // 64) & (-(hv // 64))) - 1)
                               + 1, 40)
               END AS rho
        FROM h),
    regs AS (SELECT d, bucket, max(rho) AS reg FROM r GROUP BY d, bucket),
    cover AS (
        SELECT regs.d + g.o AS day_idx, regs.bucket, regs.reg
        FROM regs, (SELECT unnest(range(0, 7)) AS o) g),
    merged AS (
        SELECT day_idx, bucket, max(reg) AS reg
        FROM cover GROUP BY day_idx, bucket),
    g AS (SELECT day_idx, count(*) AS n_obs,
                 sum((1::BIGINT << (40 - reg))) AS s_obs
          FROM merged GROUP BY day_idx),
    days AS (SELECT DISTINCT d FROM a)
    SELECT g.day_idx,
           CAST((709 * 64 * 64 * (1::BIGINT << 40)) //
                (1000 * (s_obs + (64 - n_obs) * (1::BIGINT << 40)))
                AS BIGINT) AS hll_active_7d
    FROM g JOIN days ON g.day_idx = days.d
    """,
    doc="q155's rolling 7-day active curve from MERGEABLE HLL "
    "registers — the property that makes sketches the scale answer "
    "for sliding distinct: per-day registers are built once (one "
    "pass), and a window is a register-wise MAX of its days (7 tiny "
    "rows per bucket), never a re-scan of the entities. At 100 TB the "
    "exact q155 expansion grows with active-pairs x window; this "
    "grows with days x 64 registers. Same engine-exact shifted-long "
    "estimate as q139",
)
def q156_hll_rolling_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.analytics import hll_estimate, hll_registers

    ev = load_table(spark, sf_dir, "events")
    a = ev.select(
        F.col("user_id").cast("string").alias("uid"),
        F.datediff(F.col("ts"), F.lit("2024-01-01"))
        .cast("long")
        .alias("d"),
    ).distinct()
    regs = hll_registers(a, ["d"], "uid")
    cover = regs.select(
        F.explode(
            F.array(*[F.col("d") + F.lit(o) for o in range(7)])
        ).alias("day_idx"),
        "bucket",
        "reg",
    )
    merged = cover.groupBy("day_idx", "bucket").agg(
        F.max("reg").alias("reg")
    )
    est = hll_estimate(merged, ["day_idx"]).withColumnRenamed(
        "hll_est", "hll_active_7d"
    )
    days = a.select("d").distinct()
    return est.join(days, est["day_idx"] == days["d"]).select(
        "day_idx", "hll_active_7d"
    )


@register(
    "q157_event_transitions",
    """
    WITH s AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                   AS prev_type
        FROM events)
    SELECT prev_type, event_type AS next_type, count(*) AS n
    FROM s WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
    doc="behavioral Markov transition counts: adjacent event-type "
    "bigrams per entity in (ts, event_id) order — one per-key window "
    "lag (parallel at any key cardinality; per-key history sorts "
    "locally and SPILLS, never buffers in a map) feeding one "
    "map-side-partial groupBy of at most |types|^2 cells. The "
    "transition matrix that drives next-event prediction and "
    "anomalous-sequence scoring",
)
def q157_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    s = ev.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    return s.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "q158_mad_outliers",
    f"""
    WITH v AS (SELECT event_type, {CENTS_SQL} AS c FROM events),
    med AS (SELECT event_type, quantile_cont(c, 0.5) AS med_c
            FROM v GROUP BY event_type),
    dev AS (SELECT v.event_type, v.c, abs(v.c - med.med_c) AS ad,
                   med.med_c
            FROM v JOIN med ON v.event_type = med.event_type),
    mad AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad_c
            FROM dev GROUP BY event_type)
    SELECT d.event_type,
           any_value(d.med_c) / 100.0 AS median_v,
           any_value(m.mad_c) / 100.0 AS mad_v,
           CAST(sum(CASE WHEN d.ad > 3 * m.mad_c THEN 1 ELSE 0 END)
               AS BIGINT) AS n_outliers,
           count(*) AS n
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    GROUP BY d.event_type
    """,
    doc="robust anomaly screen per group: median + MAD (median "
    "absolute deviation) over integer cents — the outlier detector "
    "that, unlike mean/stddev z-scores, is not dragged by the "
    "outliers it hunts. Exact cross-engine: cents are integers, so "
    "every interpolated median is an exact x.0/x.5 double in IEEE754 "
    "on both engines (the q13 discipline). Two median passes (each a "
    "per-group percentile over BOUNDED groups — for unbuffered groups "
    "use q151's rank-selection form) + one flag aggregation",
)
def q158_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.analytics import cents

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", cents(F.col("value")).alias("c")
    )
    med = ev.groupBy("event_type").agg(
        F.percentile(F.col("c"), 0.5).alias("med_c")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "ad", F.abs(F.col("c") - F.col("med_c"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile(F.col("ad"), 0.5).alias("mad_c")
    )
    out = dev.join(F.broadcast(mad), "event_type")
    return out.groupBy("event_type").agg(
        (F.any_value(F.col("med_c")) / 100.0).alias("median_v"),
        (F.any_value(F.col("mad_c")) / 100.0).alias("mad_v"),
        F.sum(
            (F.col("ad") > 3 * F.col("mad_c")).cast("long")
        ).alias("n_outliers"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q160_gini_diversity",
    """
    WITH c AS (SELECT user_id, event_type, count(*) AS c
               FROM events GROUP BY user_id, event_type)
    SELECT user_id,
           CAST(sum(c) AS BIGINT) AS n,
           CAST(sum(c * c) AS BIGINT) AS sum_sq,
           count(*) AS n_types
    FROM c GROUP BY user_id
    """,
    doc="behavioral diversity per entity as EXACT rational Gini "
    "impurity transport: emit n and sum of squared per-type counts "
    "(gini = 1 - sum_sq/n^2, computed downstream from two integers — "
    "an entropy-style concentration signal with no logs, so any "
    "engine agrees digit for digit). Two key-grouped aggregations "
    "with map-side partials; the first collapses events to at most "
    "|types| rows per entity",
)
def q160_gini_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    return c.groupBy("user_id").agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c") * F.col("c")).alias("sum_sq"),
        F.count(F.lit(1)).alias("n_types"),
    )


# shared by q161 (batch) and q164 (stream), as is ``daily_ohlc``
OHLC_ORACLE = f"""
    WITH v AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               {CENTS_SQL} AS c, ts, event_id
        FROM events),
    rk AS (
        SELECT day, c,
               row_number() OVER (PARTITION BY day
                                  ORDER BY ts ASC, event_id ASC) AS ra,
               row_number() OVER (PARTITION BY day
                                  ORDER BY ts DESC, event_id DESC) AS rd
        FROM v)
    SELECT day,
           max(CASE WHEN ra = 1 THEN c END) AS open_c,
           max(c) AS high_c,
           min(c) AS low_c,
           max(CASE WHEN rd = 1 THEN c END) AS close_c,
           count(*) AS n
    FROM rk GROUP BY day
    """


@register(
    "q161_ohlc_bars",
    OHLC_ORACLE,
    doc="time-series downsampling to OHLC bars (open/high/low/close "
    "per day in integer cents): open/close are min_by/max_by on the "
    "(ts, event_id) total order — ONE groupBy with map-side partials, "
    "each task pre-reducing to one candidate bar per day, so the "
    "shuffle carries bars not ticks (the oracle's window row_number "
    "form would sort every day's full history). The resample shape "
    "that turns a 100 TB tick stream into queryable bars",
)
def q161_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    return daily_ohlc(load_table(spark, sf_dir, "events"))


def daily_ohlc(ev: DataFrame) -> DataFrame:
    """Per-day OHLC bars in integer cents over an events frame, batch or
    streaming (every aggregate is order-insensitive)."""
    from striot_spark.functions.analytics import ohlc_bars

    bars = ev.select(
        day_str(F.col("ts")).alias("day"),
        cents(F.col("value")).alias("c"),
        F.struct(F.col("ts"), F.col("event_id")).alias("o"),
    )
    return ohlc_bars(bars, "day", "c", "o")


@register(
    "q162_gap_fill_ffill",
    f"""
    WITH v AS (
        SELECT date_trunc('day', ts) AS day, {CENTS_SQL} AS c,
               ts, event_id
        FROM events WHERE event_type = 'purchase' AND user_id % 10 = 3),
    rk AS (SELECT day, c, row_number() OVER (
               PARTITION BY day ORDER BY ts DESC, event_id DESC) AS rd
           FROM v),
    bars AS (SELECT day, max(CASE WHEN rd = 1 THEN c END) AS close_c,
                    count(*) AS n
             FROM rk GROUP BY day),
    span AS (SELECT min(day) AS lo, max(day) AS hi FROM bars),
    cal AS (SELECT unnest(generate_series(lo, hi,
                                          INTERVAL 1 DAY)) AS day
            FROM span)
    SELECT strftime(cal.day, '%Y-%m-%d') AS day,
           COALESCE(b.n, 0) AS n,
           last_value(b.close_c IGNORE NULLS) OVER (
               ORDER BY cal.day ASC
               ROWS UNBOUNDED PRECEDING) AS close_ffill
    FROM cal LEFT JOIN bars b ON cal.day = b.day
    """,
    doc="calendar gap-fill + forward fill: a sparse daily series "
    "(purchases of a 10% user cohort) is completed over the full "
    "min..max day range (sequence + explode — no driver collect) and "
    "the last observed close carries across missing days via "
    "last_value(ignorenulls) — the resample/as-of-carry step every "
    "downstream time-series model assumes. The ffill window runs "
    "over the BOUNDED calendar table (days, not events); for "
    "per-entity calendars partition the window by the entity",
)
def q162_gap_fill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from striot_spark.functions.analytics import cents, day_str

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("user_id") % 10 == 3)
        )
        .select(
            F.date_trunc("day", F.col("ts")).alias("day"),
            cents(F.col("value")).alias("c"),
            F.struct(F.col("ts"), F.col("event_id")).alias("o"),
        )
    )
    from striot_spark.functions.analytics import ohlc_bars

    bars = ohlc_bars(ev, "day", "c", "o").select("day", "close_c", "n")
    span = bars.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    cal = span.select(
        F.explode(
            F.sequence(
                F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 DAY")
            )
        ).alias("day")
    )
    w = W.orderBy(F.col("day").asc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    joined = cal.join(bars, "day", "left")
    return joined.select(
        day_str(F.col("day")).alias("day"),
        F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        F.last(F.col("close_c"), ignorenulls=True).over(w).alias(
            "close_ffill"
        ),
    )


@register(
    "q166_grain_rollup_reuse",
    f"""
    WITH m AS (
        SELECT date_trunc('minute', ts) AS bucket, event_type,
               CAST(sum({CENTS_SQL}) AS BIGINT) AS sum_c, count(*) AS n
        FROM events GROUP BY 1, 2),
    h AS (
        SELECT date_trunc('hour', ts) AS bucket, event_type,
               CAST(sum({CENTS_SQL}) AS BIGINT) AS sum_c, count(*) AS n
        FROM events GROUP BY 1, 2),
    d AS (
        SELECT date_trunc('day', ts) AS bucket, event_type,
               CAST(sum({CENTS_SQL}) AS BIGINT) AS sum_c, count(*) AS n
        FROM events GROUP BY 1, 2)
    SELECT 'minute' AS grain, strftime(bucket, '{TS_FMT}') AS bucket,
           event_type, n, sum_c FROM m
    UNION ALL
    SELECT 'hour', strftime(bucket, '{TS_FMT}'), event_type, n, sum_c
    FROM h
    UNION ALL
    SELECT 'day', strftime(bucket, '{TS_FMT}'), event_type, n, sum_c
    FROM d
    """,
    doc="hierarchical time-grain rollup with PARTIAL REUSE "
    "(functions/analytics.py:grain_rollup): minute bars from ONE raw "
    "scan, hour bars re-aggregated from minute partials, day bars "
    "from hour partials — the hypertable/continuous-aggregate serving "
    "pattern. The oracle computes every grain directly from raw "
    "events, so equality proves the algebraic combine law the reuse "
    "depends on; the plan gate proves the raw table really is "
    "scanned once. Contrast q54 (dimension ROLLUP grouping sets in "
    "one pass): here the hierarchy is the time axis and coarser "
    "levels never touch the raw table — at 100 TB the hour/day "
    "levels aggregate tables orders of magnitude smaller than the "
    "events they summarize",
)
def q166_grain_rollup_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.analytics import grain_rollup

    ev = load_table(spark, sf_dir, "events")
    out = grain_rollup(ev, "ts", "value", ["event_type"])
    return out.select(
        "grain",
        ts_str(F.col("bucket")).alias("bucket"),
        "event_type",
        "n",
        "sum_c",
    )


@register(
    "q167_cdc_apply_deletes",
    f"""
    WITH r AS (
        SELECT user_id, event_type, {CENTS_SQL} AS c,
               strftime(ts, '{TS_FMT}') AS t,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn,
               count(*) OVER (PARTITION BY user_id) AS n_changes
        FROM events)
    SELECT user_id, c AS last_cents, t AS last_ts, n_changes
    FROM r WHERE rn = 1 AND event_type <> 'error'
    """,
    doc="CDC apply WITH delete tombstones "
    "(functions/analytics.py:apply_changes): the events log folds to "
    "final state per user — latest (ts, event_id) row wins, and a "
    "winning 'error' op is a tombstone that removes the key entirely "
    "(Debezium semantics; contrast q107's delete-free latest-wins). "
    "One key shuffle with map-side candidate reduction: tasks ship "
    "one candidate per key, never history, and the tombstone filter "
    "runs post-aggregate so a delete only wins when nothing newer "
    "follows it",
)
def q167_cdc_apply_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.analytics import apply_changes

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        cents(F.col("value")).alias("last_cents"),
        ts_str(F.col("ts")).alias("last_ts"),
    )
    return apply_changes(
        ev,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        payload_cols=["last_cents", "last_ts"],
        op_col="event_type",
        delete_ops=("error",),
    )


@register(
    "q169_winsorized_stats",
    f"""
    WITH v AS (
        SELECT event_type, {CENTS_SQL} AS c, event_id FROM events),
    s AS (SELECT event_type, count(*) AS n FROM v GROUP BY 1),
    r AS (
        SELECT event_type, c,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY c, event_id) - 1
                   AS rnk
        FROM v),
    b AS (
        SELECT r.event_type,
               min(CASE WHEN r.rnk = (s.n - 1) // 20 THEN r.c END)
                   AS lo,
               min(CASE WHEN r.rnk = 19 * (s.n - 1) // 20 THEN r.c END)
                   AS hi
        FROM r JOIN s USING (event_type)
        GROUP BY r.event_type)
    SELECT v.event_type, count(*) AS n,
           CAST(sum(least(greatest(v.c, b.lo), b.hi)) AS BIGINT) AS wsum,
           CAST(sum(CASE WHEN v.c < b.lo THEN 1 ELSE 0 END)
               AS BIGINT) AS n_lo,
           CAST(sum(CASE WHEN v.c > b.hi THEN 1 ELSE 0 END)
               AS BIGINT) AS n_hi
    FROM v JOIN b USING (event_type)
    GROUP BY v.event_type
    """,
    doc="per-group winsorized sums (functions/analytics.py:"
    "winsorized_stats): values clamped into the exact discrete "
    "[p05, p95] band before aggregation, clamp counts per side — the "
    "outlier-robust rollup. Boundaries are q151's spill-safe ranked "
    "quantiles (rank k*(n-1) DIV 20 in (cents, event_id) order), so "
    "both engines pick identical boundary VALUES and the clamped "
    "integer sum is exact; the one-row-per-group boundary table joins "
    "back and the clamp folds into the final aggregate's scan",
)
def q169_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.analytics import winsorized_stats

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", cents(F.col("value")).alias("c"), "event_id"
    )
    return winsorized_stats(ev, ["event_type"], "c", "event_id")


@register(
    "q173_partition_pruned_day",
    f"""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type, count(*) AS n,
           CAST(sum({CENTS_SQL}) AS BIGINT) AS sum_c
    FROM events
    WHERE strftime(date_trunc('day', ts), '%Y-%m-%d') = '2024-01-15'
    GROUP BY 1, 2
    """,
    doc="hive-partition pruning end to end: events written "
    "day-partitioned via sources/bucketed.py:write_partitioned (the "
    "repartition-first layout — one file per day, not tasks x days "
    "tiny files), then ONE day read back with a partition-column "
    "filter that prunes at the DIRECTORY level (plan-gated "
    "PartitionFilters; 1/30th of the files ever listed into the "
    "scan) and aggregated. The oracle recomputes the day from the "
    "raw table, proving the layout round-trips content exactly — "
    "at 100 TB this directory prune is the difference between "
    "scanning a day and scanning three years",
)
def q173_partition_pruned_day(spark: SparkSession, sf_dir: str) -> DataFrame:

    from striot_spark.functions.analytics import day_str
    from striot_spark.sources.bucketed import write_partitioned

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", day_str(F.col("ts"))
    )
    path = striot_mkdtemp(prefix="striot_q173_part_") + "/data"
    write_partitioned(ev, path, ["day"], sort_by=["ts", "event_id"])
    back = spark.read.parquet(path).filter(
        F.col("day") == F.lit("2024-01-15")
    )
    return back.groupBy(
        F.col("day").cast("string").alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents(F.col("value"))).alias("sum_c"),
    )


@register(
    "q184_freshness_audit",
    f"""
    WITH g AS (
        SELECT event_type, count(*) AS n, max(ts) AS mx
        FROM events GROUP BY 1),
    t AS (SELECT max(ts) AS gmx FROM events)
    SELECT event_type, n, strftime(mx, '{TS_FMT}') AS latest,
           epoch_us(gmx) - epoch_us(mx) AS lag_us
    FROM g, t
    """,
    doc="data-freshness audit (the ingestion-SLO check): per stream "
    "partition (event type), row count, latest event time, and the "
    "exact microsecond lag behind the globally freshest event — the "
    "'is source X stalled' monitor every continuously-ingesting "
    "pipeline runs. One map-side-combined groupBy + one 1-row global "
    "max broadcast back; lag in integer microseconds (epoch_us both "
    "engines), no truncation ambiguity",
)
def q184_freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.max("ts").alias("mx")
    )
    t = ev.agg(F.max("ts").alias("gmx"))
    return g.crossJoin(F.broadcast(t)).select(
        "event_type",
        "n",
        ts_str(F.col("mx")).alias("latest"),
        (F.unix_micros(F.col("gmx")) - F.unix_micros(F.col("mx"))).alias(
            "lag_us"
        ),
    )


@register(
    "q191_trend_stats",
    f"""
    WITH v AS (
        SELECT event_type,
               date_diff('minute', TIMESTAMP '2024-01-01', ts) AS x,
               {CENTS_SQL} AS y
        FROM events)
    SELECT event_type, count(*) AS n,
           CAST(sum(x) AS BIGINT) AS sum_x,
           CAST(sum(y) AS BIGINT) AS sum_y,
           CAST(sum(x * y) AS BIGINT) AS sum_xy,
           CAST(sum(x * x) AS BIGINT) AS sum_xx
    FROM v GROUP BY event_type
    """,
    doc="per-group trend (least-squares slope) as exact SUFFICIENT "
    "STATISTICS: n, Σx, Σy, Σxy, Σx² over (minutes-since-origin, "
    "cents) — the distributed-regression primitive: one map-side-"
    "combined groupBy, partials merge by addition, the slope "
    "(n·Σxy − Σx·Σy)/(n·Σx² − Σx²) is a consumer-side rational of "
    "emitted integers so the fit is bit-identical on any "
    "partitioning. Headroom: Σxy at 1e12 rows needs decimal(38,0) "
    "accumulators (the dedup_groups pattern); longs hold to ~1e9 "
    "rows at these magnitudes",
)
def q191_trend_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    x = (
        (F.unix_micros(F.col("ts"))
         - F.unix_micros(F.lit("2024-01-01").cast("timestamp")))
        / F.lit(60_000_000)
    ).cast("long")
    y = cents(F.col("value"))
    v = ev.select("event_type", x.alias("x"), y.alias("y"))
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sum_x"),
        F.sum("y").alias("sum_y"),
        F.sum(F.col("x") * F.col("y")).alias("sum_xy"),
        F.sum(F.col("x") * F.col("x")).alias("sum_xx"),
    )


@register(
    "q192_scd2_enrich",
    f"""
    WITH h AS (
        SELECT user_id, event_type, {CENTS_SQL} AS value_c,
               ts AS valid_from,
               lead(ts) OVER (
                   PARTITION BY user_id
                   ORDER BY ts ASC, event_id ASC) AS valid_to
        FROM events WHERE event_type <> 'purchase'),
    f AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase')
    SELECT f.event_id AS purchase_id, f.user_id,
           h.event_type AS state_type, h.value_c AS state_c
    FROM f JOIN h
      ON f.user_id = h.user_id
     AND f.ts >= h.valid_from
     AND (h.valid_to IS NULL OR f.ts < h.valid_to)
    """,
    doc="fact-to-dimension AS-OF enrichment over SCD-2 history (the "
    "warehouse PIT join): each purchase picks the user state valid "
    "at its instant, where state is the SCD-2 expansion of the "
    "user's non-purchase activity (q134's validity intervals) — one "
    "equi-join on the KEY with interval containment as a join "
    "filter (plan-gated: a key hash/merge join, never a cartesian "
    "range join); empty tied intervals [ts, ts) are skipped by "
    "construction so a fact at an overwrite instant sees exactly "
    "the last write. Batch twin of the streaming PIT enrich (q152)",
)
def q192_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.analytics import scd2_history

    ev = load_table(spark, sf_dir, "events")
    dim = ev.filter(F.col("event_type") != "purchase").withColumn(
        "value_c", cents(F.col("value"))
    )
    hist = scd2_history(
        dim,
        key_cols=["user_id"],
        ts_col="ts",
        tiebreak_col="event_id",
        payload_cols=["event_type", "value_c"],
    ).select(
        F.col("user_id").alias("h_user"),
        "event_type",
        "value_c",
        "valid_from",
        "valid_to",
    )
    facts = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    j = facts.join(
        hist,
        (F.col("user_id") == F.col("h_user"))
        & (F.col("ts") >= F.col("valid_from"))
        & (
            F.col("valid_to").isNull()
            | (F.col("ts") < F.col("valid_to"))
        ),
    )
    return j.select(
        "purchase_id",
        "user_id",
        F.col("event_type").alias("state_type"),
        F.col("value_c").alias("state_c"),
    )


@register(
    "q193_twap_daily",
    f"""
    WITH v AS (
        SELECT event_type, ts, event_id, {CENTS_SQL} AS c,
               date_trunc('day', ts) AS day
        FROM events),
    w AS (
        SELECT event_type, day, c,
               epoch_us(ts) AS t_us,
               epoch_us(coalesce(
                   lead(ts) OVER (
                       PARTITION BY event_type, day
                       ORDER BY ts ASC, event_id ASC),
                   day + INTERVAL 1 DAY)) AS t_next_us,
               min(epoch_us(ts)) OVER (
                   PARTITION BY event_type, day) AS first_us
        FROM v)
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           CAST(sum(c * (t_next_us - t_us)) AS BIGINT) AS twap_num,
           max(epoch_us(day + INTERVAL 1 DAY) - first_us) AS twap_den,
           count(*) AS n
    FROM w
    GROUP BY event_type, day, epoch_us(day)
    """,
    doc="daily time-weighted average price (TWAP) in EXACT integer "
    "cent-microseconds: piecewise-constant value held from each event "
    "to the next (last one to day end), numerator Σ c·Δt and "
    "denominator (day_end − first_event) emitted separately so the "
    "average is a consumer-side rational — no float ever enters the "
    "pipeline, unlike a naive avg() which ignores holding time "
    "entirely. One (type, day) window shuffle shared by the lead and "
    "the min, then a map-side-combined aggregate; the metric "
    "volume-clock/metrics stores actually want next to q161's OHLC",
)
def q193_twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        "ts",
        "event_id",
        cents(F.col("value")).alias("c"),
        F.date_trunc("day", F.col("ts")).alias("day"),
    )
    wl = W.partitionBy("event_type", "day").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    wp = W.partitionBy("event_type", "day")
    day_end = F.unix_micros(
        F.col("day") + F.expr("INTERVAL 1 DAY")
    )
    w = v.select(
        "event_type",
        "day",
        "c",
        F.unix_micros(F.col("ts")).alias("t_us"),
        F.coalesce(
            F.unix_micros(F.lead("ts").over(wl)), day_end
        ).alias("t_next_us"),
        F.min(F.unix_micros(F.col("ts"))).over(wp).alias("first_us"),
        day_end.alias("day_end_us"),
    )
    return w.groupBy(
        "event_type", day_str(F.col("day")).alias("day")
    ).agg(
        F.sum(F.col("c") * (F.col("t_next_us") - F.col("t_us"))).alias(
            "twap_num"
        ),
        F.max(F.col("day_end_us") - F.col("first_us")).alias("twap_den"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q195_debounce_per_user",
    DEBOUNCE_ORACLE_CTE
    + f"""
    SELECT user_id, event_id, strftime(ts, '{TS_FMT}') AS ts
    FROM k WHERE kept
    """,
    doc="per-key DEBOUNCE (12h min spacing): keep an event iff >= "
    "gap since the last KEPT event of that user — the rate-limit / "
    "burst-suppression selection whose state depends on which "
    "earlier rows SURVIVED, a truly sequential recurrence that "
    "neither windows nor reference streamFilterAcc (accumulator "
    "updates on every row) can express "
    "(operators/stateful.py:filter_keep_acc / debounce). Keys shard "
    "across partitions, each key's history replays in (ts, id) "
    "order inside its Arrow batch; the oracle runs the identical "
    "recurrence as a per-key recursive CTE, exact integer "
    "microseconds on both sides",
)
def q195_debounce_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.operators.stateful import debounce

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id"
    )
    out = debounce(
        ev, ["user_id"], "ts", "event_id", gap_us=43_200_000_000
    )
    return out.select("user_id", "event_id", ts_str(F.col("ts")).alias("ts"))


@register(
    "q196_burst_detection",
    BURST_ORACLE,
    doc="rate-burst detection over the active-hour series: a "
    "(type, hour) is flagged when its event count exceeds 1.5x the "
    "exact lower median of the up-to-7 preceding active hours — "
    "integer cross-multiplication (2n > 3·med), no stddev float. "
    "The sliding window runs over the hour-COUNT table (bounded by "
    "types x hours), never raw events, and each row's median sorts "
    "<= 7 values in-row — the ops anomaly monitor next to q158's "
    "global MAD screen; >= 4 samples required before flagging "
    "(functions/analytics.py:burst_flags, shared with the streaming "
    "form q206)",
)
def q196_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.analytics import burst_flags

    m = hour_counts(load_table(spark, sf_dir, "events"))
    return burst_flags(m, "event_type", "b")


def hour_counts(ev: DataFrame) -> DataFrame:
    """(event_type, hour ``b``, ``n``) counts over an events frame, batch
    or streaming; ``analytics.burst_flags`` reads them."""
    return ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("b")
    ).agg(F.count(F.lit(1)).alias("n"))


@register(
    "q201_json_schema_profile",
    f"""
    WITH j AS (
        SELECT CASE
            WHEN event_type = 'purchase' THEN
                '{{"k": ' || json_extract_string(props, '$.k')
                || ', "amount": ' || CAST({CENTS_SQL} AS VARCHAR) || '}}'
            WHEN event_type = 'error' THEN
                '{{"k": ' || json_extract_string(props, '$.k')
                || ', "code": ' || CAST(event_id % 7 AS VARCHAR) || '}}'
            ELSE props END AS p
        FROM events)
    SELECT array_to_string(list_sort(json_keys(p)), ',') AS key_sig,
           count(*) AS n
    FROM j GROUP BY 1
    """,
    doc="semi-structured SCHEMA-DRIFT profile: the distribution of "
    "JSON key-set signatures across the payload column — the audit "
    "that catches producers adding/dropping fields before a typed "
    "extract breaks. Payloads parse JVM-side to map<string,string> "
    "(from_json) and the sorted key list aggregates with map-side "
    "partials; input is deterministically augmented with "
    "type-dependent fields so the profile is heterogeneous in both "
    "engines (q165's augmentation discipline). Signature space is "
    "bounded by distinct schemas, not rows",
)
def q201_json_schema_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k")
    p = (
        F.when(
            F.col("event_type") == "purchase",
            F.concat(
                F.lit('{"k": '), k, F.lit(', "amount": '),
                cents(F.col("value")).cast("string"), F.lit("}"),
            ),
        )
        .when(
            F.col("event_type") == "error",
            F.concat(
                F.lit('{"k": '), k, F.lit(', "code": '),
                (F.col("event_id") % 7).cast("string"), F.lit("}"),
            ),
        )
        .otherwise(F.col("props"))
    )
    parsed = ev.select(
        F.from_json(p, "map<string,string>").alias("m")
    )
    return parsed.select(
        F.array_join(F.array_sort(F.map_keys(F.col("m"))), ",").alias(
            "key_sig"
        )
    ).groupBy("key_sig").agg(F.count(F.lit(1)).alias("n"))


@register(
    "q203_nearest_event_align",
    """
    WITH err AS (
        SELECT event_id AS err_id, user_id, ts FROM events
        WHERE event_type = 'error'),
    pur AS (
        SELECT event_id AS pur_id, user_id, ts FROM events
        WHERE event_type = 'purchase'),
    j AS (
        SELECT e.err_id, p.pur_id,
               abs(epoch_us(e.ts) - epoch_us(p.ts)) AS dist_us
        FROM err e JOIN pur p
          ON e.user_id = p.user_id
         AND p.ts >= e.ts - INTERVAL 6 HOUR
         AND p.ts <= e.ts + INTERVAL 6 HOUR)
    SELECT err_id, pur_id, dist_us FROM (
        SELECT err_id, pur_id, dist_us,
               row_number() OVER (
                   PARTITION BY err_id
                   ORDER BY dist_us ASC, pur_id ASC) AS rnk
        FROM j) t
    WHERE rnk = 1
    """,
    doc="nearest-event alignment with tolerance (the sensor-fusion "
    "as-of variant: q53 carries the LAST event backward, this picks "
    "the CLOSEST matching event in either direction within +-6h, "
    "ties toward the earlier id) — each error aligned to its "
    "nearest purchase of the same user. KEY equi-join with the "
    "tolerance band as a join filter, so candidates per row are "
    "band-bounded and the plan is never a cartesian range join; "
    "exact integer microsecond distances",
)
def q203_nearest_event_align(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        "user_id",
        F.col("ts").alias("e_ts"),
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pur_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    j = err.join(
        pur,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("e_ts") - F.expr("INTERVAL 6 HOUR"))
        & (F.col("p_ts") <= F.col("e_ts") + F.expr("INTERVAL 6 HOUR")),
    ).select(
        "err_id",
        "pur_id",
        F.abs(
            F.unix_micros(F.col("e_ts")) - F.unix_micros(F.col("p_ts"))
        ).alias("dist_us"),
    )
    # nearest-candidate pick as a struct-min aggregate (dist ASC, then
    # pur_id ASC — exactly the old window order): map-side partials
    # ship one winner per err_id per task instead of shuffling + sorting
    # the whole band-bounded candidate set (r13 arg-max finding, PERF
    # §42 — the candidate multiset is the term that grows with data)
    return (
        j.groupBy("err_id")
        .agg(
            F.min(
                F.struct(
                    F.col("dist_us").alias("dist_us"),
                    F.col("pur_id").alias("pur_id"),
                )
            ).alias("m")
        )
        .select("err_id", F.col("m.pur_id"), F.col("m.dist_us"))
    )


@register(
    "q205_session_stats",
    f"""
    WITH s AS (
        SELECT user_id, ts, event_id,
               sum(CASE WHEN prev IS NULL
                        OR epoch_us(ts) - epoch_us(prev) > 1800000000
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS session_id
        FROM (
            SELECT user_id, ts, event_id,
                   lag(ts) OVER (
                       PARTITION BY user_id
                       ORDER BY ts, event_id) AS prev
            FROM events) t),
    g AS (
        SELECT user_id, session_id, count(*) AS n_events,
               epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
        FROM s GROUP BY user_id, session_id)
    SELECT CASE WHEN n_events = 1 THEN 1 ELSE 0 END AS singleton,
           dur_us // 60000000 AS dur_min,
           count(*) AS n_sessions,
           CAST(sum(n_events) AS BIGINT) AS total_events
    FROM g GROUP BY 1, 2
    """,
    doc="session duration/depth distribution on top of q12's "
    "gaps-and-islands sessionization (30-min gap): sessions bucketed "
    "by integer duration minutes with counts and event totals — the "
    "engagement profile (how long, how deep) downstream of the "
    "session assignment. Two window passes + two map-side-combined "
    "aggregates; durations in exact integer microseconds before the "
    "minute DIV",
)
def q205_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.analytics import sessionize

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id"
    )
    s = sessionize(
        ev, "ts", 30, ["user_id"], order_cols=["ts", "event_id"]
    )
    g = s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))
        ).alias("dur_us"),
    )
    return g.groupBy(
        F.when(F.col("n_events") == 1, F.lit(1))
        .otherwise(F.lit(0))
        .alias("singleton"),
        F.expr("dur_us DIV 60000000").alias("dur_min"),
    ).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("total_events"),
    )


@register(
    "q207_timed_funnel",
    """
    WITH v AS (
        SELECT user_id, ts AS t_view FROM events
        WHERE event_type = 'view'),
    c AS (
        SELECT v.user_id, v.t_view, min(e.ts) AS t_click
        FROM v JOIN events e
          ON e.user_id = v.user_id AND e.event_type = 'click'
         AND e.ts > v.t_view
         AND e.ts <= v.t_view + INTERVAL 6 HOUR
        GROUP BY v.user_id, v.t_view),
    p AS (
        SELECT c.user_id, c.t_view, c.t_click, min(e.ts) AS t_purchase
        FROM c JOIN events e
          ON e.user_id = c.user_id AND e.event_type = 'purchase'
         AND e.ts > c.t_click
         AND e.ts <= c.t_click + INTERVAL 6 HOUR
        GROUP BY c.user_id, c.t_view, c.t_click)
    SELECT count(DISTINCT user_id) AS n_users, count(*) AS n_chains
    FROM p
    """,
    doc="TIME-CONSTRAINED funnel (view -> click within 6h -> purchase "
    "within 6h of the click): q153's funnel orders steps globally, "
    "this one bounds each hop's latency — the conversion metric "
    "product analytics actually reports. Each hop is a KEY equi-join "
    "with the hop window as a join filter (band-bounded candidates, "
    "never a cartesian range join) folded to the EARLIEST qualifying "
    "next step via min with map-side partials; chains and distinct "
    "converting users emitted as one row",
)
def q207_timed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("t_view")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    c = (
        v.join(
            clicks,
            (F.col("user_id") == F.col("cu"))
            & (F.col("cts") > F.col("t_view"))
            & (
                F.col("cts")
                <= F.col("t_view") + F.expr("INTERVAL 6 HOUR")
            ),
        )
        .groupBy("user_id", "t_view")
        .agg(F.min("cts").alias("t_click"))
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    p = (
        c.join(
            purch,
            (F.col("user_id") == F.col("pu"))
            & (F.col("pts") > F.col("t_click"))
            & (
                F.col("pts")
                <= F.col("t_click") + F.expr("INTERVAL 6 HOUR")
            ),
        )
        .groupBy("user_id", "t_view", "t_click")
        .agg(F.min("pts").alias("t_purchase"))
    )
    return p.agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_chains"),
    )


@register(
    "q208_trigram_patterns",
    """
    WITH s AS (
        SELECT user_id, event_type,
               lead(event_type, 1) OVER (
                   PARTITION BY user_id
                   ORDER BY ts, event_id) AS t2,
               lead(event_type, 2) OVER (
                   PARTITION BY user_id
                   ORDER BY ts, event_id) AS t3
        FROM events)
    SELECT event_type AS t1, t2, t3, count(*) AS n
    FROM s WHERE t3 IS NOT NULL
    GROUP BY 1, 2, 3
    ORDER BY n DESC, t1, t2, t3 LIMIT 20
    """,
    doc="frequent behavior trigrams: the top-20 3-step event-type "
    "sequences across users (q157's Markov bigrams extended one "
    "step — the sequence-mining input for next-action prediction "
    "and bot detection). Two window leads share ONE per-user "
    "shuffle, the pattern aggregate carries at most types^3 cells "
    "with map-side partials, and top-k is TakeOrdered under a total "
    "(n, t1, t2, t3) order",
)
def q208_trigram_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    s = ev.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    agg = (
        s.filter(F.col("t3").isNotNull())
        .groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return agg.orderBy(
        F.col("n").desc(),
        F.col("t1").asc(),
        F.col("t2").asc(),
        F.col("t3").asc(),
    ).limit(20)


@register(
    "q209_segment_overlap",
    """
    WITH u AS (
        SELECT user_id, list_sort(list(DISTINCT event_type)) AS types
        FROM events GROUP BY user_id),
    pairs AS (
        SELECT a.t AS type_a, b.t AS type_b
        FROM u, unnest(u.types) a(t), unnest(u.types) b(t)
        WHERE a.t < b.t),
    inter AS (
        SELECT type_a, type_b, count(*) AS n_both
        FROM pairs GROUP BY 1, 2),
    sz AS (
        SELECT event_type, count(DISTINCT user_id) AS n
        FROM events GROUP BY 1)
    SELECT i.type_a, i.type_b, i.n_both,
           sa.n AS n_a, sb.n AS n_b
    FROM inter i
    JOIN sz sa ON i.type_a = sa.event_type
    JOIN sz sb ON i.type_b = sb.event_type
    """,
    doc="pairwise segment overlap: for every event-type pair, how "
    "many users belong to BOTH segments, plus each segment's size — "
    "the Jaccard/affinity matrix of audience analysis, emitted as "
    "exact integers (the rational n_both/(n_a+n_b-n_both) is the "
    "consumer's division). The intersection comes from q109's "
    "IN-ROW pair-expansion trick: one groupBy collects each user's "
    "bounded distinct-type set, pairs expand inside the row — the "
    "user table is never self-joined; segment sizes broadcast back "
    "onto the types^2-cell table",
)
def q209_segment_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("types")
    )
    # i<j expansion as two codegen-able Generates (PERF §43): the old
    # nested-transform form built the full n² struct product
    # INTERPRETED per user row and then filtered half of it away
    pairs = (
        u.select(
            F.col("types"),
            F.posexplode("types").alias("__i", "type_a"),
        )
        .filter(F.size("types") > F.col("__i") + 1)
        .select(
            F.col("type_a"),
            F.explode(
                F.slice(
                    F.col("types"), F.col("__i") + F.lit(2), F.size("types")
                )
            ).alias("type_b"),
        )
    )
    inter = pairs.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n_both")
    )
    sz = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n")
    )
    return (
        inter.join(
            F.broadcast(
                sz.select(
                    F.col("event_type").alias("type_a"),
                    F.col("n").alias("n_a"),
                )
            ),
            "type_a",
        )
        .join(
            F.broadcast(
                sz.select(
                    F.col("event_type").alias("type_b"),
                    F.col("n").alias("n_b"),
                )
            ),
            "type_b",
        )
        .select("type_a", "type_b", "n_both", "n_a", "n_b")
    )


@register(
    "q212_disorder_profile",
    """
    WITH ls AS (
        SELECT event_type, user_id, ts,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY ts, event_id) AS local_seq
        FROM events),
    d AS (
        SELECT event_type,
               epoch_us(ts) - epoch_us(lag(ts) OVER (
                   PARTITION BY event_type
                   ORDER BY local_seq, user_id)) AS delta_us
        FROM ls)
    SELECT event_type,
           count(*) AS n_steps,
           CAST(sum(CASE WHEN delta_us < 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_backward,
           coalesce(-min(CASE WHEN delta_us < 0 THEN delta_us END), 0)
               AS max_backjump_us
    FROM d WHERE delta_us IS NOT NULL
    GROUP BY event_type
    """,
    doc="out-of-orderness profile of a ROUND-ROBIN MERGE of per-user "
    "streams (each user's events in local order, users interleaved "
    "step by step — the reference's distributed source-merge "
    "situation, Nodes/TCP.hs): per partition, how often the merged "
    "arrival order runs backward in event time and by how much at "
    "worst — THE input for choosing a watermark delay (a delay below "
    "max_backjump drops data; far above it bloats state). Two window "
    "passes + a map-side-combined aggregate, exact integer "
    "microseconds; the fixture interleave produces real backjumps at "
    "every scale (a perfectly-ordered axis would gate nothing)",
)
def q212_disorder_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    wl = W.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    ls = ev.select(
        "event_type",
        "user_id",
        "ts",
        F.row_number().over(wl).alias("local_seq"),
    )
    wm = W.partitionBy("event_type").orderBy(
        F.col("local_seq").asc(), F.col("user_id").asc()
    )
    d = ls.select(
        "event_type",
        (
            F.unix_micros(F.col("ts"))
            - F.unix_micros(F.lag("ts").over(wm))
        ).alias("delta_us"),
    ).filter(F.col("delta_us").isNotNull())
    neg = F.when(F.col("delta_us") < 0, F.col("delta_us"))
    return d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_steps"),
        F.sum((F.col("delta_us") < 0).cast("long")).alias("n_backward"),
        F.coalesce(-F.min(neg), F.lit(0)).alias("max_backjump_us"),
    )


@register(
    "q216_peak_concurrency",
    """
    WITH s AS (
        SELECT user_id, session_id, min(ts) AS t_start, max(ts) AS t_end
        FROM (
            SELECT user_id, ts,
                   sum(CASE WHEN prev IS NULL
                            OR epoch_us(ts) - epoch_us(prev) > 1800000000
                            THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS session_id
            FROM (
                SELECT user_id, ts, event_id,
                       lag(ts) OVER (
                           PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev
                FROM events) a) b
        GROUP BY user_id, session_id),
    bd AS (
        SELECT t_start AS t, user_id, session_id, 1 AS d FROM s
        UNION ALL
        SELECT t_end, user_id, session_id, -1 FROM s),
    rs AS (
        SELECT t, sum(d) OVER (
                   ORDER BY t, d DESC, user_id, session_id) AS conc
        FROM bd)
    SELECT strftime(date_trunc('day', t), '%Y-%m-%d') AS day,
           CAST(max(conc) AS BIGINT) AS peak_concurrent
    FROM rs GROUP BY 1
    """,
    doc="peak concurrent sessions per day (the occupancy/capacity "
    "gauge): q12's sessions become +1/-1 boundary events, the "
    "concurrency curve is their running sum in (t, start-before-end) "
    "order, and the per-day max is one aggregate. The running sum "
    "rides the two-pass range-partitioned global_prefix_sum over the "
    "BOUNDARY table (2 rows per session — session-bounded, not "
    "event-bounded; no single-partition sort of anything "
    "event-scaled); a session touching instant t counts as "
    "concurrent at t (starts sort before ends at equal instants)",
)
def q216_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.core.scale import global_prefix_sum
    from striot_spark.functions.analytics import sessionize

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id"
    )
    s = (
        sessionize(ev, "ts", 30, ["user_id"], order_cols=["ts", "event_id"])
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("t_start"), F.max("ts").alias("t_end"))
    )
    bd = s.select(
        F.col("t_start").alias("t"),
        "user_id",
        "session_id",
        F.lit(1).alias("d"),
    ).unionByName(
        s.select(
            F.col("t_end").alias("t"),
            "user_id",
            "session_id",
            F.lit(-1).alias("d"),
        )
    )
    # order key: starts before ends at the same instant (d desc), then
    # (user, session) for a total order both engines share
    rs = global_prefix_sum(
        bd.withColumn("neg_d", -F.col("d")),
        ["t", "neg_d", "user_id", "session_id"],
        "d",
        "conc",
    )
    return rs.groupBy(day_str(F.col("t")).alias("day")).agg(
        F.max("conc").alias("peak_concurrent")
    )


@register(
    "q221_weekend_split",
    f"""
    SELECT event_type,
           CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END AS is_weekend,
           count(*) AS n, CAST(sum({CENTS_SQL}) AS BIGINT) AS sum_c
    FROM events GROUP BY 1, 2
    """,
    doc="weekend/weekday activity split — the calendar-dimension "
    "reporting shape, with the cross-engine day-of-week trap handled "
    "explicitly: Spark's dayofweek() is 1=Sunday while DuckDB's "
    "isodow() is 1=Monday..7=Sunday, so the Spark side uses "
    "weekday()+1 (0=Monday -> ISO) and both engines agree that "
    "weekend == isodow >= 6. Derived calendar attributes beat a "
    "joined calendar dim at this grain: zero joins, the flag folds "
    "into the scan",
)
def q221_weekend_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    isodow = F.weekday(F.col("ts")) + F.lit(1)
    return ev.groupBy(
        "event_type",
        F.when(isodow >= 6, F.lit(1)).otherwise(F.lit(0)).alias(
            "is_weekend"
        ),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents(F.col("value"))).alias("sum_c"),
    )


@register(
    "q223_weekly_top_event",
    f"""
    SELECT user_id,
           date_diff('day', TIMESTAMP '2024-01-01', ts) // 7 AS wk,
           max_by(event_id, {CENTS_SQL} * 100000000 - event_id)
               AS top_event,
           max({CENTS_SQL}) AS top_c
    FROM events
    GROUP BY user_id, date_diff('day', TIMESTAMP '2024-01-01', ts) // 7
    """,
    doc="top event per (user, week) by value — the per-group argmax "
    "reporting shape done as ONE groupBy with max_by over a "
    "single-integer order key cents*1e8 - event_id (ties pick the "
    "earlier event, deterministically; the multiplier dominates any "
    "fixture event_id — re-derive it for id spaces past 1e8): tasks "
    "pre-reduce to one candidate per "
    "group, so the shuffle carries candidates, never events — the "
    "rank-window form would per-group-sort the whole table for the "
    "same answer (q107's latest-wins discipline applied to argmax)",
)
def q223_weekly_top_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = cents(F.col("value"))
    wk = F.expr(
        "CAST(datediff(ts, timestamp'2024-01-01') AS BIGINT) DIV 7"
    )
    return ev.groupBy("user_id", wk.alias("wk")).agg(
        F.max_by(
            F.col("event_id"),
            c * F.lit(100_000_000) - F.col("event_id"),
        ).alias("top_event"),
        F.max(c).alias("top_c"),
    )


_HLL_H = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"


@register(
    "q233_hll_set_algebra",
    f"""
    WITH t AS (
        SELECT 'a' AS s, user_id::VARCHAR AS item FROM events
        WHERE event_type = 'click' AND value >= 300
        UNION ALL
        SELECT 'b', user_id::VARCHAR FROM events
        WHERE event_type = 'purchase' AND value < 200),
    h AS (SELECT s, {_HLL_H.format(x='item')} AS hv FROM t),
    r AS (
        SELECT s, hv % 64 AS bucket,
               CASE WHEN (hv // 64) = 0 THEN 40
                    ELSE least(bit_count(((hv // 64) & (-(hv // 64))) - 1)
                               + 1, 40)
               END AS rho
        FROM h),
    regs AS (SELECT s, bucket, max(rho) AS reg FROM r
             GROUP BY s, bucket),
    g AS (SELECT s, count(*) AS n_obs,
                 sum((1::BIGINT << (40 - reg))) AS s_obs
          FROM regs GROUP BY s),
    est AS (SELECT s,
                   CAST((709 * 64 * 64 * (1::BIGINT << 40)) //
                        (1000 * (s_obs + (64 - n_obs)
                                 * (1::BIGINT << 40)))
                        AS BIGINT) AS e
            FROM g),
    ur AS (SELECT bucket, max(reg) AS reg FROM regs GROUP BY bucket),
    gu AS (SELECT count(*) AS n_obs,
                  sum((1::BIGINT << (40 - reg))) AS s_obs
           FROM ur),
    eu AS (SELECT CAST((709 * 64 * 64 * (1::BIGINT << 40)) //
                       (1000 * (s_obs + (64 - n_obs)
                                * (1::BIGINT << 40)))
                       AS BIGINT) AS e
           FROM gu)
    SELECT ea.e AS est_a, eb.e AS est_b, eu.e AS est_union,
           CAST(ea.e + eb.e - eu.e AS BIGINT) AS est_intersection
    FROM (SELECT e FROM est WHERE s = 'a') ea
         CROSS JOIN (SELECT e FROM est WHERE s = 'b') eb
         CROSS JOIN eu
    """,
    doc="HLL SET ALGEBRA over mergeable registers "
    "(functions/analytics.py:hll_registers/hll_estimate): two user "
    "cohorts (high-value clickers, low-value purchasers) sketched "
    "once, the UNION estimated by the register-wise MAX merge — the "
    "operation sketches are FOR: |A ∪ B| without re-scanning either "
    "side — and the INTERSECTION by inclusion-exclusion "
    "(est_a + est_b - est_union), all in the same shifted-long "
    "arithmetic so the approximate values are bit-reproducible on "
    "any engine. At 100 TB the register tables (64 longs per cohort) "
    "are the ONLY state exchanged; cohort sketches built by "
    "different jobs/days union the same way (q156's rolling merge). "
    "Output: one row (est_a, est_b, est_union, est_intersection)",
)
def q233_hll_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.analytics import (
        hll_estimate,
        hll_registers,
    )

    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(
        (F.col("event_type") == "click") & (F.col("value") >= 300)
    ).select(
        F.lit("a").alias("s"), F.col("user_id").cast("string").alias("item")
    )
    b = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("value") < 200)
    ).select(
        F.lit("b").alias("s"), F.col("user_id").cast("string").alias("item")
    )
    regs = hll_registers(a.unionByName(b), ["s"], "item")
    est = hll_estimate(regs, ["s"])
    ea = est.filter(F.col("s") == "a").select(
        F.col("hll_est").alias("est_a")
    )
    eb = est.filter(F.col("s") == "b").select(
        F.col("hll_est").alias("est_b")
    )
    u_regs = regs.groupBy("bucket").agg(F.max("reg").alias("reg"))
    eu = hll_estimate(u_regs, []).select(
        F.col("hll_est").alias("est_union")
    )
    return (
        ea.join(F.broadcast(eb))
        .join(F.broadcast(eu))
        .select(
            "est_a",
            "est_b",
            "est_union",
            (F.col("est_a") + F.col("est_b") - F.col("est_union"))
            .cast("long")
            .alias("est_intersection"),
        )
    )


@register(
    "q234_association_rules",
    """
    WITH baskets AS (
        SELECT user_id, event_type FROM events
        GROUP BY user_id, event_type),
    n AS (SELECT count(DISTINCT user_id) AS n_users FROM events),
    item AS (SELECT event_type, count(*) AS n_t FROM baskets
             GROUP BY event_type),
    pair AS (
        SELECT a.event_type AS ante, b.event_type AS cons,
               count(*) AS n_ab
        FROM baskets a JOIN baskets b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type)
    SELECT p.ante, p.cons, p.n_ab,
           (p.n_ab * 1000) // n.n_users AS support_pm,
           (p.n_ab * 1000) // ia.n_t AS confidence_pm,
           CAST((p.n_ab * n.n_users * 1000000)
                // (ia.n_t * ic.n_t) AS BIGINT) AS lift_ppm
    FROM pair p
    JOIN item ia ON ia.event_type = p.ante
    JOIN item ic ON ic.event_type = p.cons
    CROSS JOIN n
    """,
    doc="market-basket association rules over user event baskets: "
    "per unordered event-type pair, SUPPORT (basket share), "
    "CONFIDENCE (P(cons|ante)) and LIFT (observed/independent "
    "co-occurrence) — the classic affinity analysis (Agrawal et al. "
    "1993 methodology), all in integer permille/ppm so both engines "
    "agree exactly. Distinct from q157's SEQUENTIAL transitions: "
    "baskets are order-free sets. Plan: one (user, type) dedup "
    "groupBy, a within-user self-equi-join bounded by |types| per "
    "basket (<= 10 pairs per user at 5 types — never a corpus "
    "cartesian), one |types|^2-cell count, dimension counts "
    "broadcast back. Headroom: n_ab * n_users * 1e6 < 2^63 holds to "
    "~3e9 basket-pairs x users product",
)
def q234_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    baskets = ev.select("user_id", "event_type").distinct()
    n_users = ev.select("user_id").distinct().count()
    item = baskets.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_t")
    )
    from striot_spark.functions.graph import same_key_pairs

    # unique=False: one row per (user, type-pair) co-occurrence; the
    # groupBy below IS the dedup shuffle, so the basket table crosses
    # the wire once (PERF §43) instead of twice through a self-join
    pair = (
        same_key_pairs(
            baskets, "user_id", "event_type",
            out_a="ante", out_b="cons", unique=False,
        )
        .groupBy("ante", "cons")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    ia = item.select(
        F.col("event_type").alias("ante"), F.col("n_t").alias("n_a")
    )
    ic = item.select(
        F.col("event_type").alias("cons"), F.col("n_t").alias("n_c")
    )
    return (
        pair.join(F.broadcast(ia), "ante")
        .join(F.broadcast(ic), "cons")
        .select(
            "ante",
            "cons",
            "n_ab",
            F.expr(f"n_ab * 1000 DIV {n_users}").alias("support_pm"),
            F.expr("n_ab * 1000 DIV n_a").alias("confidence_pm"),
            F.expr(
                f"CAST(n_ab * {n_users} * 1000000 DIV (n_a * n_c) "
                "AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )


@register(
    "q235_minhash_cohort_similarity",
    f"""
    WITH a AS (SELECT DISTINCT user_id::VARCHAR AS item FROM events
               WHERE event_type = 'click' AND value >= 300),
    b AS (SELECT DISTINCT user_id::VARCHAR AS item FROM events
          WHERE event_type = 'purchase' AND value < 200),
    t AS (SELECT 'a' AS s, item FROM a
          UNION ALL SELECT 'b', item FROM b),
    h AS (SELECT s, {_HLL_H.format(x='item')} % 2147483647 AS hv FROM t),
    sig AS (SELECT s,
                   min((2 * hv + 1) % 2147483647) AS m0,
                   min((3 * hv + 7) % 2147483647) AS m1,
                   min((5 * hv + 13) % 2147483647) AS m2,
                   min((7 * hv + 31) % 2147483647) AS m3,
                   min((11 * hv + 61) % 2147483647) AS m4,
                   min((13 * hv + 127) % 2147483647) AS m5
            FROM h GROUP BY s),
    agree AS (
        SELECT CAST((CASE WHEN sa.m0 = sb.m0 THEN 1 ELSE 0 END)
                  + (CASE WHEN sa.m1 = sb.m1 THEN 1 ELSE 0 END)
                  + (CASE WHEN sa.m2 = sb.m2 THEN 1 ELSE 0 END)
                  + (CASE WHEN sa.m3 = sb.m3 THEN 1 ELSE 0 END)
                  + (CASE WHEN sa.m4 = sb.m4 THEN 1 ELSE 0 END)
                  + (CASE WHEN sa.m5 = sb.m5 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_agree
        FROM (SELECT * FROM sig WHERE s = 'a') sa
             CROSS JOIN (SELECT * FROM sig WHERE s = 'b') sb),
    ex AS (SELECT
               CAST((SELECT count(*) FROM a JOIN b USING (item))
                    AS BIGINT) AS n_inter,
               CAST((SELECT count(*) FROM
                     (SELECT item FROM a UNION SELECT item FROM b) u)
                    AS BIGINT) AS n_union)
    SELECT agree.n_agree, CAST(6 AS BIGINT) AS k,
           (agree.n_agree * 1000) // 6 AS est_jaccard_pm,
           (ex.n_inter * 1000) // ex.n_union AS exact_jaccard_pm
    FROM agree CROSS JOIN ex
    """,
    doc="SET-level MinHash similarity between two user cohorts "
    "(the similarity axis next to q233's HLL union/intersection): "
    "each cohort folds to a 6-component signature (min of the "
    "Carter-Wegman affine family over md5 item hashes — the same "
    "family as the document near-dup tier, functions/dedup.py), "
    "est Jaccard = agreeing components / k, next to the EXACT "
    "Jaccard so the gate proves the sketch math against the truth "
    "(q139's pattern). The signatures are 6 longs per cohort — the "
    "only exchanged state at scale; cohorts sketched by different "
    "jobs compare without ever co-scanning, and the same signatures "
    "feed q29's banding if many cohorts need all-pairs similarity",
)
def q235_minhash_cohort_similarity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from striot_spark.functions.dedup import MERSENNE_P, MINHASH_COEFFS
    from striot_spark.functions.text import md5_hash64

    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(
        (F.col("event_type") == "click") & (F.col("value") >= 300)
    ).select(F.col("user_id").cast("string").alias("item")).distinct()
    b = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("value") < 200)
    ).select(F.col("user_id").cast("string").alias("item")).distinct()
    tagged = a.select(F.lit("a").alias("s"), "item").unionByName(
        b.select(F.lit("b").alias("s"), "item")
    )
    h = (md5_hash64(F.col("item")) % MERSENNE_P).alias("hv")
    sig = (
        tagged.select("s", h)
        .groupBy("s")
        .agg(
            *[
                F.min(
                    (F.lit(ca) * F.col("hv") + F.lit(cb)) % MERSENNE_P
                ).alias(f"m{i}")
                for i, (ca, cb) in enumerate(MINHASH_COEFFS)
            ]
        )
    )
    sa = sig.filter(F.col("s") == "a").select(
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(6)]
    )
    sb = sig.filter(F.col("s") == "b").select(
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(6)]
    )
    agree = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("long") for i in range(6)
    )
    n_inter = a.join(b, "item").count()
    n_union = a.unionByName(b).distinct().count()
    return (
        sa.join(F.broadcast(sb))
        .select(
            agree.alias("n_agree"),
            F.lit(6).cast("long").alias("k"),
        )
        .select(
            "n_agree",
            "k",
            F.expr("n_agree * 1000 DIV 6").alias("est_jaccard_pm"),
            F.lit(n_inter * 1000 // n_union)
            .cast("long")
            .alias("exact_jaccard_pm"),
        )
    )


@register(
    "q274_decayed_user_activity",
    """
    WITH a AS (SELECT CAST(max(ts) AS DATE) AS anchor FROM events),
    g AS (SELECT user_id,
                 (datediff('day', CAST(ts AS DATE), anchor) // 7)
                     AS age_weeks
          FROM events CROSS JOIN a),
    w AS (SELECT user_id,
                 CASE WHEN age_weeks > 20 THEN CAST(0 AS BIGINT)
                      ELSE (CAST(1 AS BIGINT) << (20 - age_weeks))
                 END AS wt
          FROM g)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(wt) AS BIGINT) AS decayed_score
    FROM w GROUP BY user_id
    """,
    doc="recency-weighted user-activity score with an EXACT integer "
    "half-life (the decayed-count trending/engagement feature every "
    "behavioral ranking pipeline computes): each event contributes "
    "1 << (20 - age_weeks) — weight halves every 7 days from the "
    "corpus anchor (max event date), power-of-two weights so the "
    "decay is exact integer arithmetic on ANY engine (a float "
    "exp(-lambda*age) drifts with reduce order; shifted longs "
    "cannot), headroom 2^20 x 10k events per user far under 2^63. "
    "Plan: one scan + a 1-row anchor broadcast (q238's idiom) + one "
    "user groupBy with map-side partials — a 100 TB trending pass "
    "is one shuffle keyed on the grouping entity. Shift terms "
    "parenthesized on both engines (DuckDB << / | share precedence) "
    "and CLAMPED to zero past the 20-week horizon — a negative shift "
    "is mod-64 in the JVM (silently astronomical) and different "
    "again in DuckDB, so events older than the horizon must "
    "contribute exactly 0 on both engines by construction",
)
def q274_decayed_user_activity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from striot_spark.sources.batch import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    anchor = ev.agg(
        F.max(F.col("ts").cast("date")).alias("anchor")
    )
    return (
        ev.crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            F.expr(
                "CASE WHEN (datediff(anchor, CAST(ts AS DATE)) DIV 7)"
                " > 20 THEN CAST(0 AS BIGINT) ELSE "
                "CAST(1 AS BIGINT) << (20 - "
                "(datediff(anchor, CAST(ts AS DATE)) DIV 7)) END"
            ).alias("wt"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("wt").cast("long").alias("decayed_score"),
        )
    )


# shared by q284 (batch) and q286 (stream)
EXP_HISTOGRAM_ORACLE = f"""
    WITH c AS (SELECT event_type, {CENTS_SQL} AS v
               FROM events WHERE {CENTS_SQL} >= 1)
    SELECT event_type,
           CAST(length(bin(v)) - 1 AS BIGINT) AS bucket,
           CAST(1::BIGINT << (length(bin(v)) - 1) AS BIGINT) AS lo_c,
           CAST((1::BIGINT << length(bin(v))) - 1 AS BIGINT) AS hi_c,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(v) AS BIGINT) AS sum_c
    FROM c GROUP BY event_type, length(bin(v))
    """


@register(
    "q284_exponential_histogram",
    EXP_HISTOGRAM_ORACLE,
    doc="per-type EXPONENTIAL histogram of event values — the "
    "base-2-bucket latency/value histogram of the observability "
    "standard (OpenTelemetry exponential histograms, Prometheus "
    "native histograms; scale-0 base-2 variant), completing the "
    "histogram trio: q183 equiwidth (fixed linear bins), q231 "
    "equidepth (quantile bins, needs a rank pass), exponential "
    "(fixed RELATIVE-error bins, mergeable, streaming-friendly — "
    "the only one whose bucket function is a pure per-row "
    "projection at any scale). bucket = floor(log2(cents)) computed "
    "EXACTLY as length(bin(v)) - 1 (q272's bit-length idiom, no "
    "libm), [lo_c, hi_c] the closed cent bounds, per-bucket count + "
    "exact cent sum. One scan -> one (type, bucket) groupBy with "
    "map-side partials: ~|types| * 64 output rows from any input "
    "size. Zero-cent events are excluded (log2 undefined; the "
    "fixture has none - the filter is the documented domain guard)",
)
def q284_exponential_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        "event_type", cents(F.col("value")).alias("v")
    ).filter(F.col("v") >= 1)
    return (
        c.withColumn(
            "bucket", F.expr("CAST(length(bin(v)) - 1 AS BIGINT)")
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("v").cast("long").alias("sum_c"),
        )
        .select(
            "event_type",
            "bucket",
            F.expr("CAST(1 AS BIGINT) << CAST(bucket AS INT)").alias(
                "lo_c"
            ),
            F.expr(
                "(CAST(1 AS BIGINT) << (CAST(bucket AS INT) + 1)) - 1"
            ).alias("hi_c"),
            "n_events",
            "sum_c",
        )
    )


@register(
    "q290_first_touch_attribution",
    f"""
    WITH f AS (
        SELECT user_id, event_type AS first_type
        FROM (SELECT user_id, event_type,
                     row_number() OVER (
                         PARTITION BY user_id
                         ORDER BY ts ASC, event_id ASC) AS rn
              FROM events) x
        WHERE rn = 1),
    p AS (SELECT user_id,
                 CAST(count(*) AS BIGINT) AS n_purchases,
                 CAST(sum({CENTS_SQL}) AS BIGINT) AS revenue_c
          FROM events WHERE event_type = 'purchase'
          GROUP BY user_id)
    SELECT f.first_type,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(p.n_purchases) AS BIGINT) AS n_purchases,
           CAST(sum(p.revenue_c) AS BIGINT) AS revenue_c
    FROM f JOIN p ON f.user_id = p.user_id
    GROUP BY f.first_type
    """,
    doc="FIRST-TOUCH attribution — the marketing/product analytics "
    "complement of q153/q207's funnels (funnels ask 'did the "
    "sequence complete'; attribution asks 'which ENTRY channel gets "
    "credit for the conversion'): each converting user's purchases "
    "and exact cent revenue are credited to the event_type of their "
    "very first event under the (ts, event_id) total order — the "
    "deterministic tie-break every per-user sequence query here "
    "uses. One user-window for the first touch + one filtered "
    "user-keyed agg + one user-keyed join + one type rollup: two "
    "keyed shuffles over the events table at 100 TB, both on "
    "user_id (co-partitioned — AQE reuses the exchange), and the "
    "final rollup is |event_types| rows. Money in integer cents "
    "(order-insensitive, engine-exact)",
)
def q290_first_touch_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # first-touch pick as a struct-min aggregate ((ts, event_id) ASC —
    # exactly the old window order, event_id the unique tie-break):
    # map-side partials ship one winner per user per task instead of
    # shuffling + sorting every event inside its user partition (r13
    # arg-max finding, PERF §42)
    firsts = (
        ev.groupBy("user_id")
        .agg(
            F.min(
                F.struct(
                    F.col("ts").alias("ts"),
                    F.col("event_id").alias("event_id"),
                    F.col("event_type").alias("event_type"),
                )
            ).alias("m")
        )
        .select("user_id", F.col("m.event_type").alias("first_type"))
    )
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum(cents(F.col("value"))).cast("long").alias("revenue_c"),
        )
    )
    return (
        firsts.join(purch, "user_id")
        .groupBy("first_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("n_purchases").cast("long").alias("n_purchases"),
            F.sum("revenue_c").cast("long").alias("revenue_c"),
        )
    )
