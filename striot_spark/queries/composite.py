"""Composite-operator queries: streamJoinE / streamJoinW, time-sliding
windows, the general (Arrow/applyInPandas) stateful path, and the
literal window→expand roundtrip — each with a DuckDB oracle.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from striot_spark.functions.analytics import cents, ts_str
from striot_spark.operators import ChopTime, Complete, SlidingTime
from striot_spark.operators.windows import Chop
from striot_spark.queries.registry import register
from striot_spark.sources.batch import event_stream

CENTS_SQL = "CAST(round((value)*100.0, 0) AS BIGINT)"
EPOCH_S = "(epoch_us(ts) // 1000000)"


# shared by q31 (batch) and q87 (stream)
JOINW_ORACLE = f"""
    WITH l AS (
        SELECT ({EPOCH_S} // 86400) * 86400 AS left_window,
               sum({CENTS_SQL}) / 100.0 AS revenue
        FROM events WHERE event_type = 'purchase' GROUP BY 1),
    r AS (
        SELECT ({EPOCH_S} // 172800) * 172800 AS right_window,
               count(*) AS n_clicks
        FROM events WHERE event_type = 'click' GROUP BY 1)
    SELECT l.left_window, l.left_window - l.left_window % 172800 AS right_window,
           l.revenue, r.n_clicks
    FROM l LEFT JOIN r ON r.right_window = l.left_window - l.left_window % 172800
    """


@register(
    "q31_joinw_revenue_per_click",
    JOINW_ORACLE,
    doc="streamJoinW with different per-side window lengths "
    "(FunctionalProcessing.hs:175-178; taxi Q2 pattern Taxi.hs:299-305): "
    "1-day purchase revenue joined to the containing 2-day click window",
)
def q31_joinw(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = event_stream(spark, sf_dir)
    purchases = s.filter(F.col("event_type") == "purchase")
    clicks = s.filter(F.col("event_type") == "click")
    out = purchases.join_w(
        clicks,
        ChopTime("1 day"),
        ChopTime("2 days"),
        {"revenue": F.sum(cents(F.col("value"))) / 100.0},
        {"n_clicks": F.count(F.lit(1))},
    )
    return out.df.select("left_window", "right_window", "revenue", "n_clicks")


@register(
    "q87_joinw_stream",
    JOINW_ORACLE,
    doc="streamJoinW lowered to Structured Streaming (taxi Q2 pattern, "
    "Taxi.hs:299-305): two watermarked windowed aggregations — 1-day "
    "purchase revenue, 2-day click counts — drained available-now, then "
    "the tiny finalize tier aligns each left window to its containing "
    "right window (q65's two-tier shape: only the aggregations see fact "
    "volume; the window-level join is windows-x-keys small and runs in "
    "foreachBatch in production). Hash-checked against the SAME oracle "
    "as batch q31. The single-query chained-stateful lowering "
    "(streaming/runtime.py:join_w_stream) is exercised in "
    "tests/test_streaming.py — append mode withholds trailing "
    "unfinalized windows, so the bounded-replay oracle gate uses the "
    "drain form",
)
def q87_joinw_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.analytics import sum_money
    from striot_spark.queries.flagship import _stage_events
    from striot_spark.streaming import runtime as RT

    src = _stage_events(spark, sf_dir)
    purchases = RT.file_stream(spark, src).filter(
        F.col("event_type") == "purchase"
    )
    clicks = RT.file_stream(spark, src).filter(
        F.col("event_type") == "click"
    )
    lw = RT.window_agg_stream(
        purchases,
        "ts",
        "1 day",
        {"revenue": sum_money(F.col("value"))},
        watermark="1 minute",
    )
    rw = RT.window_agg_stream(
        clicks,
        "ts",
        "2 days",
        {"n_clicks": F.count(F.lit(1))},
        watermark="1 minute",
    )
    ld = RT.run_available_now(lw, mode="complete", source_path=src)
    rd = RT.run_available_now(rw, mode="complete", source_path=src)
    # finalize tier: left-start containment alignment (join_w's rule)
    l = ld.select(
        F.col("window_start").cast("long").alias("left_window"), "revenue"
    ).withColumn(
        "right_window",
        F.col("left_window") - F.col("left_window") % F.lit(172800),
    )
    r = rd.select(
        F.col("window_start").cast("long").alias("right_window"), "n_clicks"
    )
    return l.join(r, "right_window", "left").select(
        "left_window", "right_window", "revenue", "n_clicks"
    )


@register(
    "q93_joinw_stream_non_nesting",
    f"""
    WITH l AS (
        SELECT ({EPOCH_S} // 86400) * 86400 AS left_window,
               CAST(sum({CENTS_SQL}) AS BIGINT) AS revenue_c
        FROM events WHERE event_type = 'purchase' GROUP BY 1),
    r AS (
        SELECT ({EPOCH_S} // 129600) * 129600 AS right_window,
               count(*) AS n_clicks
        FROM events WHERE event_type = 'click' GROUP BY 1),
    wm AS (
        SELECT least(
            (SELECT max(epoch_us(ts)) FROM events
             WHERE event_type = 'purchase'),
            (SELECT max(epoch_us(ts)) FROM events
             WHERE event_type = 'click')
        ) / 1000000 - 60 AS w)
    SELECT l.left_window,
           l.left_window - l.left_window % 129600 AS right_window,
           l.revenue_c, r.n_clicks
    FROM l JOIN r ON r.right_window = l.left_window - l.left_window % 129600,
         wm
    WHERE greatest(l.left_window + 86400,
                   l.left_window - l.left_window % 129600 + 129600) <= wm.w
    """,
    doc="streamJoinW with NON-NESTING window lengths (1 day / 1.5 days; "
    "129600 % 86400 != 0) as ONE streaming query — the round-5 "
    "generalization of join_w_stream (FunctionalProcessing.hs:175-178 "
    "allows any pair): both sides lift into their 3-day LCM chained "
    "window, stream-stream join on it, then filter to the right window "
    "containing the left window's start. Round 6 (VERDICT r05 task 1): "
    "the emission rule is now PROVABLE, not empirically probed — the "
    "drained append-mode output is explicitly filtered to pairs whose "
    "BOTH windows' ends are at or below the final watermark (min over "
    "sides of max ts, minus the 60s delay; exact integer microseconds), "
    "the same rule the oracle states, and the result is asserted equal "
    "to the batch-computed closed set before returning (a driver red "
    "becomes a loud, diffable error instead of a silent hash "
    "mismatch). The staging is one sorted file ⇒ one data micro-batch "
    "(asserted), so watermark late-drops cannot perturb the sums. "
    "Revenue stays integer cents end-to-end",
)
def q93_joinw_stream_non_nesting(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from striot_spark.queries.flagship import _stage_events
    from striot_spark.streaming import runtime as RT

    src = _stage_events(spark, sf_dir)
    ev = spark.read.parquet(src)
    purchases = RT.file_stream(spark, src).filter(
        F.col("event_type") == "purchase"
    )
    clicks = RT.file_stream(spark, src).filter(
        F.col("event_type") == "click"
    )
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
    drained = RT.run_available_now(
        out,
        mode="append",
        expect_data_batches=1,
        source_path=src,
    )
    # final watermark in exact integer microseconds: min over sides of
    # the side's max event time, minus the 60s watermark delay
    wm_us = ev.agg(
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
        ).alias("m")
    ).first()["m"]
    cols = ["left_window", "right_window", "revenue_c", "n_clicks"]
    if wm_us is None:  # one side empty: no window can ever close
        return drained.select(*cols).limit(0)
    wm_us -= 60_000_000
    closed_pred = (
        F.greatest(
            F.col("left_window") + 86400, F.col("right_window") + 129600
        )
        * 1_000_000
        <= F.lit(wm_us)
    )
    res = drained.filter(closed_pred).select(*cols)
    _assert_q93_closed(ev, res, wm_us)
    return res


def _q93_closed_batch(ev: DataFrame, wm_us: int) -> DataFrame:
    """The closed-at-watermark pair set computed in BATCH over the same
    staged events — the ground truth q93's drained streaming output is
    asserted against (integer-seconds window arithmetic, identical to
    the DuckDB oracle's)."""
    sec = F.floor(F.unix_micros(F.col("ts")) / 1_000_000).cast("long")
    lb = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy((sec - sec % 86400).alias("left_window"))
        .agg(F.sum(cents(F.col("value"))).alias("revenue_c"))
    )
    rb = (
        ev.filter(F.col("event_type") == "click")
        .groupBy((sec - sec % 129600).alias("right_window"))
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    j = lb.withColumn(
        "right_window", F.col("left_window") - F.col("left_window") % 129600
    ).join(rb, "right_window", "inner")
    return j.filter(
        F.greatest(
            F.col("left_window") + 86400, F.col("right_window") + 129600
        )
        * 1_000_000
        <= F.lit(wm_us)
    ).select("left_window", "right_window", "revenue_c", "n_clicks")


def _assert_q93_closed(ev: DataFrame, res: DataFrame, wm_us: int) -> None:
    """VERDICT r05 task 1: assert the drained set equals the
    closed-window set before returning; on mismatch dump both sides
    and raise with a compact diff, so a driver divergence is
    diagnosable instead of an opaque hash mismatch."""
    expected = sorted(tuple(r) for r in _q93_closed_batch(ev, wm_us).collect())
    got = sorted(tuple(r) for r in res.collect())
    if expected == got:
        return
    import json
    import tempfile

    dump = tempfile.mkdtemp(  # post-mortem artifact: must outlive the process
        prefix="striot_q93_mismatch_")
    with open(f"{dump}/drained.json", "w") as fh:
        json.dump(got, fh, default=str)
    with open(f"{dump}/closed.json", "w") as fh:
        json.dump(expected, fh, default=str)
    eset, gset = set(expected), set(got)
    raise RuntimeError(
        "q93: drained streaming pairs != closed-at-watermark set "
        f"(wm_us={wm_us}): missing={sorted(eset - gset)[:5]} "
        f"extra={sorted(gset - eset)[:5]} (full dump: {dump})"
    )


@register(
    "q93d_joinw_stream_money_double",
    f"""
    WITH l AS (
        SELECT ({EPOCH_S} // 86400) * 86400 AS left_window,
               CAST(sum({CENTS_SQL}) AS BIGINT) AS revenue_c
        FROM events WHERE event_type = 'purchase' GROUP BY 1),
    r AS (
        SELECT ({EPOCH_S} // 129600) * 129600 AS right_window,
               count(*) AS n_clicks
        FROM events WHERE event_type = 'click' GROUP BY 1),
    wm AS (
        SELECT least(
            (SELECT max(epoch_us(ts)) FROM events
             WHERE event_type = 'purchase'),
            (SELECT max(epoch_us(ts)) FROM events
             WHERE event_type = 'click')
        ) / 1000000 - 60 AS w)
    SELECT l.left_window,
           l.left_window - l.left_window % 129600 AS right_window,
           l.revenue_c / 100.0 AS revenue, r.n_clicks
    FROM l JOIN r ON r.right_window = l.left_window - l.left_window % 129600,
         wm
    WHERE greatest(l.left_window + 86400,
                   l.left_window - l.left_window % 129600 + 129600) <= wm.w
    """,
    doc="q93 shadow pair for the driver-hash probe (VERDICT r05 task 5): "
    "byte-identical pipeline to q93_joinw_stream_non_nesting, but the "
    "money column is emitted as a DOUBLE (integer cents / 100.0, oracle "
    "matching) instead of a raw BIGINT sum. Shadow green + original red "
    "isolates the driver's integer value hashing as the culprit; both "
    "green (expected after the round-6 determinism fixes) retires the "
    "hasher hypothesis",
)
def q93d_joinw_stream_money_double(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    out = q93_joinw_stream_non_nesting(spark, sf_dir)
    return out.select(
        "left_window",
        "right_window",
        (F.col("revenue_c") / 100.0).alias("revenue"),
        "n_clicks",
    )


# shared by q32 (batch) and q117 (stream)
JOINE_ORACLE = f"""
    WITH p AS (SELECT ({EPOCH_S} // 3600) * 3600 AS window_id, event_id, value
               FROM events WHERE event_type = 'purchase'),
         e AS (SELECT ({EPOCH_S} // 3600) * 3600 AS window_id, event_id, value
               FROM events WHERE event_type = 'error')
    SELECT p.window_id, p.event_id AS purchase_id, e.event_id AS error_id
    FROM p JOIN e USING (window_id) WHERE p.value > e.value
    """


@register(
    "q32_joine_window_theta",
    JOINE_ORACLE,
    doc="streamJoinE: windowed theta join — cartesian within time-aligned "
    "1h windows, filtered purchase.value > error.value "
    "(FunctionalProcessing.hs:161-173); equi-join on window key at scale",
)
def q32_joine(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = event_stream(spark, sf_dir)
    purchases = s.filter(F.col("event_type") == "purchase")
    errors = s.filter(F.col("event_type") == "error")
    out = purchases.join_e(
        errors,
        ChopTime("1 hour"),
        theta=F.col("l_value") > F.col("r_value"),
        select=[
            F.col("l_event_id").alias("purchase_id"),
            F.col("r_event_id").alias("error_id"),
        ],
    )
    return out.df.select("window_id", "purchase_id", "error_id")


@register(
    "q33_sliding_time_window",
    f"""
    SELECT event_id,
           count(*) OVER w AS n_10m,
           sum({CENTS_SQL}) OVER w / 100.0 AS sum_10m
    FROM events
    WINDOW w AS (ORDER BY ts
                 RANGE BETWEEN INTERVAL 10 MINUTES PRECEDING AND CURRENT ROW)
    """,
    doc="slidingTime as a rangeBetween analytic frame — zero row "
    "multiplication (FunctionalProcessing.hs:99-108, backward form)",
)
def q33_sliding_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = event_stream(spark, sf_dir)
    out = s.window_agg(
        SlidingTime(600_000, backward=True),
        {"n_10m": F.count(F.lit(1)), "s_": F.sum(cents(F.col("value")))},
    )
    return out.df.select(
        "event_id", "n_10m", (F.col("s_") / F.lit(100.0)).alias("sum_10m")
    )


@register(
    "q34_filteracc_above_running_avg",
    f"""
    SELECT event_id, user_id, value FROM (
        SELECT event_id, user_id, value,
               count(*) OVER wprev AS pc,
               sum({CENTS_SQL}) OVER wprev AS ps
        FROM events
        WINDOW wprev AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) t
    WHERE pc = 0 OR {CENTS_SQL} * pc > ps
    """,
    doc="general streamFilterAcc via Arrow applyInPandas (exact reference "
    "semantics: predicate sees pre-update accumulator, "
    "FunctionalProcessing.hs:181-185): keep events above the running "
    "mean of prior events, per user — oracle-checked against SQL",
)
def q34_above_running_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = event_stream(spark, sf_dir)

    def step(state, row):
        cnt, total = state
        return (cnt + 1, total + _row_cents(row))

    def pred(row, state):
        cnt, total = state
        return cnt == 0 or _row_cents(row) * cnt > total

    out = s.filter_acc_apply(step, (0, 0), pred, key=["user_id"])
    return out.df.select("event_id", "user_id", "value")


def _row_cents(row: dict) -> int:
    # identical to the engines' round-half-away-from-zero at 0 decimals
    # (values are positive; floor(x+0.5) == half-up there)
    return int(math.floor(row["value"] * 100.0 + 0.5))


@register(
    "q35_complete_window",
    f"""
    SELECT count(*) AS n_events,
           sum({CENTS_SQL}) / 100.0 AS sum_value,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS first_ts,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_ts
    FROM events
    """,
    doc="complete: whole-stream single window "
    "(FunctionalProcessing.hs:131-132) — global agg, no grouping",
)
def q35_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = event_stream(spark, sf_dir)
    out = s.window_agg(
        Complete(),
        {
            "n_events": F.count(F.lit(1)),
            "sum_value": F.sum(cents(F.col("value"))) / 100.0,
            "first_ts": ts_str(F.min("ts")),
            "last_ts": ts_str(F.max("ts")),
        },
    )
    return out.df.select("n_events", "sum_value", "first_ts", "last_ts")


@register(
    "q39_sliding_time_forward",
    f"""
    SELECT event_id,
           count(*) OVER w AS n_next_10m
    FROM events
    WINDOW w AS (ORDER BY ts
                 RANGE BETWEEN CURRENT ROW AND INTERVAL 10 MINUTES FOLLOWING)
    """,
    doc="slidingTime, reference orientation: each event opens a window "
    "covering the NEXT 10 minutes (takeTime, "
    "FunctionalProcessing.hs:99-108) — forward rangeBetween frame",
)
def q39_sliding_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = event_stream(spark, sf_dir)
    out = s.window_agg(
        SlidingTime(600_000, backward=False), {"n_next_10m": F.count(F.lit(1))}
    )
    return out.df.select("event_id", "n_next_10m")


@register(
    "q40_empty_windows",
    f"""
    WITH bounds AS (SELECT min(ts) AS lo, max(ts) AS hi FROM events),
    buckets AS (
        SELECT unnest(generate_series(
            (epoch_us(lo) // 1000000 // 900) * 900,
            (epoch_us(hi) // 1000000 // 900) * 900,
            900)) AS window_id
        FROM bounds),
    agg AS (
        SELECT ({EPOCH_S} // 900) * 900 AS window_id, count(*) AS n
        FROM events GROUP BY 1)
    SELECT b.window_id, coalesce(a.n, 0) AS n
    FROM buckets b LEFT JOIN agg a USING (window_id)
    """,
    doc="empty-window emission: the reference emits Event Nothing "
    "(Just []) for empty chopTime intervals (FunctionalProcessing.hs:86, "
    "WearableStreams.hs:70-75); reproduced via window-skeleton left join",
)
def q40_empty_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.operators.windows import WINDOW_ID, window_skeleton

    s = event_stream(spark, sf_dir)
    maker = ChopTime("15 minutes")  # sparse enough that empty windows
    # genuinely occur at every test scale factor
    agg = s.window_agg(maker, {"n": F.count(F.lit(1))}).df
    skel = window_skeleton(s.df, maker, "ts")
    return (
        skel.join(agg, WINDOW_ID, "left")
        .fillna(0, subset=["n"])
        .select("window_id", "n")
    )


@register(
    "q41_merge_timestamp_order",
    """
    SELECT row_number() OVER (ORDER BY ts, event_id) AS pos, event_id, event_type
    FROM events WHERE event_type IN ('click', 'view', 'signup')
    """,
    doc="streamMerge with materialized timestamp order: union of three "
    "streams re-ordered by (event_time, seq) — the in-memory reference "
    "merge guarantee (FunctionalProcessing.hs:142-143) on top of "
    "Spark's unordered union (SURVEY.md §7.3 point 4)",
)
def q41_merge_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    s = event_stream(spark, sf_dir)
    parts = [
        s.filter(F.col("event_type") == t) for t in ("click", "view", "signup")
    ]
    merged = parts[0].merge(*parts[1:])
    w = W.orderBy("ts", "event_id")
    return merged.df.select(
        F.row_number().over(w).alias("pos"), "event_id", "event_type"
    )


@register(
    "q46_profitability_cells",
    f"""
    WITH p AS (
        SELECT ({EPOCH_S} // 3600) * 3600 AS pwindow,
               CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS cell,
               quantile_cont({CENTS_SQL}, 0.5) / 100.0 AS median_profit
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
    i AS (
        SELECT ({EPOCH_S} // 7200) * 7200 AS iwindow,
               CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS cell,
               count(DISTINCT user_id) AS n_idle
        FROM events WHERE event_type = 'view' GROUP BY 1, 2)
    SELECT p.pwindow, p.cell, p.median_profit, i.n_idle,
           p.median_profit / i.n_idle AS profitability
    FROM p JOIN i ON i.iwindow = p.pwindow - p.pwindow % 7200
                 AND i.cell = p.cell
    """,
    doc="taxi Q2 profitableCells analog (Taxi.hs:257-305): per-cell "
    "median profit over 1h windows / distinct idle count over the "
    "containing 2h window — per-key unequal-window joinW with exact "
    "cents median; both sides shuffle once on (window, cell)",
)
def q46_profitability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.analytics import median_money
    from striot_spark.sources.batch import load_table

    ev = load_table(spark, sf_dir, "events")
    cell = F.regexp_extract(F.col("props"), '"k": ([0-9]+)', 1).cast("long")
    sec = F.col("ts").cast("long")
    profit = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(
            (sec - sec % 3600).alias("pwindow"), cell.alias("cell")
        )
        .agg(median_money(F.col("value")).alias("median_profit"))
    )
    idle = (
        ev.filter(F.col("event_type") == "view")
        .groupBy(
            (sec - sec % 7200).alias("iwindow"), cell.alias("cell")
        )
        .agg(F.countDistinct("user_id").alias("n_idle"))
    )
    joined = profit.join(
        idle,
        (F.col("iwindow") == F.col("pwindow") - F.col("pwindow") % 7200)
        & (profit["cell"] == idle["cell"]),
    )
    return joined.select(
        "pwindow",
        profit["cell"].alias("cell"),
        "median_profit",
        "n_idle",
        (F.col("median_profit") / F.col("n_idle")).alias("profitability"),
    )


@register(
    "q36_window_expand_roundtrip",
    """
    SELECT event_id FROM events
    """,
    doc="streamWindow (literal Stream a → Stream [a]) then streamExpand "
    "flattens back — identity roundtrip (FunctionalProcessing.hs:77-86, "
    ":206-210)",
)
def q36_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = event_stream(spark, sf_dir)
    windowed = s.window(Chop(50), collect=F.col("event_id"))
    return windowed.expand("values", alias="event_id").df.select("event_id")


@register(
    "q53_asof_enrich",
    """
    WITH l AS (SELECT event_id, user_id, ts, value, 1 AS side,
                      event_id AS tie,
                      NULL::DOUBLE AS last_click_value,
                      NULL::BIGINT AS last_click_id
               FROM events WHERE event_type = 'purchase'),
         r AS (SELECT NULL::BIGINT AS event_id, user_id, ts,
                      NULL::DOUBLE AS value, 0 AS side,
                      event_id AS tie,
                      value AS last_click_value,
                      event_id AS last_click_id
               FROM events WHERE event_type = 'click'),
         u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
         c AS (SELECT event_id, user_id, value, side,
                      last_value(last_click_value IGNORE NULLS) OVER w
                          AS lcv,
                      last_value(last_click_id IGNORE NULLS) OVER w AS lci
               FROM u
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, tie
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW))
    SELECT event_id, user_id, value, lcv AS last_click_value,
           lci AS last_click_id
    FROM c WHERE side = 1
    """,
    doc="as-of (backward) join: each purchase enriched with the user's "
    "latest prior-or-same-time click — union + last(ignorenulls) carry-"
    "forward, ONE shuffle on the key, no range-join row explosion",
)
def q53_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.operators.join import asof_join
    from striot_spark.sources.batch import load_table

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click")
    out = asof_join(
        purchases,
        clicks,
        ["user_id"],
        "ts",
        {
            "last_click_value": F.col("value"),
            "last_click_id": F.col("event_id"),
        },
        right_seq="event_id",
        left_seq="event_id",
    )
    return out.select(
        "event_id", "user_id", "value", "last_click_value", "last_click_id"
    )


@register(
    "q54_time_rollup",
    f"""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           count(*) AS n,
           sum({CENTS_SQL}) / 100.0 AS sum_value
    FROM events
    GROUP BY ROLLUP (day, event_type)
    """,
    doc="hypertable-style multi-resolution rollup: (day, type) -> (day) "
    "-> grand total in ONE pass via ROLLUP grouping sets — partial "
    "aggregation applies at every level, integer-cents sums stay exact "
    "under distributed combine (not in the reference, SURVEY.md §2.6 — "
    "free on Spark and table stakes for a metrics store)",
)
def q54_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.analytics import day_str
    from striot_spark.sources.batch import load_table

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", day_str(F.col("ts"))
    )
    return ev.rollup("day", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(cents(F.col("value"))) / F.lit(100.0)).alias("sum_value"),
    )


@register(
    "q55_json_props",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY event_type
    """,
    doc="semi-structured payloads: JSON props parsed JVM-side with "
    "get_json_object (no Python), aggregated with map-side combine — "
    "the metadata-sidecar pattern every training corpus carries",
)
def q55_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.sources.batch import load_table

    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
    )


# shared by q56 (batch) and q115 (stream)
DAILY_DISTINCT_ORACLE = """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events GROUP BY 1
    """


@register(
    "q56_daily_distinct_users",
    DAILY_DISTINCT_ORACLE,
    doc="exact windowed distinct count: Spark lowers to a two-phase "
    "plan (partial dedup on (day, user) map-side, then count) — the "
    "distinct shuffle carries unique pairs, not raw events",
)
def q56_daily_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.analytics import day_str
    from striot_spark.sources.batch import load_table

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", day_str(F.col("ts"))
    )
    return ev.groupBy("day").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


# shared by q59 (batch) and q116 (stream)
INTERVAL_JOIN_ORACLE = f"""
    WITH c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
               FROM events WHERE event_type = 'click'),
         p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
                      value
               FROM events WHERE event_type = 'purchase')
    SELECT c.click_id, p.purchase_id, c.user_id,
           epoch_us(p.purchase_ts) - epoch_us(c.click_ts) AS gap_us,
           CAST(round(p.value * 100.0, 0) AS BIGINT) / 100.0
               AS purchase_value
    FROM c JOIN p
      ON c.user_id = p.user_id
     AND p.purchase_ts >= c.click_ts
     AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
    """


@register(
    "q59_interval_join",
    INTERVAL_JOIN_ORACLE,
    doc="bounded time-interval join (click -> purchases by the same "
    "user within 1h) via the binned range-join lowering in "
    "operators/join.py:interval_join — equi-join on (key, time-bin) "
    "with x2 right replication instead of a per-key nested loop; the "
    "batch form of streaming's time-interval join (not in the "
    "reference: its only joins are positional zips, SURVEY.md §2.1 #6)",
)
def q59_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.operators.join import interval_join
    from striot_spark.sources.batch import load_table

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "value",
    )
    out = interval_join(
        clicks, purchases, ["user_id"], "click_ts", "purchase_ts",
        0.0, 3600.0,
    )
    return out.select(
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
    "q60_salted_skew_join",
    f"""
    SELECT c.c_mktsegment AS segment,
           count(*) AS n_events,
           sum({CENTS_SQL}) / 100.0 AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
    doc="skew-resistant salted equi-join (core/scale.py:salted_join): "
    "each left key spreads across 16 salt buckets, right side "
    "replicated x16 — the explicit tool for keys AQE skew-split "
    "cannot divide (a sort-merge join still sorts one key's rows in "
    "one task); result identical to the plain join, verified by the "
    "plain-join oracle",
)
def q60_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.core.scale import salted_join
    from striot_spark.sources.batch import load_table

    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(ev, cust, "user_id", salt=16)
    return joined.groupBy(
        F.col("c_mktsegment").alias("segment")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(cents(F.col("value"))) / F.lit(100.0)).alias("sum_value"),
    )


@register(
    "q61_approx_aggregates",
    f"""
    SELECT event_type,
           count(DISTINCT user_id) AS n_exact,
           TRUE AS approx_distinct_ok,
           TRUE AS approx_p50_ok
    FROM events GROUP BY event_type
    """,
    doc="approximate aggregates with an explicit tolerance contract "
    "(not in the reference, SURVEY.md §2.6; at 100 TB exact distinct "
    "shuffles every unique pair while HLL ships fixed-size sketches "
    "that merge map-side): per type, HLL approx_count_distinct(rsd=2%) "
    "must land within 5% of exact, and percentile_approx(value, 0.5) "
    "within 5% of the exact median — the booleans are oracle-checked, "
    "so a sketch drifting out of tolerance fails the hash compare. "
    "Distinct and percentile aggregates run as two separate "
    "aggregations joined on the tiny group key: mixing a DISTINCT "
    "aggregate with percentiles in one agg forces an Expand + "
    "sort-aggregate plan (measured 4.7x slower at sf0.1)",
)
def q61_approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.sources.batch import load_table

    ev = load_table(spark, sf_dir, "events")
    cents_col = cents(F.col("value"))
    distinct = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("__n_approx"),
    )
    pctl = ev.groupBy("event_type").agg(
        (F.percentile(cents_col, F.lit(0.5)) / 100.0).alias("__p50_exact"),
        (F.percentile_approx(cents_col, F.lit(0.5)) / 100.0).alias(
            "__p50_approx"
        ),
    )
    agg = distinct.join(pctl, "event_type")
    tol = lambda a, b: (  # noqa: E731
        F.abs(F.col(a) - F.col(b)) <= 0.05 * F.abs(F.col(b))
    )
    return agg.select(
        "event_type",
        "n_exact",
        tol("__n_approx", "n_exact").alias("approx_distinct_ok"),
        tol("__p50_approx", "__p50_exact").alias("approx_p50_ok"),
    )


@register(
    "q79_pivot_event_counts",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           count(*) FILTER (event_type = 'click')    AS click,
           count(*) FILTER (event_type = 'error')    AS error,
           count(*) FILTER (event_type = 'purchase') AS purchase,
           count(*) FILTER (event_type = 'signup')   AS signup,
           count(*) FILTER (event_type = 'view')     AS view
    FROM events GROUP BY 1
    """,
    doc="pivot: per-day event-type counts as columns. The value list is "
    "EXPLICIT (pivot('col', values)) — without it Spark runs an extra "
    "distinct-collect job over the fact table to discover the columns; "
    "at 100 TB the pivot value set must be known, bounded metadata. "
    "Lowers to one groupBy with conditional aggregates (single "
    "shuffle, map-side combine), same as the oracle's FILTER form",
)
def q79_pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.analytics import day_str
    from striot_spark.sources.batch import load_table

    types = ["click", "error", "purchase", "signup", "view"]
    ev = load_table(spark, sf_dir, "events")
    out = (
        ev.groupBy(day_str(F.col("ts")).alias("day"))
        .pivot("event_type", types)
        .count()
    )
    # pivot leaves a NULL (not 0) for absent combos; match count(*)
    # FILTER semantics
    return out.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types]
    )


@register(
    "q80_unpivot_money_metrics",
    """
    SELECT l_orderkey, l_linenumber, 'l_extendedprice' AS metric,
           l_extendedprice AS amount
    FROM lineitem WHERE l_orderkey % 100 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
    FROM lineitem WHERE l_orderkey % 100 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
    FROM lineitem WHERE l_orderkey % 100 = 0
    """,
    doc="unpivot/melt: wide metric columns to long (metric, amount) "
    "rows via Spark's native unpivot — a zero-shuffle row-expansion "
    "projection over ONE scan (the inverse of q79); the oracle's "
    "UNION ALL form would scan three times",
)
def q80_unpivot_money_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.sources.batch import load_table

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 100 == 0
    )
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "amount",
    )


@register(
    "q82_cube_counts",
    f"""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           GROUPING(strftime(date_trunc('day', ts), '%Y-%m-%d'))::BIGINT * 2
               + GROUPING(event_type)::BIGINT AS gid,
           count(*) AS n,
           sum({CENTS_SQL}) / 100.0 AS sum_value
    FROM events
    GROUP BY CUBE (day, event_type)
    """,
    doc="CUBE grouping sets: all four aggregation levels — (day, type), "
    "(day), (type), grand total — in ONE pass with partial aggregation "
    "at every level; grouping_id disambiguates real NULLs from "
    "subtotal rows (the ROLLUP q54's lattice completed)",
)
def q82_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.analytics import day_str
    from striot_spark.sources.batch import load_table

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", day_str(F.col("ts"))
    )
    return ev.cube("day", "event_type").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n"),
        (F.sum(cents(F.col("value"))) / F.lit(100.0)).alias("sum_value"),
    ).select("day", "event_type", "gid", "n", "sum_value")


@register(
    "q83_set_ops_users",
    """
    SELECT user_id, 'click_no_purchase' AS cohort FROM (
        SELECT user_id FROM events WHERE event_type = 'click'
        EXCEPT
        SELECT user_id FROM events WHERE event_type = 'purchase')
    UNION ALL
    SELECT user_id, 'click_and_purchase' FROM (
        SELECT user_id FROM events WHERE event_type = 'click'
        INTERSECT
        SELECT user_id FROM events WHERE event_type = 'purchase')
    """,
    doc="relational set ops: EXCEPT and INTERSECT cohorts from one "
    "events table — Spark lowers subtract/intersect to LEFT ANTI / "
    "LEFT SEMI over hash-distinct inputs (one shuffle each on the "
    "user key, no fact-table cartesian anywhere)",
)
def q83_set_ops_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.sources.batch import load_table

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id")
    no_buy = clicks.subtract(buys).select(
        "user_id", F.lit("click_no_purchase").alias("cohort")
    )
    both = clicks.intersect(buys).select(
        "user_id", F.lit("click_and_purchase").alias("cohort")
    )
    return no_buy.unionByName(both)


@register(
    "q118_quality_audit",
    """
    SELECT 'not_null(o_custkey)' AS "check",
           count(*) FILTER (o_custkey IS NULL) AS n_violations,
           count(*) AS n_rows
    FROM orders
    UNION ALL
    SELECT 'in_range(l_quantity,1,30)',
           count(*) FILTER (l_quantity IS NOT NULL
                            AND (l_quantity < 1 OR l_quantity > 30)),
           count(*)
    FROM lineitem
    UNION ALL
    SELECT 'one_of(event_type,click,view,purchase,signup)',
           count(*) FILTER (event_type IS NOT NULL AND event_type NOT IN
                            ('click', 'view', 'purchase', 'signup')),
           count(*)
    FROM events
    UNION ALL
    SELECT 'lang_shape',
           count(*) FILTER (lang IS NOT NULL
                            AND NOT regexp_matches(lang, '^(en|es|de|fr)$')),
           count(*)
    FROM documents
    UNION ALL
    SELECT 'unique(o_orderkey)',
           count(*) - count(DISTINCT o_orderkey),
           count(*)
    FROM orders
    UNION ALL
    SELECT 'fk(o_custkey->c_custkey)',
           count(*) FILTER (o_custkey IS NOT NULL AND o_custkey NOT IN
                            (SELECT c_custkey FROM customer)),
           count(*)
    FROM orders
    """,
    doc="deequ-style data-quality audit (functions/audit.py; Schelter "
    "et al. VLDB'18 methodology): N row-level constraints compile to "
    "ONE conditional-count aggregate per table — auditing any number "
    "of checks costs one scan with map-side partials, not N scans; "
    "key uniqueness is one groupBy shuffling unique keys, and "
    "referential integrity is one broadcast left join + aggregate, "
    "fact table never shuffled, nothing collected",
)
def q118_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions import audit as A
    from striot_spark.sources.batch import load_table

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")
    customer = load_table(spark, sf_dir, "customer")
    parts = [
        A.audit(orders, [A.not_null("o_custkey")]),
        A.audit(lineitem, [A.in_range("l_quantity", 1, 30)]),
        A.audit(
            events,
            [A.one_of("event_type", ("click", "view", "purchase", "signup"))],
        ),
        A.audit(
            docs, [A.matches("lang", "^(en|es|de|fr)$", label="lang_shape")]
        ),
        A.unique_key(orders, ["o_orderkey"]),
        A.foreign_key(orders, "o_custkey", customer, "c_custkey"),
    ]
    return A.audit_suite(parts)


@register(
    "q119_snapshot_diff",
    """
    WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
    n AS (SELECT doc_id,
                 CASE WHEN doc_id % 11 = 0 THEN text || ' v2'
                      ELSE text END AS text
          FROM documents WHERE doc_id % 5 <> 0)
    SELECT doc_id, op FROM (
        SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.doc_id IS NULL THEN 'insert'
                    WHEN n.doc_id IS NULL THEN 'delete'
                    WHEN o.text <> n.text THEN 'update' END AS op
        FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id) t
    WHERE op IS NOT NULL
    """,
    doc="snapshot diff / CDC extract (functions/analytics.py:"
    "snapshot_diff — the inverse of q107's latest-wins compaction): "
    "two snapshots -> {insert,delete,update} change feed. Digest "
    "comparison scan-side (16-byte md5, not wide payloads), then ONE "
    "full-outer hash equi-join on the key — the minimal shuffle for "
    "an arbitrary-key diff; bucketed snapshots make it co-located",
)
def q119_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.analytics import snapshot_diff
    from striot_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 7 != 0).select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" v2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return snapshot_diff(old, new, ["doc_id"], ["text"])


@register(
    "q124_column_profile",
    """
    SELECT 'l_quantity' AS "column", count(*) AS n_rows,
           count(l_quantity) AS n_nonnull,
           count(DISTINCT l_quantity) AS n_distinct
    FROM lineitem
    UNION ALL
    SELECT 'l_linestatus', count(*), count(l_linestatus),
           count(DISTINCT l_linestatus)
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag', count(*), count(l_returnflag),
           count(DISTINCT l_returnflag)
    FROM lineitem
    """,
    doc="one-pass column profiling (functions/audit.py:profile): "
    "exact per-column nonnull + distinct counts for any number of "
    "columns from a SINGLE aggregate — Spark plans the multi-distinct "
    "as one Expand (k x map-side row multiplication) with one shuffle "
    "of partial states, never per-column rescans; the profiling "
    "companion to the q118 constraint audit",
)
def q124_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.audit import profile
    from striot_spark.sources.batch import load_table

    li = load_table(spark, sf_dir, "lineitem")
    return profile(li, ["l_quantity", "l_linestatus", "l_returnflag"])


@register(
    "q142_skew_profile",
    """
    WITH c AS (SELECT user_id AS k, count(*) AS n
               FROM events GROUP BY user_id),
    t AS (SELECT sum(n) AS total_rows, count(*) AS n_keys FROM c),
    r AS (SELECT k, n, row_number() OVER (ORDER BY n DESC, k ASC) AS rank
          FROM c)
    SELECT CAST(r.k AS VARCHAR) AS key_value,
           r.n, r.rank,
           CAST((r.n * 1000) // t.total_rows AS BIGINT) AS permille,
           t.n_keys, CAST(t.total_rows AS BIGINT) AS total_rows
    FROM r, t WHERE r.rank <= 10
    """,
    doc="key-distribution skew profile: the 10 heaviest keys with "
    "count, rank and integer-permille share plus global row/key "
    "totals — the pre-flight diagnostic for choosing salting (q60) or "
    "AQE skew handling before a hot-key join burns a cluster. Top-N "
    "is TakeOrdered (per-partition local N, driver merge), NEVER a "
    "single-partition sort of the key set; totals broadcast back "
    "(functions/audit.py:skew_stats)",
)
def q142_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.audit import skew_stats
    from striot_spark.sources.batch import load_table

    ev = load_table(spark, sf_dir, "events")
    return skew_stats(ev, "user_id", top_n=10)


@register(
    "q159_join_size_estimate",
    """
    WITH ca AS (SELECT o_orderkey AS k, count(*) AS ca
                FROM orders GROUP BY o_orderkey),
    cb AS (SELECT l_orderkey AS k, count(*) AS cb
           FROM lineitem GROUP BY l_orderkey),
    p AS (SELECT ca.k, ca.ca * cb.cb AS rows_out
          FROM ca JOIN cb ON ca.k = cb.k),
    t AS (SELECT sum(rows_out) AS t FROM p),
    r AS (SELECT k, rows_out,
                 row_number() OVER (
                     ORDER BY rows_out DESC, k ASC) AS rank
          FROM p)
    SELECT CAST('<TOTAL>' AS VARCHAR) AS key_value,
           CAST(0 AS INTEGER) AS rank,
           CAST(t.t AS BIGINT) AS rows_out,
           CAST(1000 AS BIGINT) AS permille
    FROM t
    UNION ALL
    SELECT CAST(r.k AS VARCHAR), CAST(r.rank AS INTEGER),
           CAST(r.rows_out AS BIGINT),
           CAST((r.rows_out * 1000) // t.t AS BIGINT)
    FROM r, t WHERE r.rank <= 10
    """,
    doc="EXACT equi-join output-size prediction before running the "
    "join: sum over keys of count_left x count_right, computed from "
    "two key-count aggregates joined to each other (key-cardinality-"
    "sized, never the fact rows) plus the 10 heaviest keys with "
    "integer-permille shares — skew_stats' companion in the "
    "pre-flight family that decides plain vs broadcast vs salted "
    "(q60) vs bucketed (q132) execution "
    "(functions/audit.py:join_size_estimate)",
)
def q159_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.audit import join_size_estimate
    from striot_spark.sources.batch import load_table

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return join_size_estimate(o, li, "o_orderkey", "l_orderkey")
