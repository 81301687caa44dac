"""Benchmark harness: runs the registered headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints JSON lines: the errors, the
per-query parts, the top queries, and LAST the summary
{"metric": ..., "value": total_sec, "unit": "sec", "sf": ..., ...}.
The complete record goes to bench_full_latest.json.

Each query is forced end-to-end with the noop sink (full computation, no
driver-side collect skew).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))


def _local_dir_free_bytes() -> int | None:
    """Free bytes on the first SPARK_LOCAL_DIRS entry (the temp dir when
    unset), or None when it cannot be read."""
    local = os.environ.get("SPARK_LOCAL_DIRS") or tempfile.gettempdir()
    try:
        return shutil.disk_usage(local.split(",")[0]).free
    except OSError:
        return None


def open_session(sf_dir: str, app_name: str, extra_conf=None):
    """The measuring session shared by bench.py and tools/: the project
    session (``get_spark``), ERROR logging, the warm-ups and every
    table loaded once, so timed queries measure compute, not
    first-touch."""
    from striot_spark.session import get_spark
    from striot_spark.sources.batch import load_table

    spark = get_spark(app_name=app_name, extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    # warm up the JVM, codegen, and parquet footer caches
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # spin up the Python worker daemons too — otherwise the first
    # mapInPandas query is charged ~2-4s of interpreter fork/import
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).count()
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ):
        load_table(spark, sf_dir, t).count()
    return spark


def calib_sec(spark) -> float:
    """Machine-speed calibration: a fixed CPU-bound JVM job, best-of-3.
    Round-6 measured the SAME tree 1.41× slower on a new container
    (PERF.md §21) — cross-round bench ratios are only meaningful
    divided by this. Input size is constant (not sf-scaled) so the
    number is a pure box-speed probe."""
    calib = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(2_000_000_000).selectExpr(
            "sum(id * 2654435761 % 1000003)"
        ).collect()
        calib = min(calib, time.perf_counter() - t0)
    return calib


def timed_run(spark, fn, sf_dir: str) -> float:
    """Seconds to force ``fn(spark, sf_dir)`` end-to-end with the noop
    sink (full computation, no collect). clearCache() first drops any
    .persist() data of an earlier run: Spark's CacheManager matches by
    plan equality, so a repeat would otherwise read cached
    intermediates."""
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


def time_queries(spark, queries: dict, sf_dir: str, repeats: int):
    """Best-of-``repeats`` seconds per query, each forced end-to-end with
    the noop sink. A query that raises does not stop the run: it lands
    in ``errors`` (name -> exception text and free bytes on
    SPARK_LOCAL_DIRS) instead of ``timings``. One progress line per
    query goes to stderr. Returns (timings, errors)."""
    timings: dict[str, float] = {}
    errors: dict[str, dict] = {}
    for name, fn in sorted(queries.items()):
        try:
            best = min(timed_run(spark, fn, sf_dir) for _ in range(repeats))
            timings[name] = round(best, 4)
        except Exception as e:  # one failing query must not blank the run
            errors[name] = {
                "error": f"{type(e).__name__}: {e}"[:500],
                "free_bytes": _local_dir_free_bytes(),
            }
        took = f"{timings[name]:.3f}s" if name in timings else "ERROR"
        print(
            f"[bench] {name} {took} free_bytes={_local_dir_free_bytes()}",
            file=sys.stderr,
            flush=True,
        )
    return timings, errors


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from striot_spark.queries.registry import all_queries

    spark = open_session(sf_dir, "striot-bench")

    # best-of-N per query: this box is shared and single-shot timings
    # swing up to ~70% under external load; the min is the stable
    # compute-bound number.
    # streaming-drain queries are correctness-gated (q65 == q30's oracle)
    # but their wall time measures checkpoint replay, not engine
    # throughput — keep the bench a batch-compute signal
    skip = {
        "q65_frequent_routes_stream",
        "q78_window_agg_stream",
        "q86_sessionize_stream",
        "q87_joinw_stream",
        "q89_scan_stream",
        "q90_filteracc_stream",
        "q91_sliding_count_stream",
        "q92_scan_stream_global",
        "q93_joinw_stream_non_nesting",
        "q97_filteracc_stream_global",
        "q100_chop_count_stream",
        "q100d_chop_stream_money_double",
        "q93d_joinw_stream_money_double",
        "q101_sliding_stream_ooo_replay",
        "q108_stream_static_enrich",
        "q111_sliding_time_stream",
        "q115_daily_distinct_stream",
        "q116_interval_join_stream",
        "q117_joine_stream",
        "q120_merge_stream",
        "q121_expand_stream",
        "q122_corpus_ingest_stream",
        "q123_zip_join_stream",
        "q125_upsert_snapshot_stream",
        "q130_cms_sketch_stream",
        "q138_incremental_agg_stream",
        "q141_hll_sketch_stream",
        "q150_table_digest_stream",
        "q152_pit_enrich_stream",
        "q164_ohlc_bars_stream",
        "q174_rollup_serve_stream",
        "q179_cdc_apply_stream",
        "q189_freshness_stream",
        "q198_debounce_stream",
        "q206_burst_detection_stream",
        "q220_stream_exact_dedup",
        "q225_stream_near_dup_filter",
        "q229_stream_quantile_bins",
        "q239_lpa_stream_weighted",
        "q240_incremental_extents_stream",
        "q245_khop_hll_stream_serve",
        "q250_pagerank_stream_serve",
        "q267_sssp_stream_serve",
    }
    # best-of-3 (was 2): PERF.md r4 measured 10-23% CV across identical
    # back-to-back runs on this shared box; a third repeat materially
    # tightens the min at ~50% more wall time
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))

    queries = {n: fn for n, fn in all_queries().items() if n not in skip}
    timings, errors = time_queries(spark, queries, sf_dir, repeats)

    total = round(sum(timings.values()), 4)
    payload = {
        "metric": "striot_spark_headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "calib_sec": round(calib_sec(spark), 4),
        "errors": errors,
    }
    # stdout captures keep only a tail (r04 lost q01–q22), so the
    # complete per-query table is persisted in-repo
    out = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT", str(REPO / "bench_full_latest.json")
    )
    try:
        with open(out, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError:
        pass  # the part lines below still carry every timing
    print(
        json.dumps(
            {
                "metric": "striot_spark_bench_errors",
                "sf": sf,
                "n_errors": len(errors),
                "errors": errors,
            }
        )
    )
    # Per-query visibility (VERDICT r16 task 2): the artifact capture
    # stores only the last 2000 chars of stdout (every committed
    # BENCH_r*.json tail is exactly 2000), so the table is emitted as
    # SELF-CONTAINED chunk lines (parseable by any consumer that reads
    # full stdout), then a "top" line with the most expensive queries —
    # sized so that top line + summary line together fit inside the
    # 2000-char window. Regression screening concentrates where the
    # seconds are: the top ~40 rows cover the majority of total time.
    # The contract summary line stays LAST and unchanged.
    items = sorted(timings.items())
    chunk = 40
    parts = [items[i : i + chunk] for i in range(0, len(items), chunk)]
    for i, part in enumerate(parts):
        print(
            json.dumps(
                {
                    "metric": "striot_spark_bench_queries_part",
                    "part": i + 1,
                    "of": len(parts),
                    "sf": sf,
                    "queries": dict(part),
                }
            )
        )
    top = sorted(timings.items(), key=lambda kv: -kv[1])[:40]
    print(
        json.dumps(
            {
                "metric": "striot_spark_bench_top_queries",
                "sf": sf,
                "n_top": len(top),
                "top_sec": round(sum(v for _, v in top), 4),
                "rest_sec": round(total - sum(v for _, v in top), 4),
                "queries": dict(sorted(top)),
            }
        )
    )
    # compact contract summary line LAST — no per-query map, well
    # under the capture window — so the driver always sees one
    # complete parseable record. The full table also lands in
    # bench_full_latest.json above.
    print(
        json.dumps(
            {
                "metric": payload["metric"],
                "value": payload["value"],
                "unit": payload["unit"],
                "sf": payload["sf"],
                "calib_sec": payload["calib_sec"],
                "n_queries": len(timings),
            }
        )
    )


if __name__ == "__main__":
    main()
