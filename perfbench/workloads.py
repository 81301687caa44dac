"""The benchmark's workloads.

Batch workloads run registered queries (``queries.registry``) over
seeded tables: each operation is one query, built, optionally planned,
then executed into the ``noop`` sink. Stream workloads drain a seeded
event replay (one file per micro-batch) through the streaming runtime:
each operation is one ``availableNow`` drain, timed per micro-batch
through a ``StreamingQueryListener``.

In the untimed first pass every operation is also checked: a batch query
against its registry DuckDB oracle, a drain against the same aggregate
or running sum computed by DuckDB over the staged files.
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime

import duckdb

from perfbench import gen, trace

OPS_SHORT = [
    "q01_filter_map",
    "q02_expand_tokens",
    "q03_merge",
    "q04_chop_count_window",
    "q05_choptime_window",
    "q06_sliding_count_window",
    "q07_scan_running_sum",
    "q08_changes_dedup",
    "q09_sample",
    "q10_zip_join",
    "q11_topk_per_window",
    "q12_sessionize",
    "q15_threshold_cross",
    "q16_step_count",
    "q17_pricing_summary",
    "q18_top_orders",
    "q19_regional_revenue",
    "q20_top_customers",
    "q30_frequent_routes",
    "q31_joinw_revenue_per_click",
    "q32_joine_window_theta",
    "q33_sliding_time_window",
    "q34_filteracc_above_running_avg",
    "q35_complete_window",
    "q36_window_expand_roundtrip",
    "q41_merge_timestamp_order",
    "q49_wearable_chain",
    "q50_window_custom_fold",
    "q53_asof_enrich",
    "q66_null_passthrough_chain",
    "q67_joine_positional_untimed",
]

#: scale factor of the batch tables (TPC-H style row counts). The queries
#: are per-job bound at this size: at sf0.01 a query takes about as long.
SF = 0.001

#: q253_sssp_parents is left out: its fixed rounds of shortest-path
#: relaxation from a source set are also the forward phase of q268's
#: pivot-sampled Brandes, and three queries leave room in a run for the
#: three measured passes this workload needs (see ``WORKLOADS``)
GRAPH_ITER = [
    "q268_betweenness_pivots",
    "q236_pagerank_dangling",
    "q277_hits_trade",
]


def _normalize(cols, rows):
    from tests.oracle_harness import normalize

    return normalize(list(cols), [tuple(r) for r in rows])


def _same(spark_cols, spark_rows, duck_cols, duck_rows) -> str | None:
    """None when both results agree as the oracle harness compares them
    (columns by name, rows order-insensitive), else a short reason."""
    if sorted(spark_cols) != sorted(duck_cols):
        return f"columns {sorted(spark_cols)} != oracle {sorted(duck_cols)}"
    if len(spark_rows) != len(duck_rows):
        return f"{len(spark_rows)} rows != oracle {len(duck_rows)}"
    if _normalize(spark_cols, spark_rows)[1] != _normalize(duck_cols, duck_rows)[1]:
        return "row values differ from oracle"
    return None


class BatchWorkload:
    kind = "batch"

    def __init__(self, queries: list[str], tables: tuple[str, ...], min_passes: int):
        self.queries = queries
        self.tables = tables
        self.min_passes = min_passes

    def stage(self, seed: int, data_dir: str) -> dict:
        rows = gen.write_batch_tables(seed, SF, data_dir)
        self.data_dir = data_dir
        return {"rows": rows}

    def load(self, spark) -> None:
        """Open every input table through the program's loader."""
        from striot_spark.sources.batch import load_table

        for t in self.tables:
            load_table(spark, self.data_dir, t)

    def prepare(self, spark, inject_failure: str | None) -> None:
        from striot_spark.queries.registry import all_oracles, all_queries

        fns, oracles = all_queries(), all_oracles()
        self.fns = {q: fns[q] for q in self.queries}
        self.oracles = {q: oracles.get(q) for q in self.queries}
        if inject_failure in self.fns:

            def boom(spark, sf_dir):
                raise RuntimeError("injected failure")

            self.fns[inject_failure] = boom

    def ops(self, rng) -> list[str]:
        return [self.queries[i] for i in rng.permutation(len(self.queries))]

    def run(self, spark, name: str, check: bool, tracer, group: str | None) -> dict:
        """One query: build, [plan], execute. Returns its record; raises on
        failure."""
        sc = spark.sparkContext
        spark.catalog.clearCache()
        with tracer.span("build", op=name, group=group and f"{group}:build") as b:
            if group:
                sc.setJobGroup(b["group"], name)
            df = self.fns[name](spark, self.data_dir)
        rec = {"build_s": b["end"] - b["start"]}
        if group:
            with tracer.span("plan", op=name, group=f"{group}:plan") as p:
                sc.setJobGroup(p["group"], name)
                df._jdf.queryExecution().executedPlan()
            rec["plan_s"] = p["end"] - p["start"]
        with tracer.span("exec", op=name, group=group and f"{group}:exec") as e:
            if group:
                sc.setJobGroup(e["group"], name)
            if check:
                rows = df.collect()
            else:
                df.write.mode("overwrite").format("noop").save()
        rec["exec_s"] = e["end"] - e["start"]
        rec["latency_s"] = sum(rec[k] for k in ("build_s", "plan_s", "exec_s") if k in rec)
        if check and self.oracles[name] is not None:
            with _duck(self.data_dir, self.tables) as con:
                res = con.execute(self.oracles[name])
                cols = [d[0] for d in res.description]
                bad = _same(df.columns, rows, cols, res.fetchall())
            if bad:
                rec["mismatch"] = bad
        return rec


def _duck(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


_STAGED_EVENTS = """
    SELECT *, CAST(round(value * 100.0, 0) AS BIGINT) AS cents,
           CAST(regexp_extract(filename, 'b([0-9]+)[.]parquet', 1) AS INT) AS f
    FROM read_parquet('{stage}/*.parquet', filename = true)
"""


class StreamWorkload:
    kind = "stream"

    def __init__(self, pipeline: str, events_per_batch: int, batches: int, keys: int,
                 min_passes: int):
        self.pipeline = pipeline
        self.min_passes = min_passes
        self.shape = (events_per_batch, batches, keys)

    def stage(self, seed: int, data_dir: str) -> dict:
        per, n_batches, keys = self.shape
        batches = gen.event_batches(seed, per * n_batches, n_batches, keys)
        self.stage_dir = os.path.join(data_dir, "replay")
        gen.stage_event_files(batches, self.stage_dir)
        self.ck_root = os.path.join(data_dir, "ck")
        self.events = per * n_batches
        return {"events": self.events, "batches": n_batches, "keys": keys}

    def load(self, spark) -> None:
        """Open the staged replay as a file-stream source."""
        from striot_spark.streaming.runtime import file_stream

        self.schema = spark.read.parquet(self.stage_dir).schema
        file_stream(spark, self.stage_dir, self.schema, max_files_per_trigger=1)

    def prepare(self, spark, inject_failure: str | None) -> None:
        from striot_spark.streaming.runtime import derive_drain_width

        self.fail = inject_failure == self.pipeline
        self.listener = trace.progress_listener()
        spark.streams.addListener(self.listener)
        self.drain_width = derive_drain_width(spark, self.stage_dir)

    def ops(self, rng) -> list[str]:
        return [self.pipeline]

    def _build(self, spark):
        from pyspark.sql import functions as F

        from striot_spark.functions.analytics import cents
        from striot_spark.streaming import runtime as RT

        sdf = RT.file_stream(spark, self.stage_dir, self.schema, max_files_per_trigger=1)
        if self.pipeline == "scan":
            out = RT.scan_stream(
                sdf.withColumn("cents", cents(F.col("value"))),
                step=lambda acc, row: acc + row["cents"],
                init=0,
                out_field="running_c",
                out_type="bigint",
                key=["user_id"],
                time_col="ts",
                state_type="acc bigint",
            )
            return out, "append"
        out = RT.window_agg_stream(
            sdf.filter(F.col("event_type") != "error").withColumn(
                "cents", cents(F.col("value"))
            ),
            "ts",
            "1 minute",
            {"n": F.count(F.lit(1)), "sum_c": F.sum("cents")},
            key=["user_id"],
            watermark="10 minutes",
        )
        return out, "complete"

    def _result(self, table):
        from pyspark.sql import functions as F

        if self.pipeline == "scan":
            cols = [F.col("user_id"), F.unix_micros("ts").alias("ts_us"), F.col("running_c")]
            sql = f"""SELECT user_id, epoch_us(ts) AS ts_us,
                      sum(cents) OVER (PARTITION BY user_id ORDER BY f, ts
                                       ROWS UNBOUNDED PRECEDING) AS running_c
                      FROM ({_STAGED_EVENTS})"""
        else:
            cols = [F.unix_micros("window_start").alias("w_us"), "user_id", "n", "sum_c"]
            sql = f"""SELECT epoch_us(ts) // 60000000 * 60000000 AS w_us, user_id,
                      count(*) AS n, sum(cents) AS sum_c
                      FROM ({_STAGED_EVENTS}) WHERE event_type <> 'error'
                      GROUP BY ALL"""
        got = table.select(*cols)
        with duckdb.connect() as con:
            res = con.execute(sql.format(stage=self.stage_dir))
            return _same(got.columns, got.collect(),
                         [d[0] for d in res.description], res.fetchall())

    def run(self, spark, name: str, check: bool, tracer, group: str | None) -> dict:
        """One availableNow drain of the whole replay."""
        from striot_spark.streaming.runtime import run_available_now

        qname = f"bench_{self.pipeline}_{uuid.uuid4().hex[:8]}"
        with tracer.span("build", op=name) as b:
            sdf, mode = self._build(spark)
        if self.fail:
            raise RuntimeError("injected failure")
        self.listener.expect(qname)
        with tracer.span("drain", op=name, group=group) as d:
            table = run_available_now(
                sdf, qname, os.path.join(self.ck_root, qname), mode=mode,
                source_path=self.stage_dir,
            )
        progress = self.listener.drained(qname)
        # the stream's own thread runs its jobs under the run id as job group
        d["run_id"] = progress[0]["runId"] if progress else None
        for p in progress:
            start = datetime.fromisoformat(p["timestamp"]).timestamp()
            tracer.add("batch", start, start + p["durationMs"].get("triggerExecution", 0) / 1000,
                       d["id"], batch_id=p["batchId"], rows=p["numInputRows"],
                       duration_ms=p["durationMs"])
        rec = {"build_s": b["end"] - b["start"], "drain_s": d["end"] - d["start"],
               "progress": progress}
        if check:
            bad = self._result(table)
            if bad:
                rec["mismatch"] = bad
        spark.catalog.dropTempView(qname)
        return rec

WORKLOADS = {
    # a query's time varies by some 20% from pass to pass (JIT, GC), so
    # each query's fastest of two passes is taken
    "ops_short": lambda: BatchWorkload(OPS_SHORT, (
        "region", "nation", "customer", "supplier", "orders",
        "lineitem", "events", "documents",
    ), min_passes=2),
    # on a virtual machine bursts of CPU time the hypervisor takes back
    # can stretch a pass by half; of three passes one usually runs clear
    "graph_iter": lambda: BatchWorkload(GRAPH_ITER, ("orders", "lineitem"), min_passes=3),
    # the JVM is still warming over the first drains: each is some 10%
    # faster than the one before
    "stream_window": lambda: StreamWorkload("window", 1000, 10, 300, min_passes=3),
    "stream_scan": lambda: StreamWorkload("scan", 300, 12, 100, min_passes=1),
}
