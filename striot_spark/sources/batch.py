"""Batch sources: the finite-replay side of the engine.

Reference parity: StrIoT's ``Source`` vertex wraps an ``IO a`` action and
stamps each payload with wall-clock time (``src/Striot/Nodes.hs:309-319``).
In batch mode we replay recorded tables instead; the event-time column is
carried in the data (``FIXTURES.md`` F1), which is strictly stronger than
the reference's ingest-time stamping.

Scale notes: everything goes through ``spark.read.parquet`` so predicate
pushdown / column pruning / partition pruning apply. Never collect here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The driver's parquet stores TIMESTAMP(NANOS), which Spark's vectorized
# reader rejects; we read nanos as long and rebuild microsecond
# timestamps (DuckDB does the same truncation when it surfaces these
# columns as TIMESTAMP). Known nano-timestamp columns per table:
_NANO_TS_COLS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


_SHIPPED_SESSIONS: set[str] = set()


def _ensure_package_shipped(spark: SparkSession) -> None:
    """Ship striot_spark to executor Python workers via addPyFile.

    Arrow-batched operators (applyInPandas/mapInPandas) pickle callables
    that reference this package by module name; workers spawned by a
    caller-provided session (the grading driver, a real cluster) do not
    inherit the driver's sys.path, so the package must travel with the
    job. Local no-op cost: one zip + addPyFile per session.
    """
    import tempfile
    import zipfile
    from pathlib import Path

    try:
        key = spark.sparkContext.applicationId
    except Exception:
        return
    if key in _SHIPPED_SESSIONS:
        return
    pkg_dir = Path(__file__).resolve().parent.parent  # .../striot_spark
    zpath = os.path.join(
        tempfile.gettempdir(), f"striot_spark_pkg_{os.getpid()}.zip"
    )
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as z:
            for p in sorted(pkg_dir.rglob("*.py")):
                z.write(p, p.relative_to(pkg_dir.parent))
        # self-clean at exit like every other striot temp artifact;
        # Spark copied the zip into its own file server at addPyFile
        # time, but the original must outlive possible session
        # restarts within this process
        from striot_spark.tempdirs import register_tempfile

        register_tempfile(zpath)
    try:
        spark.sparkContext.addPyFile(zpath)
    except Exception:
        pass  # e.g. duplicate add after session restart — harmless
    _SHIPPED_SESSIONS.add(key)


def _set_session_confs(spark: SparkSession) -> None:
    """Pin the session confs every table read depends on.

    NOTE: these are intentionally session-wide and stay set after the
    call — all subsequent parquet reads in the caller's session (not
    just this library's) see nanos-as-long, UTC session time, and
    LTZ (not NTZ) inference for naive parquet timestamps. That is the
    point: the engine's DataFrames and any caller-issued spark.sql over
    the same views must read timestamps identically.

    Each conf is set in its own try/except so one failing set (e.g. an
    older Spark without a given key) cannot silently drop the others.
    """
    confs = [
        # the driver's parquet stores TIMESTAMP(NANOS), which the
        # vectorized reader rejects; read nanos as long (rebuilt below)
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        # timestamp formatting/window arithmetic must not depend on the
        # caller session's JVM-default timezone (the driver uses a plain
        # SparkSession; DuckDB oracle timestamps are TZ-naive ≅ UTC)
        ("spark.sql.session.timeZone", "UTC"),
        # Naive parquet timestamps (isAdjustedToUTC=false) must surface as
        # session-UTC TIMESTAMP, not TIMESTAMP_NTZ: NTZ refuses epoch
        # casts/window ids, and DuckDB treats the same bytes as wall-clock
        # — with the session pinned to UTC the two readings are identical.
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
    ]
    for key, value in confs:
        try:  # runtime-settable; set here so caller-provided sessions work
            spark.conf.set(key, value)
        except Exception as exc:
            import logging

            logging.getLogger(__name__).debug(
                "conf.set(%s) failed: %s", key, exc
            )


#: (abspath(sf_dir), table) -> inferred StructType. METADATA ONLY —
#: never rows, never plans: every load still builds a fresh scan and
#: every action still reads the parquet files. Re-inferring the schema
#: costs a driver-side listing + footer-read round trip per call
#: (~0.1s measured end-to-end, r17 fixed-cost decomposition) and the
#: testdata tables are immutable within a process, so infer once per
#: (dir, table) and pass the schema to the reader thereafter — what
#: any long-lived Spark app does by defining its tables once.
#: Failure mode if a table IS rewritten in-process with a different
#: schema: the reader trusts the memoized schema, so a column the new
#: files no longer carry (renamed or dropped) reads back as silent
#: NULLs, not an error.
_SCHEMA_MEMO: dict[tuple[str, str], "object"] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table.

    Session-wide side effect (intentional, documented): pins the
    timestamp-reading confs via ``_set_session_confs`` — see its
    docstring.
    """
    _ensure_package_shipped(spark)
    _set_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (os.path.abspath(sf_dir), name)
    schema = _SCHEMA_MEMO.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_MEMO[key] = schema
    df = spark.read.schema(schema).parquet(path)
    for col in _NANO_TS_COLS.get(name, ()):
        field = df.schema[col]
        if field.dataType.simpleString() == "bigint":
            # integer nanos → micros with `div` (exact: values exceed
            # double's 2^53 mantissa, so no float division)
            df = df.withColumn(
                col, F.timestamp_micros(F.expr(f"`{col}` div 1000"))
            )
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, register_views: bool = False
) -> dict[str, DataFrame]:
    dfs = {name: load_table(spark, sf_dir, name) for name in TABLES}
    if register_views:
        for name, df in dfs.items():
            df.createOrReplaceTempView(name)
    return dfs


def event_stream(spark: SparkSession, sf_dir: str):
    """The canonical Event stream (SURVEY.md §1.1 → §1.4 mapping).

    ``events`` carries ``ts`` (event time) and a dense, monotonically
    increasing ``event_id`` which serves as the positional ``seq`` of the
    reference's lazy list (``Stream alpha = [Event alpha]``,
    ``src/Striot/FunctionalIoTtypes.hs:30``). Density of event_id lets
    count-based windows be computed by pure arithmetic — no global sort,
    no single-partition row_number at scale.
    """
    from striot_spark.core import Stream

    df = load_table(spark, sf_dir, "events")
    return Stream(df, time_col="ts", seq_col="event_id", dense_seq=True)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view so the engine's
    second front door — ``spark.sql`` — works against the same data the
    DataFrame API uses (identical nanos-timestamp handling via
    ``load_table``); delegates to ``load_tables(register_views=True)``
    so the two front doors can never drift."""
    load_tables(spark, sf_dir, register_views=True)
