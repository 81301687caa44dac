"""Bucketed table layout: pay a join's shuffle ONCE at write time.

At 100 TB the dominant cost of a fact-fact equi-join is shuffling both
sides on the key. Bucketing amortizes that shuffle across every future
join/aggregation on the same key: `bucketBy(n, key)` hash-partitions
rows into n stable buckets AT WRITE TIME, records the spec in the
catalog, and Spark's `FileSourceScanExec` then exposes the bucket
hash-partitioning as the scan's output partitioning — so a sort-merge
join of two tables bucketed on the join key with the same bucket count
plans with ZERO `Exchange` nodes (gated in
tests/test_plan_quality.py). Aggregations keyed by the bucket column
skip their exchange the same way.

This is the Spark-native analogue of the reference's static partition
placement (`SURVEY.md §4`: the StrIoT partitioner fixes operator
placement ahead of time so runtime does no re-routing): the layout
decision is made once, declaratively, and every downstream plan
inherits it.

Operational notes encoded here:
- one file per bucket (`repartition(n, key)` before the write):
  many-files-per-bucket still avoids the exchange but forces a
  per-task merge sort of file splits; one sorted file per bucket lets
  the scan satisfy the join's sort requirement from `sortBy` order.
- tables live in an explicit `LOCATION` database, so the session's
  warehouse default (cwd-relative in a plain session) never matters.
- bucket counts must match across join sides; choose n so a bucket of
  the BIGGER table fits one task (~n = table_bytes / 256 MB at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from striot_spark.tempdirs import striot_mkdtemp

_DB = "striot_buckets"
_LOCATION: str | None = None


def _ensure_db(spark: SparkSession) -> str:
    """Create the bucket database at an explicit temp LOCATION once per
    process (a plain session's default warehouse is cwd-relative and
    may not be writable where the driver runs)."""
    global _LOCATION
    if _LOCATION is None:
        _LOCATION = striot_mkdtemp(prefix="striot_bucket_db_")
    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS {_DB} LOCATION '{_LOCATION}'"
    )
    return _DB


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int,
    sort: bool = True,
) -> str:
    """Write ``df`` as a catalog-registered parquet table bucketed (and
    by default sorted) on ``bucket_col``; returns the qualified table
    name. Thin wrapper over `sources/bucketed.py:write_bucketed` (the
    layout/one-file-per-bucket mechanics live there) that supplies the
    explicit temp-LOCATION database, so callers — q132, the plan gates
    — need no writable warehouse or path of their own."""
    import os

    from striot_spark.sources.bucketed import write_bucketed as _wb

    spark = df.sparkSession
    db = _ensure_db(spark)
    name = f"{db}.{table}"
    _wb(
        df,
        name,
        os.path.join(_LOCATION, table),
        [bucket_col],
        num_buckets,
        sort_cols=[bucket_col] if sort else None,
    )
    return name


def bucketed_equijoin(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on,
    how: str = "inner",
) -> DataFrame:
    """Equi-join two bucketed catalog tables. With matching bucket
    specs the planned join carries no Exchange on either side — the
    write-time layout IS the shuffle."""
    return spark.table(left_table).join(spark.table(right_table), on, how)


def zorder_key(cols: list, bits: int = 16, assert_range: bool = False):
    """Morton (Z-order) key: interleave the low ``bits`` bits of k
    non-negative integer columns into one long, so sorting/range-
    chunking by the key clusters rows that are close in EVERY
    dimension at once — the multi-dimensional data-layout trick behind
    Delta/Iceberg OPTIMIZE ZORDER. Files cut from contiguous key
    ranges cover small rectangles of the dimension space, making
    min/max zone maps (``zone_map``) selective for filters on ANY
    keyed dimension, where a plain sort is selective for only the
    leading one.

    **Precondition: every input must be in [0, 2^bits).** Values >=
    2^bits alias (high bits dropped), and NEGATIVE values are worse:
    arithmetic-shift sign extension makes every sampled bit 1 beyond
    the value's magnitude, so negative coordinates collide across
    dimensions and the zone-map locality property silently degrades
    (the key is still deterministic — an oracle recomputing the same
    expression matches — but files stop covering small rectangles).
    Bias into range at the call site (e.g. datediff from an origin at
    or before the dataset minimum, as q137 does). k*bits must stay
    < 63 for a long key. Pass ``assert_range=True`` to add a per-row
    range check (raises via CASE/raise_error — debug/test mode; leave
    off in production scans where the bias is proven). Pure unrolled
    bitwise expression — whole-stage codegen, zero shuffle,
    oracle-reproducible on any engine with integer shifts.
    """
    import functools

    k = len(cols)
    if k * bits >= 63:
        raise ValueError("k*bits must stay below 63 for a long key")
    terms = []
    for j, c in enumerate(cols):
        x = F.col(c) if isinstance(c, str) else c
        x = x.cast("long")
        if assert_range:
            x = F.when(
                (x < 0) | (x >= F.lit(1 << bits)),
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"zorder_key: dimension {j} out of "
                            f"[0, 2^{bits}): "
                        ),
                        x.cast("string"),
                    )
                ).cast("long"),
            ).otherwise(x)
        for i in range(bits):
            terms.append(
                F.shiftleft(
                    F.shiftright(x, i).bitwiseAND(F.lit(1)), i * k + j
                )
            )
    return functools.reduce(lambda a, b: a.bitwiseOR(b), terms)


def zorder_key_sql(exprs: list[str], bits: int = 16) -> str:
    """The identical Morton key as a SQL string (oracle twin of
    ``zorder_key``). Same precondition: inputs in [0, 2^bits) —
    negative values sign-extend identically in both engines (parity
    holds) but destroy the layout's locality."""
    k = len(exprs)
    # every term FULLY parenthesized: DuckDB (like Postgres) gives <<
    # and | the same precedence, left-associative, so a bare
    # `a << 1 | b << 3` parses as `((a << 1) | b) << 3`
    terms = [
        f"(((({e}) >> {i}) & 1) << {i * k + j})"
        for j, e in enumerate(exprs)
        for i in range(bits)
    ]
    return "(" + " | ".join(terms) + ")"


def zone_map(df: DataFrame, file_col, dims: list[str]) -> DataFrame:
    """Per-file min/max statistics over ``dims`` — the zone-map index a
    scan consults to skip files. One groupBy over the layout column;
    output is #files rows (bounded, driver-safe to inspect)."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for d in dims:
        aggs += [F.min(d).alias(f"min_{d}"), F.max(d).alias(f"max_{d}")]
    return df.groupBy(file_col).agg(*aggs)


def compact_files(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> DataFrame:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(size / target_bytes)`` files of comfortable scan size — the
    maintenance pass every streaming/incremental sink needs, because
    per-batch writers (upsert/incremental sinks, dead-letter drains,
    micro-batch appends) accrete files far smaller than a scan task
    wants, and at 100 TB file-listing + task-granularity overhead from
    millions of tiny files dominates the scan itself.

    The rewrite is a ``coalesce`` (narrow dependency — each output
    task concatenates whole input files, NO shuffle and no
    re-sorting), so compaction cost is one sequential read+write of
    the data. ``coalesce`` can only merge the read's splits, and the
    reader already packs small files into few splits (as few as the
    core count), so a budget asking for MORE files than the read has
    splits falls back to ``repartition(n)`` — one shuffle to ``n``
    files. Size comes from the Hadoop FS listing of the actual
    directory (not Catalyst estimates — compaction cares about bytes
    on disk). Returns the compacted DataFrame re-read from
    ``out_dir``.
    """
    import math

    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(src_dir)
    fs = p.getFileSystem(conf)
    size = fs.getContentSummary(p).getLength()
    n = max(1, math.ceil(size / target_bytes))
    df = spark.read.parquet(src_dir)
    if n <= df.rdd.getNumPartitions():
        df = df.coalesce(n)
    else:
        df = df.repartition(n)
    df.write.mode("overwrite").parquet(out_dir)
    return spark.read.parquet(out_dir)


# Carter-Wegman affine family for the bloom positions — same
# construction as the minhash family (functions/dedup.py), kept
# md5-based so any engine reproduces the identical bitmaps.
BLOOM_AFFINE = [(2, 1), (3, 7), (5, 13)]
_BLOOM_P = 2_147_483_647


def _bloom_positions(key, num_bits: int, num_hashes: int):
    """The k bit positions of ``key`` (a string Column): affine maps of
    the md5-derived 60-bit hash, mod the filter width."""
    from striot_spark.functions.text import md5_hash64

    h = md5_hash64(key) % _BLOOM_P
    return [
        ((F.lit(a) * h + F.lit(b)) % _BLOOM_P) % F.lit(num_bits)
        for a, b in BLOOM_AFFINE[:num_hashes]
    ]


def bloom_file_index(
    df: DataFrame,
    file_col: str,
    key_col: str,
    num_bits: int = 1024,
    num_hashes: int = 3,
) -> DataFrame:
    """Per-file Bloom filter index over a point-lookup column — the
    data-skipping tier min/max zone maps cannot provide: a
    high-cardinality key (customer id, doc id, url hash) scattered
    across time-ordered files makes every file's [min, max] span the
    whole domain, so ``zone_map`` prunes nothing, while a per-file
    Bloom filter answers "might this file contain key k?" with no
    false negatives and a tunable false-positive rate
    (~(1-e^(-kn/m))^k). This is the same skipping structure Parquet
    bloom filters / Iceberg puffin files maintain, here as an explicit
    queryable table.

    Output: (file_id, widx, word) — ``num_bits`` bits per file packed
    as 32-bit words in BIGINT (32-bit words so no value ever nears the
    sign bit; both engines shift within [0, 2^32)). One exploded
    scan + one keyed groupBy whose shuffle carries at most
    #files x num_bits/32 partial words (map-side bit_or combine);
    the index is #files x words rows regardless of row count.
    """
    pos = _bloom_positions(
        F.col(key_col).cast("string"), num_bits, num_hashes
    )
    exploded = df.select(
        F.col(file_col).alias("file_id"), F.explode(F.array(*pos)).alias("p")
    )
    # variable shift distance: F.shiftleft takes only a literal int,
    # so the per-row bit goes through the SQL expression form
    return (
        exploded.groupBy(
            "file_id", F.shiftright(F.col("p"), 5).alias("widx")
        )
        .agg(
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))")
            ).alias("word")
        )
    )


def bloom_file_lookup(
    index: DataFrame,
    probe_keys: list,
    num_bits: int = 1024,
    num_hashes: int = 3,
) -> DataFrame:
    """Files that MIGHT contain each probe key, per the
    ``bloom_file_index`` bitmaps: (probe_key, file_id) where all k
    probe bits are set. No false negatives (a file actually holding
    the key always appears); false positives are the read amplification
    the filter width buys down.

    The probe side is k rows per key — broadcast against the index,
    joined on the word index, then a per-(key, file) count of set
    bits. At scale the index is #files x words rows; the lookup never
    touches the data files themselves — that is the point: the probe
    plan reads only the index, then the consumer scans just the
    surviving files.
    """
    spark = index.sparkSession
    # keep the probes' python type and let Spark infer the column —
    # hashing goes through the same cast-to-string as the index side,
    # so an int probe 7 matches an index built over longs ("7") and a
    # string probe "007" matches a string-keyed index ("007"); an
    # int() coercion here would break the no-false-negatives contract
    # for string keys (int("007") -> 7 hashes differently)
    probes = spark.createDataFrame(
        [(k,) for k in probe_keys], ["probe_key"]
    )
    pos = _bloom_positions(
        F.col("probe_key").cast("string"), num_bits, num_hashes
    )
    ppos = probes.select(
        "probe_key", F.explode(F.array(*pos)).alias("p")
    ).select(
        "probe_key",
        F.shiftright(F.col("p"), 5).alias("widx"),
        F.pmod(F.col("p"), F.lit(32)).alias("bit"),
    )
    # variable shift distance: F.shiftright takes only a literal int,
    # so the per-row bit test goes through the SQL expression form
    tested = index.join(F.broadcast(ppos), "widx").select(
        "probe_key",
        "file_id",
        F.expr("shiftright(word, CAST(bit AS INT)) & 1").alias("hit"),
    )
    return (
        tested.groupBy("probe_key", "file_id")
        .agg(F.sum("hit").alias("__nbits"))
        .filter(F.col("__nbits") == num_hashes)
        .drop("__nbits")
    )
