"""The small-graph gate width is derived from the edge count (r16
optimization): ~GATE_TARGET_ROWS edge rows per task, floored at 8,
capped at defaultParallelism; None above the edge-row threshold.
Pinning the arithmetic keeps the width a DATA property — a regression
back to a machine-constant width fails here.

The threshold conf is also the one way to send a small graph down the
ungated path (the one the 100 TB plan takes): the parity test below
runs every iterative operator on both sides of the gate."""

from __future__ import annotations

import pytest

from striot_spark.functions import graph
from striot_spark.functions.graph import (
    GATE_TARGET_ROWS,
    SMALL_GRAPH_CONF,
    _gate_width,
)


@pytest.fixture()
def clean_conf(spark):
    try:
        spark.conf.unset(SMALL_GRAPH_CONF)
    except Exception:
        pass
    yield spark
    try:
        spark.conf.unset(SMALL_GRAPH_CONF)
    except Exception:
        pass


def test_big_graph_returns_none(clean_conf):
    spark = clean_conf
    assert _gate_width(spark, 5_000_001) is None
    assert _gate_width(spark, 10**12) is None


def test_small_graph_floor_is_8(clean_conf):
    spark = clean_conf
    # tiny graphs never drop below 8 tasks (keep multicore engaged),
    # and the machine cap still applies on top of the floor
    dp = spark.sparkContext.defaultParallelism
    assert _gate_width(spark, 0) == min(dp, 8)
    assert _gate_width(spark, 1) == min(dp, 8)
    assert _gate_width(spark, 8 * GATE_TARGET_ROWS) == min(dp, 8)


def test_width_scales_with_edge_rows(clean_conf):
    spark = clean_conf
    dp = spark.sparkContext.defaultParallelism
    rows = 23 * GATE_TARGET_ROWS
    assert _gate_width(spark, rows) == min(dp, 23)
    # at the threshold boundary the width is capped by the machine
    assert _gate_width(spark, 5_000_000) == min(dp, -(-5_000_000 // GATE_TARGET_ROWS))


def test_threshold_conf_respected(clean_conf):
    spark = clean_conf
    dp = spark.sparkContext.defaultParallelism
    spark.conf.set(SMALL_GRAPH_CONF, "50")
    assert _gate_width(spark, 51) is None
    assert _gate_width(spark, 50) == min(dp, 8)


# two triangles joined through node 4, plus a 6-7-8-9 tail: k_core
# peels the tail one node per round, and every BFS loop still has a
# frontier after 4 rounds
_UND = [
    (1, 2), (2, 3), (1, 3), (3, 4), (4, 5),
    (5, 6), (4, 6), (6, 7), (7, 8), (8, 9),
]

# rounds deep enough that each operator's lineage cut fires on both
# sides of the gate (pagerank cuts at 8, 4 under redistribute)
_RUNS = {
    "pagerank": lambda e: graph.pagerank(e, iterations=9),
    "pagerank_redistribute": lambda e: graph.pagerank(
        e, iterations=9, dangling="redistribute"
    ),
    "label_propagation": lambda e: graph.label_propagation(e, rounds=8),
    "k_core": lambda e: graph.k_core(
        e, k=2, rounds=4, src="src", dst="dst"
    ),
    "khop_reach_hll": lambda e: graph.khop_reach_hll(e, hops=3),
    "sssp": lambda e: graph.sssp(e, [1], rounds=4, cost="c"),
    "sssp_parents": lambda e: graph.sssp(
        e, [1], rounds=4, cost="c", return_parents=True
    ),
    "harmonic_centrality_pivots": lambda e: (
        graph.harmonic_centrality_pivots(e, [1, 9], rounds=4, cost="c")
    ),
    "coreness": lambda e: graph.coreness(e, rounds=4),
    "betweenness_pivots": lambda e: graph.betweenness_pivots(
        e, [1, 9], rounds=3
    ),
    "hits": lambda e: graph.hits(e, iterations=2),
    "katz_centrality": lambda e: graph.katz_centrality(e, rounds=4),
}


@pytest.mark.parametrize("op", sorted(_RUNS))
def test_ungated_run_matches_gated(clean_conf, op):
    """The gated path (size-pinned width, gated cut cadence) and the
    ungated one (session width, the wide cadence) differ only in
    layout and lineage, never in rows."""
    spark = clean_conf
    sym = _UND + [(b, a) for a, b in _UND]
    edges = spark.createDataFrame(
        [(a, b, (a * b) % 5 + 1) for a, b in sym],
        "src long, dst long, c long",
    )
    gated = sorted(tuple(r) for r in _RUNS[op](edges).collect())
    spark.conf.set(SMALL_GRAPH_CONF, "0")
    try:
        assert _gate_width(spark, len(sym)) is None
        ungated = sorted(tuple(r) for r in _RUNS[op](edges).collect())
    finally:
        spark.conf.unset(SMALL_GRAPH_CONF)
    assert gated
    assert ungated == gated
