"""Lowering the op-chain IR onto a Stream: optimize → fuse → ONE
applyInPandas stage.

Without this layer, a chain like ``filter → filterAcc → map → scan``
with opaque Python callables would lower to multiple applyInPandas
stages, each a shuffle + Arrow round-trip. After ``rewrite.optimize``
and ``graph.compile_fused`` it executes as a single per-key pass.
"""

from __future__ import annotations

from typing import Any, Iterable, Sequence

import pandas as pd

from pyspark.sql import DataFrame

from striot_spark.operators.stateful import _ddl, keyed_apply
from striot_spark.plans.graph import Op, compile_fused
from striot_spark.plans.rewrite import optimize


def apply_chain(
    df: DataFrame,
    ops: Iterable[Op],
    value_col: str,
    out_type: str,
    time_col: str | None,
    seq_col: str | None,
    key: Sequence[str] | None = None,
    do_optimize: bool = True,
) -> DataFrame:
    """Run an op chain over ``value_col``, emitting (carry cols, value).

    Output rows carry the triggering event's time/seq/key columns (an
    expand may emit several rows per input; a filter may emit none) —
    the Event-model contract: derived events inherit the source event's
    timestamp (SURVEY.md §2.1 #4).
    """
    chain = tuple(ops)
    if do_optimize:
        chain = optimize(chain)
    inits, kernel = compile_fused(chain)
    key = list(key or [])
    order = [c for c in (time_col, seq_col) if c]
    if not order:
        raise ValueError("apply_chain needs a time or seq column for ordering")
    carry = [c for c in (*key, *order) if c]

    def body(g: pd.DataFrame) -> pd.DataFrame:
        cols = g.columns.tolist()
        vi = cols.index(value_col)
        rows: list[dict[str, Any]] = []
        state = inits
        for tup in g.itertuples(index=False, name=None):
            state, emitted = kernel(state, tup[vi])
            if emitted:
                rec = dict(zip(cols, tup))
                for out in emitted:
                    row = {c: rec[c] for c in carry}
                    row[value_col] = out
                    rows.append(row)
        return pd.DataFrame(rows, columns=[*carry, value_col])

    return keyed_apply(
        df, key, order, body,
        lambda s: _ddl((s[c] for c in carry), f"`{value_col}` {out_type}"),
    )
