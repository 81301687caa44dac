"""Stateful operators: streamScan and streamFilterAcc.

Reference parity:
- ``streamScan :: (b -> a -> b) -> b -> Stream a -> Stream b`` — emit the
  running accumulator after every event (``src/Striot/
  FunctionalProcessing.hs:188-191``).
- ``streamFilterAcc :: (b -> a -> b) -> b -> (a -> b -> Bool) -> Stream a
  -> Stream a`` — the predicate sees the accumulator *before* this
  event's update; the accumulator is updated on every event whether kept
  or not (``FunctionalProcessing.hs:181-185``).

These are the operators Spark genuinely lacks an algebra for
(SURVEY.md §4.1 "Catalyst verdict"), so two lowerings exist:

1. **Algebraic path (preferred, scalable)** — when the accumulator is an
   algebraic aggregate (sum/count/min/max/...), the scan is a cumulative
   analytic frame and the filter-acc predicate usually reduces to
   ``lag()``. Pure Catalyst plans, whole-stage codegen, parallel per key.
2. **General path** — arbitrary Python ``step``/``pred`` callables: one
   per-key fold per semantics (``scan_fold``, ``filter_fold``; the
   stream lowerings in ``streaming/runtime.py`` call the same folds),
   run on ordered key groups by ``keyed_apply``. Order-dependent state
   over the *whole* stream means a single key — a deliberate throughput
   ceiling identical to the reference's single lazy list (SURVEY.md
   §7.3 hard-point 1); shard by key wherever semantics allow.
"""

from __future__ import annotations

from functools import partial
from typing import Any, Callable, Iterable

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

GLOBAL_KEY = "__global__"
BUCKET = "__bucket__"


def _is_null_cell(val: Any) -> bool:
    """NULL test that works for ANY payload type: ``pd.isna`` on an
    array/struct cell returns an elementwise array (whose truth value
    raises), so test identity/scalars explicitly — the dataless-event
    rule must apply to vector payloads too."""
    if val is None:
        return True
    if isinstance(val, (list, tuple, dict)):
        return False
    try:
        return bool(pd.isna(val))
    except (TypeError, ValueError):
        return False


def _order_cols(time_col: str | None, seq_col: str | None) -> list[str]:
    cols = [c for c in (time_col, seq_col) if c]
    if not cols:
        raise ValueError("stateful operators need a time or seq column for ordering")
    return cols


def keyed_apply(
    df: DataFrame, key: list[str], order: list[str], body: Callable, schema=lambda s: s
) -> DataFrame:
    """The batch driver: concatenate ``body`` over the key groups, each
    sorted by ``order``. Arrow + pandas setup per group (~ms) would
    dominate with many small keys, so the shuffle is on a BUCKET of the
    key (defaultParallelism buckets) and one pandas call runs a bucket's
    groups. ``schema`` maps the bucketed input schema to the output's; a
    BUCKET column left in the output is dropped."""
    n = df.sparkSession.sparkContext.defaultParallelism
    work = df.withColumn(
        BUCKET, F.pmod(F.hash(*key), F.lit(n)) if key else F.lit(0)
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        groups = (g for _, g in pdf.groupby(key, sort=False)) if key else [pdf]
        # applyInPandas never calls with an empty group: one frame at least
        return pd.concat(
            [body(g.sort_values(order, kind="mergesort")) for g in groups]
        )

    res = work.groupBy(BUCKET).applyInPandas(fn, schema=schema(work.schema))
    return res.drop(BUCKET) if BUCKET in res.columns else res


def _ddl(fields, *extra: str) -> str:
    """DDL of ``fields`` (never .add() onto a df.schema — it's a cached,
    shared object) followed by the ``extra`` DDL columns."""
    cols = [f"`{f.name}` {f.dataType.simpleString()}" for f in fields]
    return ", ".join([*cols, *extra])


def scan_fold(step: Callable, acc: Any, rows: Iterable[dict]) -> tuple[list, Any]:
    """streamScan over one key's ordered rows, for both engines: emit
    the accumulator after each update. Returns (outputs, accumulator)."""
    out = []
    for row in rows:
        acc = step(acc, row)
        out.append(acc)
    return out, acc


def filter_fold(
    step: Callable, pred: Callable, acc: Any, rows: Iterable[dict], kept_only: bool
) -> tuple[list[bool], Any]:
    """Stateful filter over one key's ordered rows, for both engines:
    ``pred(row, acc)`` sees the accumulator BEFORE this row's update,
    which advances on every row (streamFilterAcc) or on kept rows only
    (debounce); each operator fixes ``kept_only``. Returns (keep flags,
    accumulator)."""
    keep = []
    for row in rows:
        k = bool(pred(row, acc))
        keep.append(k)
        if k or not kept_only:
            acc = step(acc, row)
    return keep, acc


def _fold_rows(fold, g: pd.DataFrame, nulls: str | None, fill) -> list:
    """The outputs of ``fold(rows)`` over a key group's rows as dicts
    (the ``row`` the callables see). ``nulls`` names the payload column
    of the dataless-event rule (``FunctionalProcessing.hs:185,191``):
    its NULL rows get ``fill`` and never reach the accumulator."""
    cols = g.columns.tolist()
    rows = [dict(zip(cols, t)) for t in g.itertuples(index=False, name=None)]
    if nulls is None:
        return fold(rows)[0]
    live = [not _is_null_cell(r[nulls]) for r in rows]
    out = iter(fold([r for r, ok in zip(rows, live) if ok])[0])
    return [next(out) if ok else fill for ok in live]


def cumulative_spec(
    time_col: str | None, seq_col: str | None, key: list[str] | None = None
):
    """WindowSpec for the algebraic scan: unbounded-preceding..current."""
    key = key or []
    return (
        W.partitionBy(*key)
        .orderBy(*[F.col(c) for c in _order_cols(time_col, seq_col)])
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )


def scan_agg(
    df: DataFrame,
    aggs: dict[str, Column],
    time_col: str | None,
    seq_col: str | None,
    key: list[str] | None = None,
    null_passthrough: str | None = None,
) -> DataFrame:
    """Algebraic streamScan: each agg column is applied over the
    cumulative frame, one output row per input row (scanl semantics).

    ``null_passthrough`` names the payload column for the reference's
    dataless-event rule (``FunctionalProcessing.hs:191``): rows whose
    payload is NULL emit NULL (not the running value) and never update
    the accumulator — SQL aggregates already skip NULL inputs, so only
    the output needs masking.
    """
    spec = cumulative_spec(time_col, seq_col, key)
    out = df
    for name, col in aggs.items():
        expr = col.over(spec)
        if null_passthrough:
            expr = F.when(F.col(null_passthrough).isNotNull(), expr)
        out = out.withColumn(name, expr)
    return out


def lag_filter(
    df: DataFrame,
    pred: Callable[[Column, Column], Column],
    value_col: str,
    time_col: str | None,
    seq_col: str | None,
    key: list[str] | None = None,
    keep_first: bool = True,
    prev_alias: str | None = None,
    null_passthrough: bool = False,
) -> DataFrame:
    """The dominant streamFilterAcc shape: predicate over (previous, current).

    Covers dedup-on-change (``docs/Operators.md:109-119``), threshold
    crossing (``examples/wearable/WearableExample.hs:83-84``), etc.
    ``pred(prev, cur)`` returns a boolean Column; rows with no previous
    event are kept iff ``keep_first``.

    ``null_passthrough`` applies the reference's dataless-event rule
    (``FunctionalProcessing.hs:185``): NULL-payload rows always pass and
    don't advance the accumulator — "previous" becomes the last
    *non-null* value before the row (``last(ignorenulls)`` over the
    preceding frame instead of ``lag``).
    """
    key = key or []
    w = W.partitionBy(*key).orderBy(
        *[F.col(c) for c in _order_cols(time_col, seq_col)]
    )
    prev_col = prev_alias or "__prev__"
    if null_passthrough:
        prev_expr = F.last(F.col(value_col), ignorenulls=True).over(
            w.rowsBetween(W.unboundedPreceding, -1)
        )
    else:
        prev_expr = F.lag(F.col(value_col)).over(w)
    out = df.withColumn(prev_col, prev_expr)
    prev = F.col(prev_col)
    cond = pred(prev, F.col(value_col))
    cond = (prev.isNull() & F.lit(keep_first)) | (prev.isNotNull() & cond)
    if null_passthrough:
        cond = F.col(value_col).isNull() | cond
    out = out.filter(cond)
    return out if prev_alias else out.drop(prev_col)


def scan_apply(
    df: DataFrame,
    step: Callable[[Any, dict], Any],
    init: Any,
    out_field: str,
    out_type: str,
    time_col: str | None,
    seq_col: str | None,
    key: list[str] | None = None,
    null_passthrough: str | None = None,
) -> DataFrame:
    """General streamScan via applyInPandas (Arrow batches, per-key state).

    ``step(state, row_dict) -> new_state``; the new state is emitted per
    row into ``out_field`` (cast to ``out_type``). With no key the whole
    stream is one state group — correct but sequential, like the
    reference's single lazy list. ``null_passthrough`` names the payload
    column: NULL-payload rows emit NULL and skip the step
    (``FunctionalProcessing.hs:191``).
    """

    def body(g: pd.DataFrame) -> pd.DataFrame:
        fold = partial(scan_fold, step, init)
        return g.assign(**{out_field: _fold_rows(fold, g, null_passthrough, None)})

    return keyed_apply(
        df, key or [], _order_cols(time_col, seq_col), body,
        lambda s: _ddl(s.fields, f"`{out_field}` {out_type}"),
    )


def _filter_apply(df, step, init, pred, time_col, seq_col, key, nulls, kept_only):
    def body(g: pd.DataFrame) -> pd.DataFrame:
        fold = partial(filter_fold, step, pred, init, kept_only=kept_only)
        return g[_fold_rows(fold, g, nulls, True)]

    return keyed_apply(df, key or [], _order_cols(time_col, seq_col), body)


def filter_acc_apply(
    df: DataFrame,
    step: Callable[[Any, dict], Any],
    init: Any,
    pred: Callable[[dict, Any], bool],
    time_col: str | None,
    seq_col: str | None,
    key: list[str] | None = None,
    null_passthrough: str | None = None,
) -> DataFrame:
    """General streamFilterAcc via applyInPandas.

    Exact reference semantics (``FunctionalProcessing.hs:181-185``):
    ``pred(row, state)`` is evaluated against the accumulator *before*
    this row's update; the accumulator is then updated regardless.
    ``null_passthrough`` names the payload column: NULL-payload rows
    always pass and never touch the accumulator (``:185``).
    """
    return _filter_apply(
        df, step, init, pred, time_col, seq_col, key, null_passthrough,
        kept_only=False,
    )


def filter_keep_acc(
    df: DataFrame,
    step: Callable[[Any, dict], Any],
    init: Any,
    pred: Callable[[dict, Any], bool],
    time_col: str | None,
    seq_col: str | None,
    key: list[str] | None = None,
) -> DataFrame:
    """Keep-dependent stateful filter: ``pred(row, state)`` decides
    keep, and the state advances ONLY when the row is kept
    (``state = step(state, row)``) — the semantics behind debounce /
    rate-limit / min-spacing selection, which ``filter_acc_apply``
    (reference streamFilterAcc, accumulator updates on every row)
    cannot express: whether row i survives depends on which earlier
    rows SURVIVED, a truly sequential recurrence. Keys shard across
    partitions; keyless input is one sequential group.
    """
    return _filter_apply(
        df, step, init, pred, time_col, seq_col, key, None, kept_only=True
    )


def debounce(
    df: DataFrame,
    key: list[str],
    time_col: str,
    seq_col: str,
    gap_us: int,
) -> DataFrame:
    """Per-key debounce: keep an event iff at least ``gap_us``
    microseconds passed since the last KEPT event of that key (the
    first event per key always survives) — ingestion rate-limiting /
    duplicate-burst suppression. A direct ``filter_keep_acc``
    application: state = timestamp of the last kept row.
    """

    def pred(row: dict, state) -> bool:
        if state is None:
            return True
        # exact integer microseconds via the ns counters — a float
        # total_seconds() product could round at extreme spans
        return (row[time_col].value - state.value) // 1000 >= gap_us

    def step(state, row: dict):
        return row[time_col]

    return filter_keep_acc(
        df, step, None, pred, time_col, seq_col, key=key
    )
