"""The Stream abstraction: StrIoT's ``Stream alpha`` over a DataFrame.

Reference parity: ``Stream alpha = [Event alpha]`` with
``Event {time :: Maybe Timestamp, value :: Maybe alpha}``
(``src/Striot/FunctionalIoTtypes.hs:23-30``). The Spark mapping
(SURVEY.md §1.4): a DataFrame with a nullable event-time column, an
optional positional ``seq`` column materializing the lazy list's order,
and arbitrary payload columns.

Design rules:
- Every operator lowers to *declarative* DataFrame ops (Columns, not
  lambdas) so Catalyst sees the whole plan — predicate pushdown, column
  pruning, join reordering all stay live. The reference's 16 stateless
  rewrite rules (SURVEY.md §4.1) are subsumed by Catalyst this way.
- Python callables are accepted only by the stateful operators and are
  Arrow-batched (``operators/stateful.py``), never row-at-a-time UDFs.
- ``Stream`` is immutable; each operator returns a new Stream sharing
  the session. ``.df`` exposes the underlying DataFrame at any point.

The 8 StrIoT core operators map to methods:
``filter`` ``map`` ``window`` ``expand`` ``merge`` ``zip_join``
``scan`` / ``scan_apply`` ``filter_acc`` / ``filter_acc_apply``
plus the composites ``window_agg`` (streamWindowAggregate), ``join_e``,
``join_w`` (SURVEY.md §2.3).
"""

from __future__ import annotations

from typing import Any, Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from striot_spark.operators import join as J
from striot_spark.operators import stateful as S
from striot_spark.operators import windows as Wm


class Stream:
    def __init__(
        self,
        df: DataFrame,
        time_col: str | None = None,
        seq_col: str | None = None,
        dense_seq: bool = False,
    ):
        self.df = df
        self.time_col = time_col
        self.seq_col = seq_col
        # dense_seq: seq is 0..N-1 with no gaps → count windows / zip joins
        # become pure arithmetic (no global sort). The canonical events
        # table guarantees this (sources/batch.py).
        self.dense_seq = dense_seq

    # -- plumbing -----------------------------------------------------------
    def _with(self, df: DataFrame, **kw) -> "Stream":
        args = dict(
            time_col=self.time_col, seq_col=self.seq_col, dense_seq=self.dense_seq
        )
        args.update(kw)
        return Stream(df, **args)

    def transform(self, fn: Callable[[DataFrame], DataFrame]) -> "Stream":
        """Escape hatch: arbitrary DataFrame-level transformation."""
        return self._with(fn(self.df))

    # -- 1. streamFilter (FunctionalProcessing.hs:59-63) --------------------
    def filter(self, predicate: Column, keep_null_values: bool = False) -> "Stream":
        """Value predicate; ``keep_null_values`` reproduces the reference's
        pass-through of timestamp-only events (``:62``)."""
        if keep_null_values:
            predicate = predicate | predicate.isNull()
        # dropping rows breaks seq density (positions now have gaps)
        return self._with(self.df.filter(predicate), dense_seq=False)

    # -- 2. streamMap (FunctionalProcessing.hs:67-71) -----------------------
    def map(
        self, *keep: str, null_passthrough: str | None = None, **exprs: Column
    ) -> "Stream":
        """Project to ``keep`` columns plus aliased expression columns.
        Time/seq columns are carried automatically when present.

        ``null_passthrough`` names the payload column for the
        reference's dataless-event rule (``FunctionalProcessing.hs:70``):
        rows whose payload is NULL map to NULL regardless of the
        expression (most Spark expressions are null-strict already; the
        guard makes non-strict ones — coalesce, literals, when — comply
        too).
        """
        carried = [
            c
            for c in (self.time_col, self.seq_col)
            if c and c not in keep and c not in exprs
        ]

        def guard(e: Column) -> Column:
            if null_passthrough is None:
                return e
            return F.when(F.col(null_passthrough).isNotNull(), e)

        cols = [F.col(c) for c in (*carried, *keep)] + [
            guard(e).alias(n) for n, e in exprs.items()
        ]
        return self._with(self.df.select(*cols))

    def with_columns(self, **exprs: Column) -> "Stream":
        df = self.df
        for n, e in exprs.items():
            df = df.withColumn(n, e)
        return self._with(df)

    # -- 3. streamWindow (FunctionalProcessing.hs:77-86) --------------------
    def window(
        self,
        maker: Wm.WindowMaker,
        collect: Column | None = None,
        key: Sequence[str] | None = None,
    ) -> "Stream":
        """Literal windowing: Stream a -> Stream [a]. The output carries
        ``window_id`` (+ ``window_time`` for time windows) and a
        ``values`` array column. Prefer ``window_agg`` — it fuses the
        downstream map into the aggregation (map-side partial agg)."""
        key = list(key or [])
        if Wm.is_sliding(maker):
            spec = Wm.sliding_frame(maker, self.time_col, self.seq_col, key)
            payload = collect if collect is not None else F.struct(*self.df.columns)
            df = self.df.withColumn("values", F.collect_list(payload).over(spec))
            return self._with(df)
        df = Wm.assign_window_id(
            self.df, maker, self.time_col, self.seq_col, key, self.dense_seq
        )
        payload = collect if collect is not None else F.struct(*self.df.columns)
        aggs = [F.collect_list(payload).alias("values")]
        if self.time_col:
            # window event takes the first event's timestamp (reference :85)
            aggs.append(F.min(self.time_col).alias(self.time_col))
        grouped = df.groupBy(*key, Wm.WINDOW_ID).agg(*aggs)
        return Stream(grouped, time_col=self.time_col, seq_col=None)

    # -- streamWindowAggregate (FunctionalProcessing.hs:89-90) --------------
    def window_agg(
        self,
        maker: Wm.WindowMaker,
        aggs: dict[str, Column],
        key: Sequence[str] | None = None,
        keep_window_time: bool = False,
    ) -> "Stream":
        """Fused window+aggregate. Tumbling makers → groupBy (one shuffle,
        partial aggregation); sliding makers → analytic frames (zero row
        multiplication). On a streaming frame a ``ChopTime`` maker lowers
        to the native watermarked event-time window
        (``streaming/runtime.py:window_agg_stream``, its default
        watermark), whose output always carries ``window_start``; this
        is the only method that dispatches on ``isStreaming``."""
        key = list(key or [])
        if self.df.isStreaming and isinstance(maker, Wm.ChopTime):
            from striot_spark.streaming import runtime as RT

            out = RT.window_agg_stream(
                self.df,
                self.time_col,
                maker.duration,
                aggs,
                key,
                origin=maker.origin,
            )
            return Stream(out, time_col=None, seq_col=None)
        if Wm.is_sliding(maker):
            spec = Wm.sliding_frame(maker, self.time_col, self.seq_col, key)
            df = self.df
            for name, col in aggs.items():
                df = df.withColumn(name, col.over(spec))
            return self._with(df)
        df = Wm.assign_window_id(
            self.df, maker, self.time_col, self.seq_col, key, self.dense_seq
        )
        exprs = [c.alias(n) for n, c in aggs.items()]
        if keep_window_time and isinstance(maker, Wm.ChopTime):
            exprs = [F.min(f"{Wm.WINDOW_TIME}.start").alias("window_start")] + exprs
        out = df.groupBy(*key, Wm.WINDOW_ID).agg(*exprs)
        return Stream(out, time_col=None, seq_col=None)

    # -- 4. streamExpand (FunctionalProcessing.hs:206-210) ------------------
    def expand(
        self, col: str | Column = "values", alias: str = "value", outer: bool = False
    ) -> "Stream":
        """Flatten an array column into one event per element, inheriting
        the window's timestamp (``explode_outer`` keeps empty windows as
        null rows, matching the reference's empty-window events)."""
        c = F.col(col) if isinstance(col, str) else col
        expl = F.explode_outer(c) if outer else F.explode(c)
        others = [
            x for x in self.df.columns if x != (col if isinstance(col, str) else None)
        ]
        df = self.df.select(*others, expl.alias(alias))
        return Stream(df, time_col=self.time_col, seq_col=None)

    # -- 5. streamMerge (FunctionalProcessing.hs:135-144) -------------------
    def merge(self, *others: "Stream") -> "Stream":
        """n-way union. Timestamp order is *not* physically materialized
        (Spark DataFrames are unordered); it is re-established by any
        downstream ordered operator via (time, seq) — mirroring the
        distributed reference runtime's arrival-order merge
        (``src/Striot/Nodes/TCP.hs:52-59``, SURVEY.md §7.3 point 4)."""
        df = self.df
        for o in others:
            df = df.unionByName(o.df)
        return self._with(df, dense_seq=False)

    # -- 6. streamJoin (FunctionalProcessing.hs:148-155) --------------------
    def zip_join(
        self, other: "Stream", prefixes: tuple[str, str] = ("l_", "r_")
    ) -> "Stream":
        df = J.zip_join(
            self.df,
            other.df,
            self.time_col,
            self.seq_col,
            other.time_col,
            other.seq_col,
            prefixes,
            dense_seq=self.dense_seq and other.dense_seq,
        )
        lt = f"{prefixes[0]}{self.time_col}" if self.time_col else None
        return Stream(df, time_col=lt, seq_col="zip_pos", dense_seq=False)

    def join_e(
        self,
        other: "Stream",
        maker: Wm.WindowMaker,
        theta: Column,
        select: Sequence[Column] | None = None,
        broadcast_right: bool = False,
        r_maker: Wm.WindowMaker | None = None,
    ) -> "Stream":
        """Windowed theta join. With Chop makers (``r_maker`` may give
        the right side a different size — the reference's fwm1/fwm2)
        the window pairing is positional over untimed streams."""
        df = J.join_e(
            self.df,
            other.df,
            maker,
            theta,
            self.time_col,
            other.time_col,
            select,
            broadcast_right=broadcast_right,
            r_maker=r_maker,
            seq_col=self.seq_col,
            r_seq_col=other.seq_col,
            dense_seq=self.dense_seq and other.dense_seq,
        )
        return Stream(df, time_col=None, seq_col=None)

    def join_w(
        self,
        other: "Stream",
        left_maker: Wm.ChopTime,
        right_maker: Wm.ChopTime,
        left_aggs: dict[str, Column],
        right_aggs: dict[str, Column],
    ) -> "Stream":
        df = J.join_w(
            self.df,
            other.df,
            left_maker,
            right_maker,
            left_aggs,
            right_aggs,
            self.time_col,
            other.time_col,
        )
        return Stream(df, time_col=None, seq_col=None)

    # -- 7. streamScan (FunctionalProcessing.hs:188-191) --------------------
    def scan(
        self,
        aggs: dict[str, Column],
        key: Sequence[str] | None = None,
        null_passthrough: str | None = None,
    ) -> "Stream":
        """Algebraic scan: cumulative analytic frame per key (scalable)."""
        return self._with(
            S.scan_agg(
                self.df,
                aggs,
                self.time_col,
                self.seq_col,
                list(key or []),
                null_passthrough,
            )
        )

    def scan_apply(
        self,
        step: Callable[[Any, dict], Any],
        init: Any,
        out_field: str,
        out_type: str,
        key: Sequence[str] | None = None,
        null_passthrough: str | None = None,
    ) -> "Stream":
        """General scan with an arbitrary Python step function."""
        return self._with(
            S.scan_apply(
                self.df,
                step,
                init,
                out_field,
                out_type,
                self.time_col,
                self.seq_col,
                list(key or []),
                null_passthrough,
            )
        )

    # -- 8. streamFilterAcc (FunctionalProcessing.hs:181-185) ---------------
    def filter_acc(
        self,
        pred: Callable[[Column, Column], Column],
        value_col: str,
        key: Sequence[str] | None = None,
        keep_first: bool = True,
        prev_alias: str | None = None,
        null_passthrough: bool = False,
    ) -> "Stream":
        """Algebraic filter-acc for the dominant prev/current shape
        (dedup-on-change, threshold crossing)."""
        return self._with(
            S.lag_filter(
                self.df,
                pred,
                value_col,
                self.time_col,
                self.seq_col,
                list(key or []),
                keep_first,
                prev_alias,
                null_passthrough,
            ),
            dense_seq=False,
        )

    def filter_acc_apply(
        self,
        step: Callable[[Any, dict], Any],
        init: Any,
        pred: Callable[[dict, Any], bool],
        key: Sequence[str] | None = None,
        null_passthrough: str | None = None,
    ) -> "Stream":
        return self._with(
            S.filter_acc_apply(
                self.df,
                step,
                init,
                pred,
                self.time_col,
                self.seq_col,
                list(key or []),
                null_passthrough,
            ),
            dense_seq=False,
        )

    # -- fused stateful chains (plans/: SURVEY.md §4.1 custom rules) --------
    def apply_chain(
        self,
        ops,
        value_col: str,
        out_type: str,
        key: Sequence[str] | None = None,
        optimize: bool = True,
    ) -> "Stream":
        """Run an op-chain (plans.graph Ops with Python callables) as a
        single fused applyInPandas stage; the rewrite pass fuses
        filter/map/expand into neighboring stateful ops first."""
        from striot_spark.plans.lower import apply_chain as _apply

        df = _apply(
            self.df,
            ops,
            value_col,
            out_type,
            self.time_col,
            self.seq_col,
            list(key or []),
            do_optimize=optimize,
        )
        return Stream(df, time_col=self.time_col, seq_col=self.seq_col)

    # -- derived (SURVEY.md §2.5) -------------------------------------------
    def sample(self, n: int) -> "Stream":
        """1-in-n systematic sampling (``FunctionalProcessing.hs:258-259``).
        With a dense seq this is a pushed-down arithmetic filter."""
        if self.seq_col and self.dense_seq:
            return self.filter(F.col(self.seq_col) % n == 0)
        # no dense seq: two-pass partition-offset numbering (parallel),
        # then keep every n-th
        from striot_spark.core.scale import global_index

        order = [F.col(c) for c in (self.time_col, self.seq_col) if c]
        df = (
            global_index(self.df, order, "__rn__")
            .filter(F.col("__rn__") % n == 0)
            .drop("__rn__")
        )
        return self._with(df)

    def changes(self, value_col: str, key: Sequence[str] | None = None) -> "Stream":
        """Dedup-on-change (``docs/Operators.md:109-119``)."""
        return self.filter_acc(
            lambda prev, cur: prev != cur, value_col, key=key, keep_first=True
        )

    def to_df(self) -> DataFrame:
        return self.df
