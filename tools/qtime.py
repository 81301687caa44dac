"""Interleaved per-query timing harness (PERF §36 protocol, one process).

    python tools/qtime.py q268_betweenness_pivots q253_sssp_parents \
        --reps 3 [--sf /root/testdata/sf0.1] [--conf k=v ...]

Times each named query with the noop sink inside the bench session,
interleaving queries across reps (A B A B ...) so box drift hits every
arm equally; prints per-rep and min/median per query. Session,
warm-up, the timed run (clearCache, then the noop write) and calib
come from bench.py.
"""

from __future__ import annotations

import argparse
import statistics
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--conf", nargs="*", default=[])
    ap.add_argument("--ab", nargs="*", default=None,
                    help="k=v confs toggled per rep IN-SESSION: even reps "
                         "run with session defaults (arm A), odd reps set "
                         "these (arm B). True interleaving — immune to box "
                         "drift between processes.")
    args = ap.parse_args()

    import __spark_entry__ as e
    from bench import calib_sec, open_session, timed_run

    extra = dict(kv.split("=", 1) for kv in args.conf)
    spark = open_session(args.sf, "qtime", extra or None)

    qs = e.queries()
    ab = dict(kv.split("=", 1) for kv in args.ab) if args.ab else None
    saved = {k: spark.conf.get(k, None) for k in (ab or {})}
    rows: dict[tuple[str, str], list[float]] = {}
    for rep in range(args.reps):
        arm = "B" if (ab and rep % 2 == 1) else "A"
        if ab:
            for k, v in (ab if arm == "B" else saved).items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        for n in args.names:
            spark.sparkContext.setJobDescription(f"{n} rep{rep} arm{arm}")
            dt = timed_run(spark, qs[n], args.sf)
            rows.setdefault((n, arm), []).append(dt)
            print(f"rep{rep}[{arm}] {n}: {dt:.3f}s", flush=True)
    if ab:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    print("---")
    for (n, arm), ts in sorted(rows.items()):
        print(f"{n}[{arm}]: min={min(ts):.3f} med={statistics.median(ts):.3f} "
              f"all={[round(t, 2) for t in ts]}")
    print(f"calib_sec={calib_sec(spark):.4f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
