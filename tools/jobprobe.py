"""Per-job wall-clock breakdown for a query (guide §1 empirical loop).

    python tools/jobprobe.py q264_strength_core [--sf ...] [--reps 1]

Runs the query with the UI REST API enabled, then lists every Spark job
it submitted (description, duration, stage/task counts) sorted by
duration — the CV-free way to see WHERE a query's wall time goes and to
spot redundant setup jobs (the r16 sssp/harmonic validation-fold find).
"""

from __future__ import annotations

import argparse
import json
import sys
import time
import urllib.request
from datetime import datetime
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=1)
    args = ap.parse_args()

    import __spark_entry__ as e
    from bench import open_session

    spark = open_session(
        args.sf, "jobprobe", {"spark.ui.enabled": "true"}
    )

    qs = e.queries()
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    def jobs() -> list:
        url = f"{ui}/api/v1/applications/{app_id}/jobs?status=succeeded"
        with urllib.request.urlopen(url) as r:
            return json.load(r)

    for name in args.names:
        for rep in range(args.reps):
            spark.catalog.clearCache()
            before = {j["jobId"] for j in jobs()}
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            t0 = time.perf_counter()
            qs[name](spark, args.sf).write.mode("overwrite").format(
                "noop"
            ).save()
            wall = time.perf_counter() - t0
            time.sleep(0.5)
            new = [j for j in jobs() if j["jobId"] not in before]
            new.sort(key=lambda j: -(j.get("numCompletedTasks", 0)))
            total_ms = 0.0
            rows = []
            for j in new:
                t_sub = j["submissionTime"]
                t_done = j.get("completionTime", t_sub)
                fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
                dur = (
                    datetime.strptime(t_done, fmt)
                    - datetime.strptime(t_sub, fmt)
                ).total_seconds()
                total_ms += dur
                rows.append(
                    (dur, j["jobId"], j.get("numTasks", 0),
                     (j.get("description") or j.get("name", ""))[:90])
                )
            rows.sort(reverse=True)
            print(
                f"== {name} rep{rep}: wall={wall:.2f}s jobs={len(new)} "
                f"sum_job_sec={total_ms:.2f}"
            )
            for dur, jid, ntasks, desc in rows:
                print(f"  {dur:7.3f}s  job{jid:4d}  tasks={ntasks:4d}  {desc}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
