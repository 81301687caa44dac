"""The benchmark's own checks.

    python3 -m pytest perfbench/test_perfbench.py -q

Each smoke run starts three JVMs in turn (about a minute per run).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import gen, run, workloads  # noqa: E402


def _bench(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def _summary(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_metric_tables_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)


def test_fixed_seed_gives_identical_inputs():
    a, b = gen.batch_tables(7, 0.001), gen.batch_tables(7, 0.001)
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(gen.batch_tables(8, 0.001)["lineitem"])
    x = gen.event_batches(7, 2000, 8, 40)
    y = gen.event_batches(7, 2000, 8, 40)
    assert len(x) == 8 and all(p.equals(q) for p, q in zip(x, y))


def test_staged_files_hold_identical_rows(tmp_path):
    for d in ("a", "b"):
        gen.stage_event_files(gen.event_batches(3, 600, 4, 20), str(tmp_path / d))
    for f in sorted((tmp_path / "a").iterdir()):
        assert pd.read_parquet(f).equals(pd.read_parquet(tmp_path / "b" / f.name))


def test_replay_disorder_stays_inside_the_watermark():
    batches = gen.event_batches(5, 4000, 10, 50, max_displacement=32)
    df = pd.concat(batches, ignore_index=True)
    assert sorted(df["event_id"]) == list(range(4000))
    assert (df["event_id"] - df.index).abs().max() <= 32
    newest = batches[0]["ts"].max()
    for part in batches[1:]:
        assert (newest - part["ts"].min()).total_seconds() < 1.5 * 32
        newest = max(newest, part["ts"].max())


def test_tail_percentile_keeps_ten_samples_beyond():
    assert run.tail_percentile(200) == 90.0
    assert run.tail_percentile(31) == pytest.approx(100 * 21 / 31)
    assert run.tail_percentile(15) == run.tail_percentile(4) == 50.0
    assert run.percentile([1.0, 2.0, 3.0], 50) == 2.0


def test_each_operation_takes_its_fastest_pass():
    class Batch:
        kind = "batch"

    class Stream:
        kind = "stream"

    passes = [{"ops": {"a": {"latency_s": 2.0}, "b": {"latency_s": 1.0}}},
              {"ops": {"a": {"latency_s": 1.5}}}]  # b failed in this pass
    assert sorted(run.op_latencies(Batch, passes)) == [1.0, 1.5]

    def drain(*ms):
        return {"progress": [{"numInputRows": 1, "durationMs": {"triggerExecution": m}}
                             for m in ms]}

    passes = [{"ops": {"w": drain(300, 500)}}, {"ops": {"w": drain(400, 200)}}]
    assert run.op_latencies(Stream, passes) == [0.3, 0.2]


# every workload prints the end-to-end metrics; a batch and a stream
# workload also print the per-layer ones
@pytest.mark.parametrize("workload,traced", [
    *((w, 0) for w in workloads.WORKLOADS), ("ops_short", 1), ("stream_window", 1),
])
def test_smoke_prints_every_metric_with_its_unit(workload, traced):
    out = _summary(_bench(
        "--workload", workload, "--seed", "1", "--seconds", "1", "--trace", str(traced),
    ))
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 2
    want = run.PER_LAYER if traced else run.END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())


def test_injected_failure_is_counted_and_the_run_completes():
    proc = _bench(
        "--workload", "ops_short", "--seed", "2", "--seconds", "1",
        "--trace", "0", "--inject-failure", "q09_sample",
    )
    out = _summary(proc)
    report = json.loads(proc.stdout.strip().splitlines()[-2])
    assert out["failed"] == report["passes"] + 1 and not out["correct"]
    assert report["fail_ratio"] > 0
    assert {e["op"] for e in report["errors"]} == {"q09_sample"}
    assert all(e["local_dir_free_bytes"] > 0 for e in report["errors"])
    assert set(out["metrics"]) == set(run.END_TO_END)


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _bench("--workload", "ops_short", "--seed", "1", "--seconds", "1",
                  "--trace", "0", cwd=tmp_path)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
