"""Smoke self-test of the benchmark on tiny inputs.

    python3 perfbench/selftest.py

Runs every workload with ``--small`` (sf0.001-sized tables, a 2k-row trips
CSV) untraced and traced, each in its own process, and asserts that:

- the run exits 0, is correct, and prints exactly the metrics BENCHMARK.json
  names for its mode, each with the unit BENCHMARK.json gives it;
- the traced readings separate the layers (inference jobs on ``headline``,
  lineage cuts and streaming on ``pipelines`` only, >= 4 micro-batches per
  replay and a pipeline cache hit there);
- the run leaves no work directory behind;
- outside a checkout (only BENCHMARK.json and perfbench/) the command fails
  without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.dirname(os.path.abspath(__file__))]

import workloads  # noqa: E402


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--small"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    names = [w["name"] for w in spec["workloads"]]
    layers: dict[str, dict[str, float]] = {}
    for workload in names:
        for trace in (0, 1):
            proc = _run(ROOT, workload, trace)
            assert proc.returncode == 0, f"{workload} trace={trace}: rc {proc.returncode}\n{proc.stderr[-2000:]}"
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
            assert result["correct"] and result["failed"] == 0, proc.stdout[-2000:]
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == units[trace], f"{workload} trace={trace}: {got}"
            if trace:
                layers[workload] = {k: v["value"] for k, v in result["metrics"].items()}
            print(f"ok {workload} trace={trace} attempted={result['attempted']}")
    assert not os.path.exists(os.path.join(ROOT, ".perfbench-work")), "work dir left behind"

    assert layers["headline"]["sources.inference_jobs"] > 0
    assert layers["headline"]["lineage.cut_jobs"] == 0
    assert layers["headline"]["streaming.batches"] == 0
    assert layers["pipelines"]["lineage.cut_jobs"] > 0
    assert layers["pipelines"]["streaming.batches"] >= 4 * len(workloads.STREAM_REPLAY)
    assert layers["pipelines"]["pipeline.cache_hit_share"] > 0
    print("ok layer separation")

    with tempfile.TemporaryDirectory(prefix=".perfbench-bare-", dir=ROOT) as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = _run(bare, names[0], 0)
        assert proc.returncode != 0 and not proc.stdout.strip(), proc.stdout
    print("ok fails outside a checkout")
    return 0


if __name__ == "__main__":
    sys.exit(main())
