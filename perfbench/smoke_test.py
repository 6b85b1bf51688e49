#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

    python3 perfbench/smoke_test.py [workload ...]

Runs each workload once at the smallest input size (``--smoke``),
untraced and traced, and asserts that

* every metric BENCHMARK.json names is printed, with its unit;
* every output check passes;
* the traced run writes spans for every layer the workload exercises;

and that the command fails, without a result line, in a directory that
holds only BENCHMARK.json and the benchmark's own files.  Takes a few
minutes; exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

LAYERS = {
    "report_jobs": {"session", "cli", "plans", "sources"},
    "headline": {"session", "plans"},
    "curation": {"session", "plans"},
}


def bench(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "0",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def check_workload(spec: dict, workload: str) -> None:
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        proc = bench(workload, trace)
        assert proc.returncode == 0, proc.stderr[-3000:]
        lines = proc.stdout.strip().splitlines()
        info, result = json.loads(lines[-2]), json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
        assert result["correct"] and result["failed"] == 0, proc.stderr[-3000:]
        want = {m["name"]: m["unit"] for m in spec[key]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        assert got == want, (workload, trace, got, want)
        if trace:
            path = os.path.join(ROOT, ".perfbench", "traces", f"{info['run']}.jsonl")
            with open(path) as f:
                spans = [json.loads(line) for line in f]
            layers = {s["name"].split(".")[0] for s in spans}
            assert LAYERS[workload] <= layers, (workload, layers)
            assert all({"id", "name", "start", "end", "parent", "run"} <= set(s) for s in spans)
        print(f"ok {workload} trace={trace}", flush=True)


def check_bare_directory() -> None:
    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    try:
        proc = bench("headline", 0, cwd=bare)
    finally:
        shutil.rmtree(bare)
    assert proc.returncode != 0, proc.stdout
    assert '"metrics"' not in proc.stdout, proc.stdout
    print("ok bare directory fails", flush=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = sys.argv[1:] or list(LAYERS)
    check_bare_directory()
    for w in names:
        check_workload(spec, w)
    return 0


if __name__ == "__main__":
    sys.exit(main())
