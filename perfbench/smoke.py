"""Smoke test of the benchmark itself. From the checkout root:

    python3 perfbench/smoke.py

1. A tiny run of every workload, with tracing off and on, must exit 0 and
   emit exactly the metrics BENCHMARK.json names, each with its unit, with
   every output check passing.
2. A run whose Spark output drops one document (``--corrupt``) must count
   failed operations and report ``correct: false``.
3. In a directory holding only BENCHMARK.json and the benchmark's files,
   the benchmark must exit non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

TINY = {"page_extract": 64, "near_dup": 200}


def run(args: list[str], cwd: str) -> tuple[int, str]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    return p.returncode, p.stdout


def result(stdout: str) -> dict:
    r = json.loads(stdout.strip().splitlines()[-1])
    assert set(r) == {"correct", "attempted", "failed", "metrics"}, r.keys()
    assert isinstance(r["attempted"], int) and r["attempted"] >= 1, r
    assert isinstance(r["failed"], int), r
    return r


def main() -> int:
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    assert set(TINY) == {w["name"] for w in spec["workloads"]}

    for w in spec["workloads"]:
        for trace in (0, 1):
            code, out = run(
                ["--workload", w["name"], "--seed", "3", "--seconds", "1",
                 "--trace", str(trace), "--docs", str(TINY[w["name"]])],
                root,
            )
            assert code == 0, (w["name"], trace, code, out[-2000:])
            r = result(out)
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            assert got == declared[trace], (w["name"], trace, set(got) ^ set(declared[trace]))
            assert all(isinstance(v["value"], (int, float)) for v in r["metrics"].values())
            assert r["correct"] and r["failed"] == 0, (w["name"], trace, out[-2000:])
            print(f"ok {w['name']} trace={trace} attempted={r['attempted']}")

    code, out = run(
        ["--workload", "page_extract", "--seed", "3", "--seconds", "1", "--trace", "0",
         "--docs", "64", "--corrupt"],
        root,
    )
    r = result(out)
    assert code == 0 and not r["correct"] and r["failed"] == r["attempted"], out[-2000:]
    print(f"ok corrupted output counted: failed={r['failed']} of {r['attempted']}")

    bare = os.path.join(root, ".bench_cache", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
    for p in spec["paths"]:
        shutil.copytree(os.path.join(root, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    code, out = run(
        ["--workload", "page_extract", "--seed", "3", "--seconds", "1", "--trace", "0"], bare
    )
    shutil.rmtree(bare, ignore_errors=True)
    assert code != 0 and not out.strip(), (code, out)
    print(f"ok without the program: exit {code}, no result")
    return 0


if __name__ == "__main__":
    sys.exit(main())
