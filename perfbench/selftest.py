#!/usr/bin/env python3
"""Self-test of the benchmark at its smallest size.

    python3 perfbench/selftest.py

From the repository root:

1. generates every workload's inputs twice from one seed and requires
   byte-identical files;
2. runs both workloads end to end with ``--tiny`` (sf0.001 tables, a
   500-document corpus, two trading days), untraced and traced, and
   requires a passing check and exactly the metric names and units
   ``BENCHMARK.json`` declares;
3. runs the benchmark from a directory holding only ``BENCHMARK.json``
   and the benchmark's files, and requires a non-zero exit without a
   result line.

Takes about four minutes on four cores. Exit code 0 when all pass.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("market_query", "daily_ingest")


def _digest(path: str) -> dict[str, str]:
    out = {}
    for root, _, names in os.walk(path):
        for n in sorted(names):
            p = os.path.join(root, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def check_determinism(scratch: str) -> list[str]:
    sys.path.insert(0, ROOT)
    from perfbench import gen

    problems = []
    digests = []
    for k in range(2):
        d = os.path.join(scratch, f"gen{k}")
        gen.write_tables(gen.tpc_tables(7, 0.001), d)
        gen.write_parquet(gen.documents(7, 500), os.path.join(d, "documents.parquet"))
        plan = gen.IngestPlan(7, tickers=4, rows=20)
        for i in range(3):
            gen.write_parquet(plan.panel(i), os.path.join(d, f"day-{i}.parquet"))
        digests.append(_digest(d))
    if digests[0] != digests[1]:
        problems.append("same seed generated different bytes")
    other = os.path.join(scratch, "gen_other")
    gen.write_tables(gen.tpc_tables(8, 0.001), other)
    if _digest(other)["lineitem.parquet"] == digests[0]["lineitem.parquet"]:
        problems.append("different seeds generated the same lineitem")
    return problems


def run_bench(cwd: str, workload: str, trace: int) -> tuple[int, dict | None, str]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return p.returncode, result, p.stderr


def check_runs() -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems = []
    for w in WORKLOADS:
        for trace in (0, 1):
            rc, result, err = run_bench(ROOT, w, trace)
            tag = f"{w} trace={trace}"
            print(f"# {tag}: rc={rc}", file=sys.stderr, flush=True)
            if rc != 0 or result is None:
                problems.append(f"{tag}: rc={rc}\n{err[-3000:]}")
                continue
            if not result["correct"] or result["failed"] or result["attempted"] < 1:
                problems.append(f"{tag}: {result}")
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want[trace]:
                problems.append(f"{tag}: metrics {sorted(got)} != {sorted(want[trace])}")
            if trace == 0 and any(v["value"] <= 0 for v in result["metrics"].values()):
                problems.append(f"{tag}: an end-to-end metric is not positive: {result}")
    return problems


def check_bare_directory(scratch: str) -> list[str]:
    bare = os.path.join(scratch, "bare")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, result, _ = run_bench(bare, "market_query", 0)
    if rc == 0 or result is not None:
        return [f"bare directory: rc={rc}, result={result}"]
    return []


def main() -> int:
    scratch = os.path.join(ROOT, ".perfbench_tmp", f"selftest-{os.getpid()}")
    os.makedirs(scratch)
    try:
        problems = check_determinism(scratch)
        problems += check_bare_directory(scratch)
        problems += check_runs()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    for p in problems:
        print(f"SELFTEST FAILED: {p}")
    print("selftest: ok" if not problems else f"selftest: {len(problems)} failure(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
