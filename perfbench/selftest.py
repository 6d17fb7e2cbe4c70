#!/usr/bin/env python3
"""Self-test of the benchmark: one sf0.001 run of each workload, untraced
and traced, checked against the contract in BENCHMARK.json.

    python3 perfbench/selftest.py

Checks that every run exits 0 and prints a result line with exactly the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``, with no failed
query; that every metric BENCHMARK.json names prints with its unit; that a
traced run writes its span file with name, start, end, parent and query id
per span and counts Spark jobs for every query; that the dialect workload
never calls a barrier; and that no run leaves its work directory or a
``/tmp/spj_*`` directory behind.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", "1", "--seconds", "1",
        "--trace", str(trace), "--sf", "0.001",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise AssertionError(f"{workload} trace={trace}: exit {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, specs: list[dict], where: str) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, where
    assert result["correct"] is True and result["failed"] == 0, where
    assert result["attempted"] >= 1, where
    for spec in specs:
        got = result["metrics"].get(spec["name"])
        assert got is not None, f"{where}: {spec['name']} missing"
        assert got["unit"] == spec["unit"], f"{where}: {spec['name']} unit {got['unit']}"
        assert isinstance(got["value"], (int, float)), f"{where}: {spec['name']}"


def check_spans(workload: str) -> None:
    path = os.path.join(ROOT, ".perfbench_out", f"spans-{workload}-1.jsonl")
    with open(path) as fh:
        spans = [json.loads(line) for line in fh]
    assert spans, f"{path} is empty"
    for s in spans:
        assert {"name", "start", "end", "parent", "query"} <= set(s), s
        assert s["end"] >= s["start"], s
    queries = [s for s in spans if s["name"] == "query"]
    assert queries, path
    for q in queries:  # every query, stream replays included, ran Spark jobs
        assert q["jobs_in_build"] + q["jobs_in_exec"] > 0, q


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    leftovers = set(glob.glob("/tmp/spj_*"))
    for w in (w["name"] for w in bench["workloads"]):
        check_metrics(run(w, 0), bench["end_to_end"], f"{w} untraced")
        traced = run(w, 1)
        check_metrics(traced, bench["per_layer"], f"{w} traced")
        check_spans(w)
        if w == "spj_dialect":
            assert traced["metrics"]["operators.barrier_calls"]["value"] == 0
        assert not os.path.exists(os.path.join(ROOT, ".perfbench_tmp")), "work dir left"
        assert set(glob.glob("/tmp/spj_*")) <= leftovers, "/tmp/spj_* left behind"
        print(f"selftest: {w} ok")
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
