"""Smoke test of the benchmark itself, on tiny inputs.

    python3 perfbench/smoke.py [workload ...]

For each workload: one untimed-length untraced run and two traced runs
with the same seed (sf0.001-sized tables, 500 REST records, a one-second
window, so one traced pass). Asserts that every named metric prints with
its unit, that the outputs check clean, that spans nest with self time
>= 0, and that the exact counters repeat between the two traced runs.
Also asserts that BENCHMARK.json names the same workloads and metrics as
run.py. Takes about five minutes on a 4-core host.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

EXACT_COUNTS = (
    "codegen.compiles",
    "codegen.cold_compiles",
    "spark.jobs",
    "spark.stages",
    "rest.requests",
    "sink.files",
)
SEED = 5


def bench(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    last = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}, last
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1, out.stdout
    units = run.PER_LAYER if trace else run.END_TO_END
    assert set(last["metrics"]) == set(units), sorted(set(last["metrics"]) ^ set(units))
    for name, unit in units.items():
        m = last["metrics"][name]
        assert m["unit"] == unit and isinstance(m["value"], (int, float)), (name, m)
    return {k: v["value"] for k, v in last["metrics"].items()}


def check_spans(path: str) -> None:
    with open(path, encoding="utf-8") as fh:
        spans = {s["id"]: s for s in json.load(fh)}
    depth = {}
    for s in spans.values():
        assert s["self_s"] >= -1e-9, s
        assert s["end"] >= s["start"], s
        if s["parent"] is not None:
            p = spans[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"], (p, s)
        d, cur = 0, s
        while cur["parent"] is not None:
            cur, d = spans[cur["parent"]], d + 1
        depth[s["name"]] = max(depth.get(s["name"], 0), d)
    # run > pass > op > layer call
    assert depth["run"] == 0 and depth["pass"] == 1, depth
    assert max(depth.values()) == 3, depth


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER

    workloads = sys.argv[1:] or run.WORKLOADS
    differ = []
    for workload in workloads:
        e2e = bench(workload, 0)
        assert all(v > 0 for v in e2e.values()), e2e
        first = bench(workload, 1)
        check_spans(run.spans_path(workload, SEED))
        second = bench(workload, 1)
        assert first["trace.coverage"] > 0.9, first["trace.coverage"]
        for name in EXACT_COUNTS:
            print(f"{workload} {name}: {first[name]} / {second[name]}")
            if first[name] != second[name]:
                differ.append(f"{workload} {name}")
    if differ:
        print("counts that did not repeat exactly: " + ", ".join(differ))
        return 1
    print("smoke ok")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
