#!/usr/bin/env python3
"""Self-test of the benchmark: one operation per workload (for curate, one
job sequence) on sf0.001-sized inputs, untraced and traced. It asserts that
the result line carries every metric BENCHMARK.json names, each with its
unit, that the run is correct, and that every correctness check of the
workload ran.

    python3 perfbench/smoke_test.py [workload ...]    # default: all four
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["dashboard", "curate", "ingest", "retrieval"]


def expected_checks(workload, rec):
    """The checks a run of `workload` must have made."""
    if workload in ("dashboard", "retrieval"):
        queries = {c["name"].split(":", 1)[1] for c in rec["checks"]
                   if c["name"].startswith("oracle:")}
        assert queries and set(rec["op_names"]) <= queries, "a timed query has no oracle check"
        return ["hash:timed"]
    return {"ingest": ["ingest:survivors"], "curate": ["curate:corpus"]}[workload]


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for workload in sys.argv[1:] or WORKLOADS:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                 "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke"],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            assert out.returncode == 0, f"{workload}: exit {out.returncode}\n{out.stderr[-3000:]}"
            result = json.loads(out.stdout.strip().splitlines()[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
            assert result["correct"] and result["failed"] == 0, result
            assert result["attempted"] >= 1, result
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == want, f"{workload} {kind}: {got} != {want}"
            assert all(isinstance(v["value"], (int, float))
                       for v in result["metrics"].values()), result
            with open(os.path.join(HERE, "results",
                                   f"{workload}-seed1-trace{trace}.json")) as f:
                rec = json.load(f)
            names = [c["name"] for c in rec["checks"]]
            for check in expected_checks(workload, rec):
                assert any(n.startswith(check) for n in names), \
                    f"{workload}: check {check} did not run ({names})"
            print(f"ok {workload} trace={trace}: {len(got)} metrics, "
                  f"{len(names)} checks passed", flush=True)


if __name__ == "__main__":
    main()
