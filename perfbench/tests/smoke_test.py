#!/usr/bin/env python3
"""Smoke test of the benchmark at its smallest scale.

    python3 perfbench/tests/smoke_test.py

Runs every workload of BENCHMARK.json, plus hot_cell_join (runnable but not
in BENCHMARK.json), at `--scale smoke` (tiny generated inputs) and checks
that:
  * each run exits 0 and its last stdout line is the result JSON with
    exactly the keys correct/attempted/failed/metrics;
  * with --trace 0 every end_to_end metric, and with --trace 1 every
    per_layer metric, is present with the unit BENCHMARK.json gives it
    (on every workload);
  * all outputs match their expected digests (failed == 0);
  * a planted wrong digest (--plant-wrong-digest) is counted as failed and
    makes `correct` false.
Exits non-zero on the first failed check.
"""
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["hot_cell_join"]


def run(workload, trace, *extra):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "3", "--seconds", "1",
                             "--trace", str(trace), "--scale", "smoke"] + list(extra)
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, "%s exited %d:\n%s" % (cmd, p.returncode, p.stderr[-4000:])
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"], result
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1, result
    assert isinstance(result["failed"], int), result
    return result


def check_metrics(result, specs, label):
    got = result["metrics"]
    assert sorted(got) == sorted(m["name"] for m in specs), (label, sorted(got))
    for m in specs:
        assert got[m["name"]]["unit"] == m["unit"], (label, m["name"], got[m["name"]])
        assert isinstance(got[m["name"]]["value"], (int, float)), (label, m["name"])


def main():
    for name in WORKLOADS:
        r = run(name, 0)
        check_metrics(r, SPEC["end_to_end"], name)
        assert r["correct"] and r["failed"] == 0, (name, r)
        print("ok  %-18s trace 0: %d operations, all digests match" % (name, r["attempted"]))

        r = run(name, 0, "--plant-wrong-digest")
        assert not r["correct"] and r["failed"] > 0, (name, "planted digest not caught", r)
        print("ok  %-18s planted wrong digest: %d of %d failed" % (name, r["failed"], r["attempted"]))

    for name in WORKLOADS:
        r = run(name, 1)
        check_metrics(r, SPEC["per_layer"], name + " traced")
        assert r["correct"], r
        print("ok  %-18s trace 1: %d per-layer metrics" % (name, len(r["metrics"])))
    print("smoke test passed")


if __name__ == "__main__":
    main()
