#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny seeded size.

    python3 linkbench/selftest.py

Runs every workload in BENCHMARK.json through both the untraced
(--trace 0) and the traced (--trace 1) path at --scale 0.05, and fails
unless each run is correct with no failed run, reports every metric
BENCHMARK.json names with its unit and a finite value, and both runs of
a workload saw the same inputs (input fingerprint) and, where a model is
trained, fitted the same model (model hash). Takes a few minutes.
"""
import json
import math
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "linkbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"{workload} --trace {trace}: exit {out.returncode}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for w in bench["workloads"]:
        name = w["name"]
        runs = {}
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            detail, result = run(name, trace)
            runs[trace] = detail
            tag = f"{name} --trace {trace}"
            if result["correct"] is not True or result["failed"] != 0:
                problems.append(f"{tag}: not correct: {detail['errors']}")
            if result["attempted"] < 1:
                problems.append(f"{tag}: attempted {result['attempted']}")
            got = result["metrics"]
            for m in bench[key]:
                v = got.get(m["name"])
                if v is None:
                    problems.append(f"{tag}: no metric {m['name']}")
                elif v["unit"] != m["unit"]:
                    problems.append(f"{tag}: {m['name']} unit {v['unit']}")
                elif not (isinstance(v["value"], (int, float))
                          and math.isfinite(v["value"])):
                    problems.append(f"{tag}: {m['name']} = {v['value']}")
            extra = set(got) - {m["name"] for m in bench[key]}
            if extra:
                problems.append(f"{tag}: metrics not in BENCHMARK.json: "
                                f"{sorted(extra)}")
        if runs[0]["fingerprint"] != runs[1]["fingerprint"]:
            problems.append(f"{name}: the two runs saw different inputs")
        if runs[0]["model_hash"] != runs[1]["model_hash"]:
            problems.append(f"{name}: the two runs fitted different models")
        print(f"{name}: checked", flush=True)
    if problems:
        print("\n".join(problems))
        raise SystemExit(1)
    print("self-test passed")


if __name__ == "__main__":
    main()
