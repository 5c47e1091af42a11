#!/usr/bin/env python3
"""Same-host A/B of two commits on one linkbench workload.

Each side is a `git archive` copy of its commit, so linkbench builds the
program from that commit's sources. Pair i runs the workload once per
side on seed i of --seeds, in alternating order (odd pairs run the
change first), with `python3 linkbench/run.py --trace 0`.

Prints, and appends to --out if given:
  - one line per pair: each metric as base/change, the summed codegen
    notes of the last repeated run (`compiles`), and whether the two
    sides' model hashes are equal;
  - per metric: both medians, the change's delta, how many pairs the
    change won, and the parent's quartiles; a median that moved by less
    than the parent's IQR (Q3 - Q1) is marked unresolved.

Example:
  python3 tools/linkbench_ab.py --base HEAD~1 --cur HEAD \\
      --workload link-train --seeds 5301-5310 --out plans/ab.txt
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

# (metric, better) for the end-to-end metrics linkbench reports untraced.
METRICS = [("run_s", "lower"), ("records_per_s", "higher"),
           ("cpu_s", "lower"), ("setup_s", "lower")]
# DedupePipeline.run's phases; their codegen notes hold the sub-phases'.
RUN_PHASES = ("preprocess", "train", "block_score", "cluster", "apply")


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def checkout(repo, rev, dest):
    """A `git archive` copy of `rev` in `dest`, reused if already there."""
    sha = subprocess.run(["git", "-C", repo, "rev-parse", rev], check=True,
                         capture_output=True, text=True).stdout.strip()
    stamp = os.path.join(dest, ".ab_rev")
    if os.path.exists(stamp) and open(stamp).read().strip() == sha:
        return sha
    subprocess.run(["rm", "-rf", dest], check=True)
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "-C", repo, "archive", sha],
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout,
                   check=True)
    if archive.wait() != 0:
        sys.exit(f"git archive {rev} failed")
    with open(stamp, "w") as f:
        f.write(sha + "\n")
    return sha


def run_once(tree, workload, seed, seconds):
    """linkbench's two JSON lines as (detail, result), or None."""
    p = subprocess.run(
        [sys.executable, "linkbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-2000:])
        return None
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    if not result.get("correct"):
        return None
    return detail, result


def compiles(detail):
    notes = detail.get("notes", {})
    keys = [f"codegen.{p}" for p in RUN_PHASES if f"codegen.{p}" in notes]
    keys = keys or [k for k in notes if k.startswith("codegen.")]
    return sum(int(notes[k]) for k in keys)


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def summary(rows):
    out = [f"pairs {len(rows)}"]
    for m, better in METRICS:
        base = [r["base"][m] for r in rows]
        cur = [r["cur"][m] for r in rows]
        bm, cm = statistics.median(base), statistics.median(cur)
        q1, _, q3 = statistics.quantiles(base, n=4)
        won = sum((c < b) if better == "lower" else (c > b)
                  for b, c in zip(base, cur))
        moved = "resolved" if abs(cm - bm) > q3 - q1 else "unresolved"
        out.append(
            f"{m:<14} base_med {bm:.4f} cur_med {cm:.4f} "
            f"delta {100 * (cm - bm) / bm:+.1f}% cur_better {won}/{len(rows)}"
            f" base_IQR {q3 - q1:.4f} (Q1 {q1:.4f} Q3 {q3:.4f}) {moved}")
    out.append(f"compiles base {[r['base_compiles'] for r in rows]} "
               f"cur {[r['cur_compiles'] for r in rows]}")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", required=True, help="the parent commit")
    ap.add_argument("--cur", default="HEAD", help="the change's commit")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 5301-5310")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--repo", default=os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    ap.add_argument("--work", default=os.path.join(
        tempfile.gettempdir(), "linkbench_ab"),
        help="where the two checkouts live (reused across calls)")
    ap.add_argument("--out", help="append the table to this file")
    a = ap.parse_args()

    trees = {side: os.path.join(a.work, side) for side in ("base", "cur")}
    shas = {side: checkout(a.repo, rev, trees[side])
            for side, rev in (("base", a.base), ("cur", a.cur))}
    head = [f"### {a.workload}, seeds {a.seeds}, base {shas['base'][:7]} "
            f"cur {shas['cur'][:7]}, {os.cpu_count()} cores"]

    def emit(line):
        print(line, flush=True)
        if a.out:
            with open(a.out, "a") as f:
                f.write(line + "\n")

    for line in head:
        emit(line)
    rows = []
    for i, seed in enumerate(seeds_of(a.seeds), 1):
        order = ("cur", "base") if i % 2 else ("base", "cur")
        load = load1()
        got = {side: run_once(trees[side], a.workload, seed, a.seconds)
               for side in order}
        if any(g is None for g in got.values()):
            emit(f"pair {i} seed {seed} first={order[0]} FAILED: "
                 + " ".join(s for s, g in got.items() if g is None))
            continue
        row = {side: {m: got[side][1]["metrics"][m]["value"]
                      for m, _ in METRICS} for side in got}
        for side in got:
            row[f"{side}_compiles"] = compiles(got[side][0])
        hashes = [got[s][0].get("model_hash") for s in ("base", "cur")]
        vals = " ".join(f"{m} {row['base'][m]:.4f}/{row['cur'][m]:.4f}"
                        for m, _ in METRICS)
        tail = (f" model_hash_equal {hashes[0] == hashes[1]}"
                if any(hashes) else "")
        emit(f"pair {i} seed {seed} first={order[0]} load1 {load:.2f} {vals}"
             f" compiles {row['base_compiles']}/{row['cur_compiles']}{tail}")
        rows.append(row)
    if len(rows) >= 2:
        for line in summary(rows):
            emit(line)


if __name__ == "__main__":
    main()
