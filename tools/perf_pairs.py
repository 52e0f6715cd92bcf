#!/usr/bin/env python3
"""A/B pairs of the perfbench benchmark: a parent revision against the
checkout this script lives in.

    python3 tools/perf_pairs.py PARENT_REV --workload cdc_trickle --pairs 10
    python3 tools/perf_pairs.py PARENT_REV --workload index_stream --trace 1

It exports PARENT_REV with `git archive` into a scratch directory (the
repository itself is not touched; the export is deleted at the end),
then runs N pairs of `perfbench/run.py --workload W --seed S --seconds T
--trace X`, with T the `run_seconds` of BENCHMARK.json, one run on each
side per pair, on fresh seeds (one seed per pair, the same on both
sides), alternating which side runs first. Each side builds into its
own directory. Afterwards it prints each side's failed runs and failed
operations and, for every end-to-end metric of BENCHMARK.json, each
side's q1/median/q3 over its good runs, the pairs the change won, and
the verdict of the choosing-metrics guide, section 8:

  - gain: the change won at least 9/10 of the pairs and its median beats
    the parent's by more than the parent's own q3 - q1;
  - regression: the change's median is worse than the parent's by more
    than the metric's bound;
  - unresolved: neither, while the parent's spread exceeds the bound,
    unless every run of the change reads better than every run of the
    parent;
  - within bound: neither, otherwise.

Every pair counts. A run that fails, or whose output check fails, is a
failed run: it loses its pair on every metric (a pair both sides fail
is no win), and it has no values for the quartiles. No metric is called
a gain while the change has more failed runs, or a larger share of
failed operations, than the parent.

With `--trace 1` the runs are traced, and it prints the same failure
lines and, for every per-layer metric of BENCHMARK.json, each side's
q1/median/q3 and the pairs the change won: a report that names the
layer a change moved, with no verdict, since per-layer metrics carry no
bound and tracing perturbs the end-to-end ones.
"""
import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def export(rev, dest):
    """The tree of `rev` under a fresh `dest`, from `git archive`."""
    shutil.rmtree(dest, ignore_errors=True)
    dest.mkdir(parents=True)
    with tempfile.TemporaryFile() as tar:
        subprocess.run(["git", "-C", str(ROOT), "archive", rev], stdout=tar,
                       check=True)
        tar.seek(0)
        with tarfile.open(fileobj=tar) as t:
            t.extractall(dest, filter="data")
    return dest


def run(side_root, build, workload, seed, seconds, trace, log):
    """One benchmark run: {"metrics": dict or None, "attempted": int,
    "failed": int}, and its wall seconds. A run with no result line
    counts as one attempted, failed operation."""
    env = dict(os.environ, CARGO_TARGET_DIR=str(build))
    t0 = time.time()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        workload, "--seed", str(seed), "--seconds",
                        str(seconds), "--trace", str(trace)], cwd=side_root,
                       env=env,
                       stdout=subprocess.PIPE, stderr=log, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    result = json.loads(lines[-1]) if lines else {}
    ok = p.returncode == 0 and result.get("correct")
    out = {"metrics": ({k: m["value"] for k, m in result["metrics"].items()}
                       if ok else None),
           "attempted": int(result.get("attempted", 1)),
           "failed": int(result.get("failed", 1))}
    return out, time.time() - t0


def quartiles(xs):
    if not xs:
        return None
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def pair_wins(parent, change, better):
    """The pairs the change won on one metric; None marks a failed run,
    which loses its pair."""
    sign = 1 if better == "lower" else -1
    return sum(1 for p, c in zip(parent, change)
               if c is not None and (p is None or sign * (p - c) > 0))


def verdict(parent, change, better, bound, may_gain):
    """(wins, verdict) of one metric over paired runs."""
    sign = 1 if better == "lower" else -1
    wins = pair_wins(parent, change, better)
    pq = quartiles([p for p in parent if p is not None])
    cq = quartiles([c for c in change if c is not None])
    if pq is None or cq is None:
        return wins, "no data"
    pq1, pmed, pq3 = pq
    gain = sign * (pmed - cq[1])
    good_p = [sign * p for p in parent if p is not None]
    good_c = [sign * c for c in change if c is not None]
    all_better = (len(good_c) == len(change) and max(good_c) < min(good_p))
    if may_gain and wins >= 0.9 * len(parent) and gain > pq3 - pq1:
        v = "gain"
    elif -gain > bound * abs(pmed):
        v = "regression"
    elif pq3 - pq1 > bound * abs(pmed) and not all_better:
        v = "unresolved"
    else:
        v = "within bound"
    return wins, v


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("parent_rev")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0,
                    help="1: traced runs, a per-layer report with no verdict")
    ap.add_argument("--seed0", type=int,
                    help="first seed (default: drawn at random)")
    ap.add_argument("--work", type=Path,
                    default=Path(tempfile.gettempdir()) / "perf_pairs")
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = spec["run_seconds"]
    sha = subprocess.run(["git", "-C", str(ROOT), "rev-parse", a.parent_rev],
                         check=True, stdout=subprocess.PIPE,
                         text=True).stdout.strip()
    parent_root = export(sha, a.work / f"parent-{sha[:12]}")
    sides = {"parent": (parent_root, parent_root / ".bench_build"),
             "change": (ROOT, ROOT / ".bench_build")}
    seed0 = a.seed0 if a.seed0 is not None else random.randrange(10000, 99999)
    log_path = a.work / f"pairs-{a.workload}-{seed0}.log"
    runs = {"parent": [], "change": []}
    try:
        with open(log_path, "w") as log:
            for i in range(a.pairs):
                seed = seed0 + i
                order = (["parent", "change"] if i % 2 == 0
                         else ["change", "parent"])
                for side in order:
                    root, build = sides[side]
                    got, wall = run(root, build, a.workload, seed, seconds,
                                    a.trace, log)
                    runs[side].append(got)
                    print(f"pair {i + 1}/{a.pairs} seed {seed} {side}: "
                          f"{'ok' if got['metrics'] else 'FAILED'} "
                          f"({wall:.0f} s)", file=sys.stderr, flush=True)
    finally:
        shutil.rmtree(parent_root, ignore_errors=True)

    print(f"{a.workload}: {a.pairs} pairs, seeds {seed0}..{seed0 + a.pairs - 1}"
          f", {seconds:g} s runs{', traced' if a.trace else ''}, parent "
          f"{sha[:12]}; log {log_path}")
    fails = {}
    for side, rs in runs.items():
        bad = sum(1 for r in rs if r["metrics"] is None)
        failed = sum(r["failed"] for r in rs)
        attempted = sum(r["attempted"] for r in rs)
        fails[side] = (bad, failed / max(1, attempted))
        print(f"{side}: {bad}/{len(rs)} failed runs, {failed}/{attempted} "
              f"failed operations")
    may_gain = (fails["change"][0] <= fails["parent"][0]
                and fails["change"][1] <= fails["parent"][1])
    if not may_gain and not a.trace:
        print("the change fails more than the parent: no gain is counted")
    print(f"{'metric':<28}{'parent q1/med/q3':>32}{'change q1/med/q3':>32}"
          f"{'wins':>7}{'' if a.trace else '  verdict'}")
    fmt = lambda q: "/".join(f"{x:.4g}" for x in q) if q else "-"
    for m in spec["per_layer" if a.trace else "end_to_end"]:
        k = m["name"]
        p = [r["metrics"].get(k) if r["metrics"] else None
             for r in runs["parent"]]
        c = [r["metrics"].get(k) if r["metrics"] else None
             for r in runs["change"]]
        if a.trace:
            wins, v = pair_wins(p, c, m["better"]), ""
        else:
            wins, v = verdict(p, c, m["better"], m["bound"], may_gain)
        print(f"{k:<28}{fmt(quartiles([x for x in p if x is not None])):>32}"
              f"{fmt(quartiles([x for x in c if x is not None])):>32}"
              f"{wins:>4}/{a.pairs}  {v}".rstrip())


if __name__ == "__main__":
    main()
