#!/usr/bin/env python3
"""Alternating-pairs benchmark A/B: a parent commit against this tree.

    python3 tools/ab.py <parent-sha> <parent-dir> <workload> <seed> [<seed> ...]

Exports the parent commit into <parent-dir> with `git archive` (a directory
that already exists is used as it is), then runs, for each seed,

    python3 perfbench/run.py --workload W --seed N --seconds 15

once in each tree: the parent first on odd seeds, this tree first on even
seeds. Each tree builds and keeps its results in its own .bench_build/.
It then reads each tree's .bench_build/results/W-sN-t0.json and prints, for
every end-to-end metric of BENCHMARK.json, each side's median, q1 and q3,
the number of seeds on which the change was better, and a verdict:

    inside      the change's median is within the metric's bound of the parent's
    worse       it is not
    unresolved  either side's q3 - q1, as a share of its median, exceeds the
                bound, so these runs cannot tell (unless every change run
                is better than every parent run: then `inside`)

and, next to it, `gain` when the runs show a gain: the change is better on
at least nine tenths of the pairs (a tie counts for neither side) and the
medians differ, in the better direction, by more than the parent's q3 - q1.

Each side's operation counts (attempted, failed) and correct runs close the
report. The quartiles are `statistics.quantiles(n=4)`, as in
perfbench/spread.py.
"""
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SECONDS = "15"


def export(sha, dest):
    if os.path.isdir(dest):
        return
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", sha], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        sys.exit(f"git archive {sha} failed")


def run(tree, workload, seed):
    out = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", SECONDS],
        cwd=tree, capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(f"{tree} seed {seed} failed:\n{out.stderr[-2000:]}")
    path = os.path.join(tree, ".bench_build", "results", f"{workload}-s{seed}-t0.json")
    with open(path) as fh:
        return json.load(fh)


def main():
    if len(sys.argv) < 5:
        sys.exit(__doc__.split("\n\n")[1])
    sha, parent_dir, workload = sys.argv[1], os.path.abspath(sys.argv[2]), sys.argv[3]
    seeds = [int(s) for s in sys.argv[4:]]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    export(sha, parent_dir)
    trees = {"parent": parent_dir, "change": ROOT}
    recs = {"parent": [], "change": []}
    for seed in seeds:
        order = ["parent", "change"] if seed % 2 else ["change", "parent"]
        for side in order:
            rec = run(trees[side], workload, seed)
            recs[side].append(rec)
            print(f"seed {seed} {side}: correct={rec['correct']} failed={rec['failed']} " +
                  " ".join(f"{m['name']}={rec['metrics'][m['name']]:.4g}"
                           for m in spec["end_to_end"]), flush=True)

    report(spec, workload, seeds, recs)


def gain(parent, change, lower):
    """The change wins >= 9/10 of the pairs (ties count for neither side) and
    its median beats the parent's by more than the parent's q3 - q1."""
    wins = sum((c < p) if lower else (c > p) for p, c in zip(parent, change))
    q = statistics.quantiles(parent, n=4)
    diff = statistics.median(parent) - statistics.median(change)
    return 10 * wins >= 9 * len(parent) and (diff if lower else -diff) > q[2] - q[0]


def report(spec, workload, seeds, recs):
    print(f"\n{workload}, {len(seeds)} pairs (seeds {' '.join(map(str, seeds))})")
    print(f"{'metric':>18} {'parent q1/med/q3':>26} {'change q1/med/q3':>26}"
          f" {'change':>8} {'wins':>6}  verdict")
    for m in spec["end_to_end"]:
        name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
        xs = {s: [r["metrics"][name] for r in recs[s]] for s in recs}
        stats = {s: (statistics.quantiles(v, n=4), statistics.median(v)) for s, v in xs.items()}
        pm, cm = stats["parent"][1], stats["change"][1]
        better = lambda c, p: c < p if lower else c > p
        wins = sum(better(c, p) for p, c in zip(xs["parent"], xs["change"]))
        spreads = [(q[2] - q[0]) / med for q, med in stats.values()]
        rel = (cm - pm) / pm
        dominates = all(better(c, p) for c in xs["change"] for p in xs["parent"])
        if max(spreads) > bound and not dominates:
            verdict = f"unresolved (spread {max(spreads):.3f} > {bound})"
        elif (rel if lower else -rel) > bound:
            verdict = f"worse (bound {bound})"
        else:
            verdict = f"inside (bound {bound})"
        if gain(xs["parent"], xs["change"], lower):
            verdict += " gain"
        cols = " ".join(f"{stats[s][0][0]:>8.4g}/{stats[s][1]:<8.4g}/{stats[s][0][2]:<8.4g}"
                        for s in ("parent", "change"))
        print(f"{name:>18} {cols} {rel:>+8.1%} {wins:>3}/{len(seeds)}  {verdict}")
    for s in ("parent", "change"):
        print(f"{s}: attempted={sum(r['attempted'] for r in recs[s])} "
              f"failed={sum(r['failed'] for r in recs[s])} "
              f"correct runs={sum(bool(r['correct']) for r in recs[s])}/{len(seeds)}")


if __name__ == "__main__":
    main()
