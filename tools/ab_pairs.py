#!/usr/bin/env python3
"""Same-window A/B of the working tree against a parent commit on perfbench.

    python3 tools/ab_pairs.py PARENT [--pairs 10] [--workloads etl,search]
        [--seed0 500] [--out FILE]

Run from the repository root. Checks PARENT out into a detached `git worktree`
under /tmp, then runs `perfbench/run.py --trace 0` for BENCHMARK.json's
`run_seconds` in alternating pairs: pair i runs both sides on seed seed0 + i,
the parent first on even pairs and the working tree first on odd ones. Each
side builds and runs its own perfbench from its own checkout; this script only
reads `perfbench/` and `BENCHMARK.json`.

For every workload and end-to-end metric it prints each side's median and
quartiles and the pairs the working tree won (ties count for neither). A gain
holds when the tree wins at least 9/10 of the pairs, the medians differ, in
the better direction, by more than the parent's interquartile range, and the
tree failed no more operations than the parent.

It also prints a no-regression verdict per metric against the metric's
`bound` in BENCHMARK.json (a fraction of the parent's median): `worse` when
the tree's median is worse than the parent's by more than the bound,
`unresolved` when the parent's own spread (IQR / median) exceeds the bound
and not every tree run beats every parent run, `ok` otherwise.
"""
import argparse
import atexit
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def benchmark():
    """BENCHMARK.json's run length and the (name, better, bound) of every
    end-to-end metric it declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return b["run_seconds"], [(m["name"], m["better"], m["bound"])
                              for m in b["end_to_end"]]


def quartiles(xs):
    """(q1, median, q3) of a non-empty sample."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(parent, change, better, parent_failed=0, change_failed=0):
    """Compare paired samples of one metric: wins, medians, IQRs, and
    whether the gain rule holds (it never does when the change failed more
    operations than the parent)."""
    sign = 1.0 if better == "lower" else -1.0
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    pq, cq = quartiles(parent), quartiles(change)
    gain = sign * (pq[1] - cq[1])
    return {
        "parent": pq, "change": cq, "wins": wins, "pairs": len(parent),
        "holds": (wins >= 0.9 * len(parent) and gain > pq[2] - pq[0]
                  and change_failed <= parent_failed),
    }


def regression(parent, change, better, bound):
    """No-regression verdict of one metric: 'worse', 'unresolved' or 'ok'."""
    sign = 1.0 if better == "lower" else -1.0
    pq, cq = quartiles(parent), quartiles(change)
    if sign * (cq[1] - pq[1]) > bound * abs(pq[1]):
        return "worse"
    all_better = all(sign * (p - c) > 0 for p in parent for c in change)
    if pq[2] - pq[0] > bound * abs(pq[1]) and not all_better:
        return "unresolved"
    return "ok"


def run_side(tree, workload, seed, seconds):
    """One perfbench run; its result object (the last stdout line)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE)
    lines = r.stdout.decode(errors="replace").strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr.decode(errors="replace")[-3000:])
        raise SystemExit(f"ab_pairs: {workload} seed {seed} failed in {tree}")
    return json.loads(lines[-1])


def parent_checkout(commit):
    """The parent's tree: a detached worktree, removed at exit."""
    tree = tempfile.mkdtemp(prefix="ab-parent-", dir="/tmp")
    os.rmdir(tree)
    subprocess.run(["git", "worktree", "add", "--detach", tree, commit], cwd=ROOT,
                   check=True, stdout=subprocess.DEVNULL)

    def cleanup():
        subprocess.run(["git", "worktree", "remove", "--force", tree], cwd=ROOT,
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        shutil.rmtree(tree, ignore_errors=True)
    atexit.register(cleanup)
    return tree


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads", default="etl")
    ap.add_argument("--seed0", type=int, default=500)
    ap.add_argument("--out")
    a = ap.parse_args(argv)
    seconds, metrics = benchmark()
    parent_tree = parent_checkout(a.parent)
    runs = {}
    for w in a.workloads.split(","):
        runs[w] = {"parent": [], "change": [], "seeds": []}
        for i in range(a.pairs):
            seed = a.seed0 + i
            sides = [("parent", parent_tree), ("change", ROOT)]
            for side, tree in (sides if i % 2 == 0 else sides[::-1]):
                res = run_side(tree, w, seed, seconds)
                runs[w][side].append(res)
                p50 = res["metrics"]["p50_ms"]["value"]
                print(f"{w} pair {i} seed {seed} {side}: p50_ms {p50:.0f} failed {res['failed']}",
                      file=sys.stderr, flush=True)
            runs[w]["seeds"].append(seed)
    summary = {}
    for w, r in runs.items():
        failed = {s: sum(x["failed"] for x in r[s]) for s in ("parent", "change")}
        summary[w] = {"failed": failed}
        print(f"\n{w}: {a.pairs} pairs, seeds {r['seeds'][0]}..{r['seeds'][-1]}, "
              f"failed parent {failed['parent']} change {failed['change']}")
        print(f"  {'metric':<10} {'parent median [q1, q3]':>30} {'change median [q1, q3]':>30}"
              f" {'wins':>6}  gain   no-regression")
        for name, better, bound in metrics:
            parent = [x["metrics"][name]["value"] for x in r["parent"]]
            change = [x["metrics"][name]["value"] for x in r["change"]]
            v = verdict(parent, change, better, failed["parent"], failed["change"])
            v["regression"] = regression(parent, change, better, bound)
            summary[w][name] = v
            fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
            print(f"  {name:<10} {fmt(v['parent']):>30} {fmt(v['change']):>30}"
                  f" {v['wins']:>3}/{v['pairs']:<2}  {'holds' if v['holds'] else '-':<6}"
                  f" {v['regression']} (bound {bound:g})")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"summary": summary, "runs": runs}, f, indent=1)


if __name__ == "__main__":
    main()
