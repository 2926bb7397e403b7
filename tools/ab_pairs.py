#!/usr/bin/env python3
"""A/B pairs of perfbench runs: a parent git revision against the
working tree, alternating which side runs first.

    python3 tools/ab_pairs.py --parent HEAD~1 --workload cdc \
        --seeds 81-90 [--seconds 15] [--trace 0] [--scratch DIR] [--out FILE]

Run from anywhere inside the repository. The parent revision is
`git archive`d into <scratch>/parent-<sha> (reused when already there);
the change side is the repository's working tree as it stands. For
seed i of the list, pair i runs `perfbench/run.py` once on each side
with that seed, the parent first on even-numbered pairs and the change
first on odd ones, so slow drift of the host does not favour one side.
Never run it beside another benchmark or sbt: they share the cores.

Output: one JSON line per run (side, seed, exit code, correct,
failed/attempted operations, metrics), then one summary table per
metric of the scored line: each side's median and quartiles (the
inclusive method), the parent's quartile spread (Q3 - Q1), and how many
pairs the change won, lost and tied on the metric's "better" direction
from BENCHMARK.json. A gain is "claimable" only when the change wins at
least nine tenths of the pairs and its median differs from the
parent's by more than the parent's quartile spread; otherwise the
verdict reads "unresolved" (or "worse" when the same rule holds the
other way). --out also writes all of it as one JSON document.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def sh(args, cwd):
    return subprocess.run(args, cwd=cwd, check=True, stdout=subprocess.PIPE, text=True).stdout.strip()


def parse_seeds(spec):
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += list(range(int(lo), int(hi) + 1)) if hi else [int(lo)]
    return seeds


def archive(root, rev, scratch):
    """The parent revision as a plain tree under scratch."""
    sha = sh(["git", "rev-parse", "--verify", f"{rev}^{{commit}}"], root)
    dest = os.path.join(scratch, f"parent-{sha[:12]}")
    if not os.path.isdir(dest):
        tmp = f"{dest}.tmp{os.getpid()}"
        os.makedirs(tmp)
        tar = subprocess.Popen(["git", "archive", sha], cwd=root, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", tmp], stdin=tar.stdout, check=True)
        if tar.wait() != 0:
            sys.exit(f"git archive {sha} failed")
        os.rename(tmp, dest)
    return sha, dest


def run_side(side, tree, args, seed):
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace)]
    p = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        scored = json.loads(lines[-1])
    except (IndexError, ValueError):
        scored = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    rec = {"side": side, "seed": seed, "exit": p.returncode, "correct": scored.get("correct"),
           "failed": scored.get("failed"), "attempted": scored.get("attempted"),
           "metrics": {k: v["value"] for k, v in scored.get("metrics", {}).items()}}
    if p.returncode != 0:
        rec["stderr_tail"] = p.stderr[-600:]
    print(json.dumps(rec), flush=True)
    return rec


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(runs, seeds, spec, trace):
    better = {m["name"]: m["better"] for m in spec["per_layer" if trace else "end_to_end"]}
    out = {}
    for name, direction in better.items():
        pairs = []
        for s in seeds:
            got = {r["side"]: r["metrics"].get(name) for r in runs if r["seed"] == s}
            if got.get("parent") is not None and got.get("change") is not None:
                pairs.append((got["parent"], got["change"]))
        if not pairs:
            continue
        sign = 1 if direction == "higher" else -1
        wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
        losses = sum(1 for p, c in pairs if sign * (c - p) < 0)
        pq = quartiles([p for p, _ in pairs])
        cq = quartiles([c for _, c in pairs])
        spread = pq[2] - pq[0]
        gap = cq[1] - pq[1]
        if wins >= 0.9 * len(pairs) and abs(gap) > spread and sign * gap > 0:
            verdict = "claimable"
        elif losses >= 0.9 * len(pairs) and abs(gap) > spread and sign * gap < 0:
            verdict = "worse"
        else:
            verdict = "unresolved"
        out[name] = {"better": direction, "pairs": len(pairs), "change_wins": wins,
                     "change_losses": losses, "ties": len(pairs) - wins - losses,
                     "parent_median": pq[1], "parent_q1": pq[0], "parent_q3": pq[2],
                     "parent_spread": spread, "change_median": cq[1], "change_q1": cq[0],
                     "change_q3": cq[2], "median_gap": gap,
                     "gap_pct": 100.0 * gap / pq[1] if pq[1] else None, "verdict": verdict}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="git revision of the parent side")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 81-90 or 81,83,85")
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scratch", default=os.path.join(os.environ.get("TMPDIR", "/tmp"), "ab_pairs"),
                    help="where the parent tree is unpacked")
    ap.add_argument("--out", help="also write runs and summary here as JSON")
    args = ap.parse_args()

    root = sh(["git", "rev-parse", "--show-toplevel"], os.getcwd())
    sha, parent = archive(root, args.parent, args.scratch)
    seeds = parse_seeds(args.seeds)
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    print(json.dumps({"parent": sha, "parent_tree": parent, "change_tree": root,
                      "workload": args.workload, "seeds": seeds, "seconds": args.seconds,
                      "trace": args.trace}), flush=True)

    runs = []
    for i, seed in enumerate(seeds):
        sides = [("parent", parent), ("change", root)]
        for side, tree in (sides if i % 2 == 0 else sides[::-1]):
            runs.append(run_side(side, tree, args, seed))

    summary = summarize(runs, seeds, spec, args.trace)
    for side in ("parent", "change"):
        rs = [r for r in runs if r["side"] == side]
        print(f"{side}: {sum(1 for r in rs if r['correct'])}/{len(rs)} runs correct, "
              f"{sum(r['failed'] or 0 for r in rs)} failed of "
              f"{sum(r['attempted'] or 0 for r in rs)} operations")
    print(f"{'metric':<28}{'parent med [q1,q3]':>30}{'change med [q1,q3]':>30}"
          f"{'gap %':>8}{'spread':>10}{'W/L/T':>9}  verdict")
    for name, m in summary.items():
        fmt = lambda q: f"{m[q + '_median']:.4g} [{m[q + '_q1']:.4g},{m[q + '_q3']:.4g}]"
        pct = f"{m['gap_pct']:+.1f}" if m["gap_pct"] is not None else "-"
        print(f"{name:<28}{fmt('parent'):>30}{fmt('change'):>30}{pct:>8}"
              f"{m['parent_spread']:>10.4g}"
              f"{str(m['change_wins']) + '/' + str(m['change_losses']) + '/' + str(m['ties']):>9}"
              f"  {m['verdict']}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"parent": sha, "workload": args.workload, "seeds": seeds,
                       "runs": runs, "summary": summary}, f, indent=1)


if __name__ == "__main__":
    main()
