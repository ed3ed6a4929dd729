#!/usr/bin/env python3
"""Alternating parent/change benchmark pairs with the claim and bound verdicts.

Run from the repository root:

    python3 scripts/pairs.py --parent <rev> --workload <w> --seeds 2-11

For each seed it runs the benchmark command of BENCHMARK.json
(`perfbench/run.py --workload <w> --seed <s> --seconds <run_seconds>
--trace 0`) once in an export of `<rev>` and once in a snapshot of the
working tree, alternating the order: odd seeds run the parent first. Both
sides are sibling directories of one temporary directory (`parent/` and
`change/`), so they run from the same location and each builds its own
benchmark classpath from scratch on its first run: the parent is a
`git archive` of `<rev>` (the repository's own `.git` gains no worktree
entry), the change a copy of every tracked and untracked file that git
does not ignore (no `perfbench/.work`, no `target/`). Every run's last output line (the JSON
contract line) is kept, and with `--out <file>` appended to that file as
one JSON object per line.

For every `end_to_end` metric of BENCHMARK.json it then prints each side's
median and quartiles, the number of pairs the change wins, and two
verdicts:

  claim  the change wins at least 9 of every 10 pairs AND its median is
         better than the parent's by more than the parent's interquartile
         range;
  bound  the change's median is not worse than the parent's by more than
         the metric's relative bound.

Nothing under perfbench/ and nothing in BENCHMARK.json is written.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def quantile(xs, q):
    """Linear-interpolation quantile of a non-empty sample."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def verdict(parent, change, better, bound):
    """Compare paired samples of one metric (parent[i] pairs change[i]).

    Returns the medians, quartiles, wins and the two verdicts described in
    the module docstring. `better` is "lower" or "higher"; `bound` is the
    largest tolerated relative worsening of the median."""
    if len(parent) != len(change) or not parent:
        raise ValueError("verdict needs equal, non-empty paired samples")
    sign = 1.0 if better == "lower" else -1.0
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    pm, cm = quantile(parent, 0.5), quantile(change, 0.5)
    p_iqr = quantile(parent, 0.75) - quantile(parent, 0.25)
    gain = sign * (pm - cm)
    worse = -gain / abs(pm) if pm else (0.0 if gain >= 0 else math.inf)
    return {
        "n": len(parent),
        "parent": {"median": pm, "q1": quantile(parent, 0.25),
                   "q3": quantile(parent, 0.75)},
        "change": {"median": cm, "q1": quantile(change, 0.25),
                   "q3": quantile(change, 0.75)},
        "wins": wins,
        "claim_met": wins * 10 >= 9 * len(parent) and gain > p_iqr,
        "within_bound": worse <= bound,
    }


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        if "-" in part:
            a, b = part.split("-")
            seeds += range(int(a), int(b) + 1)
        else:
            seeds.append(int(part))
    return seeds


def run_once(cwd, command, workload, seed, seconds):
    """One benchmark run in `cwd`; returns its last output line as JSON."""
    args = command + ["--workload", workload, "--seed", str(seed),
                      "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(args, cwd=cwd, capture_output=True, text=True)
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        return {"correct": False, "attempted": 0, "failed": 0, "metrics": {},
                "error": f"exit {p.returncode}"}
    return json.loads(lines[-1])


def export(rev, into):
    """Write the tree of `rev` into the directory `into`."""
    archive = subprocess.run(["git", "archive", "--format=tar", rev],
                             cwd=ROOT, capture_output=True, check=True)
    subprocess.run(["tar", "-x", "-C", into], input=archive.stdout,
                   check=True)


def snapshot(root, into):
    """Copy the working tree of the repository at `root` into `into`:
    every tracked file that exists and every untracked file git does not
    ignore, so no build output or benchmark scratch comes along."""
    names = subprocess.run(
        ["git", "ls-files", "-z", "--cached", "--others", "--exclude-standard"],
        cwd=root, capture_output=True, check=True).stdout.split(b"\0")
    for name in sorted({n.decode() for n in names if n}):
        src = os.path.join(root, name)
        if os.path.isfile(src):
            dst = os.path.join(into, name)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copy2(src, dst)


def report(spec, runs):
    """Print the per-metric table and verdicts; return whether every bound
    holds."""
    ok = True
    for side in ("parent", "change"):
        rs = [r[side] for r in runs]
        print(f"{side}: correct {sum(r['correct'] for r in rs)}/{len(rs)}, "
              f"failed {sum(r['failed'] for r in rs)} of "
              f"{sum(r['attempted'] for r in rs)} attempted")
    for m in spec["end_to_end"]:
        name = m["name"]
        pairs = [(r["parent"]["metrics"].get(name),
                  r["change"]["metrics"].get(name)) for r in runs]
        pairs = [(p["value"], c["value"]) for p, c in pairs
                 if p is not None and c is not None]
        if not pairs:
            print(f"{name}: not reported")
            continue
        v = verdict([p for p, _ in pairs], [c for _, c in pairs],
                    m["better"], m["bound"])
        ok = ok and v["within_bound"]
        print(f"{name} ({m['unit']}, {m['better']} is better): "
              f"parent {v['parent']['median']:.4g} "
              f"[{v['parent']['q1']:.4g}, {v['parent']['q3']:.4g}]  "
              f"change {v['change']['median']:.4g} "
              f"[{v['change']['q1']:.4g}, {v['change']['q3']:.4g}]  "
              f"wins {v['wins']}/{v['n']}  "
              f"claim {'met' if v['claim_met'] else 'not met'}  "
              f"bound {'ok' if v['within_bound'] else 'EXCEEDED'}")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    tmp = tempfile.mkdtemp(prefix="pairs_")
    dirs = {side: os.path.join(tmp, side) for side in ("parent", "change")}
    runs = []
    try:
        for d in dirs.values():
            os.makedirs(d)
        export(args.parent, dirs["parent"])
        snapshot(ROOT, dirs["change"])
        for seed in parse_seeds(args.seeds):
            order = ["parent", "change"] if seed % 2 else ["change", "parent"]
            pair = {"seed": seed}
            for side in order:
                pair[side] = run_once(dirs[side], spec["command"],
                                      args.workload, seed,
                                      spec["run_seconds"])
            runs.append(pair)
            print(json.dumps(pair), flush=True)
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps(pair) + "\n")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    sys.exit(0 if report(spec, runs) else 1)


if __name__ == "__main__":
    main()
