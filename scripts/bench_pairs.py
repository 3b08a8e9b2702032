#!/usr/bin/env python3
"""Interleaved parent/change pairs of one benchmark workload.

Usage, from the repository root:

    python3 scripts/bench_pairs.py --parent <commit> --workload stream_backfill \\
        --seeds 1-10 --seconds 12 [--parent-dir DIR] [--out FILE]

Exports the parent commit with `git archive` into --parent-dir (default: a
directory named after the commit under the system temp dir; an export of the
same commit is reused), so the parent builds from its committed files only
and the repository's git metadata is untouched. For each seed it then runs

    python3 e2ebench/run.py --workload W --seed S --seconds N --trace 0

once in the parent checkout and once in the working tree, one after the
other, alternating which side runs first. Each checkout builds its own engine
on its first run. Runs are sequential: a pair shares the host, so host-speed
drift cancels within it.

Prints, per end-to-end metric of BENCHMARK.json: the parent and change
medians, each side's IQR/median, and the change's wins (the pairs where the
change is better in the metric's direction). Then it lists every run that
failed (no result line) or was not correct (`correct` false or `failed` > 0).
With --out, every run's result is also written there as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_of(spec):
    """'1-10' or '1,3,5' (or a mix) -> list of ints."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def export_parent(commit, parent_dir):
    """Extracts `commit` into `parent_dir` unless it already holds it."""
    sha = subprocess.run(["git", "rev-parse", "--verify", commit + "^{commit}"], cwd=ROOT,
                         check=True, stdout=subprocess.PIPE, text=True).stdout.strip()
    stamp = os.path.join(parent_dir, ".bench_pairs_commit")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == sha:
                return sha
        sys.exit(f"{parent_dir} holds another export; pass an empty --parent-dir")
    if os.path.isdir(parent_dir) and os.listdir(parent_dir):
        sys.exit(f"{parent_dir} is not empty; pass an empty --parent-dir")
    os.makedirs(parent_dir, exist_ok=True)
    archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", parent_dir], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"git archive {sha} failed")
    with open(stamp, "w") as f:
        f.write(sha + "\n")
    return sha


def run_one(checkout, workload, seed, seconds):
    """One untraced run; returns its result object, or None when it failed."""
    cmd = [sys.executable, "e2ebench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith('{"correct"')]
    if p.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def spread(vals):
    """IQR over median (inclusive quartiles)."""
    if len(vals) < 2:
        return float("nan")
    q1, med, q3 = statistics.quantiles(vals, n=4, method="inclusive")
    return (q3 - q1) / med if med else float("nan")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="the parent commit")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10")
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--parent-dir", help="where to export the parent commit")
    ap.add_argument("--out", help="write every run's result here as JSON")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        end_to_end = json.load(f)["end_to_end"]
    parent_dir = a.parent_dir or os.path.join(
        tempfile.gettempdir(), "bench_pairs-" + a.parent.replace("/", "_"))
    sha = export_parent(a.parent, os.path.abspath(parent_dir))
    sides = {"parent": os.path.abspath(parent_dir), "change": ROOT}

    runs = []  # (seed, side, order, result or None)
    for i, seed in enumerate(seeds_of(a.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for k, side in enumerate(order):
            res = run_one(sides[side], a.workload, seed, a.seconds)
            runs.append((seed, side, k, res))
            tp = (res or {}).get("metrics", {}).get("throughput_per_s", {}).get("value")
            print(f"[bench_pairs] seed {seed} {side} ({'first' if k == 0 else 'second'}): "
                  + ("FAILED" if res is None else f"correct={res['correct']} failed={res['failed']}"
                     + (f" throughput_per_s={tp:.0f}" if tp is not None else "")),
                  file=sys.stderr, flush=True)

    if a.out:
        with open(a.out, "w") as f:
            json.dump({"parent": sha, "workload": a.workload, "seconds": a.seconds,
                       "runs": [{"seed": s, "side": side, "order": k, "result": r}
                                for s, side, k, r in runs]}, f, indent=1)

    by = {(s, side): r for s, side, _, r in runs}
    seeds = seeds_of(a.seeds)
    print(f"{a.workload}: parent {sha[:10]} vs working tree, seeds {a.seeds}, --seconds {a.seconds}")
    print(f"{'metric':<18} {'parent med':>12} {'change med':>12} {'delta':>8} "
          f"{'IQR/med p':>10} {'IQR/med c':>10} {'wins':>7}")
    for m in end_to_end:
        name, higher = m["name"], m["better"] == "higher"
        val = lambda r: (r or {}).get("metrics", {}).get(name, {}).get("value")
        pv = [v for s in seeds if (v := val(by[(s, "parent")])) is not None]
        cv = [v for s in seeds if (v := val(by[(s, "change")])) is not None]
        if not pv or not cv:
            print(f"{name:<18} (not reported)")
            continue
        pairs = [(val(by[(s, "parent")]), val(by[(s, "change")])) for s in seeds]
        pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
        wins = sum(1 for p, c in pairs if (c > p if higher else c < p))
        pm, cm = statistics.median(pv), statistics.median(cv)
        delta = (cm - pm) / pm if pm else float("nan")
        print(f"{name:<18} {pm:>12.4g} {cm:>12.4g} {delta:>+8.1%} "
              f"{spread(pv):>10.3f} {spread(cv):>10.3f} {wins:>4}/{len(pairs):<2}")
    bad = [(s, side, r) for s, side, _, r in runs
           if r is None or not r.get("correct") or r.get("failed", 0) > 0]
    for s, side, r in bad:
        print(f"seed {s} {side}: " + ("no result (run failed)" if r is None
                                      else f"correct={r['correct']} failed={r['failed']}"))
    if not bad:
        print("every run correct, 0 failed")


if __name__ == "__main__":
    main()
