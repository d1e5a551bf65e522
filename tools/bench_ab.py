#!/usr/bin/env python3
"""Same-window A/B of perfbench: a base revision against the checkout.

    python3 tools/bench_ab.py --base <rev> --seeds 11,12,13 \
        [--workload interactive] [--seconds 8] [--dir <path>] [--keep]

Extracts `<rev>` (default `HEAD~1`) with `git archive` into a scratch
directory (`--dir`, default a new temporary directory), then for each
seed runs `perfbench/run.py --trace 0` once in the base copy and once in
this checkout. The side that runs first alternates from pair to pair, so
a slow or fast window of the host falls on both sides alike. Each run
builds from its own sources.

It prints, for every end-to-end metric, the per-run values of both sides,
their median and quartiles, and how many pairs the checkout won (the
direction comes from `BENCHMARK.json`). A gain is claimable when the
checkout wins at least 9 of 10 pairs and the medians differ by more than
the base side's interquartile range; the last column says whether both
hold. Standard library only; run from the root of a checkout.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def extract(rev, dest):
    """Write the tree of `rev` into `dest` (no .git, no worktree entry)."""
    os.makedirs(dest, exist_ok=True)
    archive = subprocess.run(["git", "-C", ROOT, "archive", "--format=tar", rev],
                             check=True, stdout=subprocess.PIPE).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run(checkout, workload, seed, seconds):
    """One perfbench run; its final JSON record, or None when it failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        print(f"  {checkout} seed {seed}: no result (exit {p.returncode})",
              file=sys.stderr)
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def directions():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m.get("better", "lower") for m in spec["end_to_end"]}


def report(pairs, better):
    names = sorted({n for b, c in pairs for n in b["metrics"]} &
                   {n for b, c in pairs for n in c["metrics"]})
    for name in names:
        ok = [(b["metrics"][name]["value"], c["metrics"][name]["value"])
              for b, c in pairs if name in b["metrics"] and name in c["metrics"]]
        base = [x for x, _ in ok]
        change = [y for _, y in ok]
        lower = better.get(name, "lower") == "lower"
        won = sum(1 for x, y in ok if (y < x if lower else y > x))
        mb, mc = statistics.median(base), statistics.median(change)
        q1, q3 = quartiles(base)
        c1, c3 = quartiles(change)
        gain = (mc < mb if lower else mc > mb)
        claim = won >= 0.9 * len(ok) and gain and abs(mc - mb) > (q3 - q1)
        print(f"{name} ({'lower' if lower else 'higher'} is better)")
        print(f"  base   {[round(v, 4) for v in base]}")
        print(f"  change {[round(v, 4) for v in change]}")
        print(f"  base   median {mb:.4f}  quartiles [{q1:.4f}, {q3:.4f}]")
        print(f"  change median {mc:.4f}  quartiles [{c1:.4f}, {c3:.4f}]")
        rel = (mc - mb) / mb * 100 if mb else float("nan")
        print(f"  change won {won}/{len(ok)} pairs; median {rel:+.1f} %; "
              f"claimable: {'yes' if claim else 'no'}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", default="HEAD~1", help="revision to compare against")
    ap.add_argument("--seeds", default="11,12,13,14,15,16,17,18,19,20",
                    help="comma-separated perfbench seeds, one pair each")
    ap.add_argument("--workload", default="interactive")
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--dir", help="where to extract the base revision")
    ap.add_argument("--keep", action="store_true",
                    help="keep the extracted base copy")
    a = ap.parse_args()
    seeds = [int(s) for s in a.seeds.split(",") if s]
    base_dir = a.dir or tempfile.mkdtemp(prefix="bench_ab_")
    extract(a.base, base_dir)
    print(f"base {a.base} in {base_dir}; change = {ROOT}; "
          f"workload {a.workload}; seeds {seeds}", file=sys.stderr)
    pairs = []
    try:
        for i, seed in enumerate(seeds):
            sides = [("base", base_dir), ("change", ROOT)]
            if i % 2:
                sides.reverse()
            got = {}
            for side, checkout in sides:
                got[side] = run(checkout, a.workload, seed, a.seconds)
                r = got[side]
                print(f"  pair {i + 1} seed {seed} {side}: " +
                      ("failed" if r is None else
                       f"correct={r.get('correct')} failed={r.get('failed')}"),
                      file=sys.stderr)
            if got["base"] is not None and got["change"] is not None:
                pairs.append((got["base"], got["change"]))
    finally:
        if not a.keep:
            shutil.rmtree(base_dir, ignore_errors=True)
    if not pairs:
        sys.exit("bench_ab: no pair completed")
    print(f"{a.workload}: {len(pairs)} pairs, alternated order")
    report(pairs, directions())


if __name__ == "__main__":
    main()
