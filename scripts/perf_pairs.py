#!/usr/bin/env python3
"""Parent/change pairs of the repository benchmark, and their summary.

    python3 scripts/perf_pairs.py --parent DIR --change DIR \
        --workload crawl-nightly --seeds 3101-3110 [--seconds 5] \
        [--build-root DIR] [--out runs.jsonl]

DIR are two checkouts of the repository (say, the parent commit cloned into
its own directory, and the working tree). For each seed, one pair: the same
`perfbench/run.py --trace 0` run in each checkout, one JVM at a time, the
parent first on even pairs (0, 2, ...) and the change first on odd ones.
Each side builds into its own directory under --build-root (passed to
run.py as CARGO_TARGET_DIR), so the two trees never share compiled classes.

Prints one line per run (its host steal_pct from run.py's environment
record, correct, failed), then for every end-to-end metric that
BENCHMARK.json names: the median (IQR) of each side, the change in the
median, and how many pairs the change won. Run nothing else meanwhile:
compiles and tests move the CPU figures.
"""
import argparse
import json
import os
import subprocess
import sys


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi) + 1)) if hi else [int(lo)]
    return out


def quantile(xs, q):
    s = sorted(xs)
    pos = (len(s) - 1) * q
    i = int(pos)
    return s[i] if i + 1 >= len(s) else s[i] + (s[i + 1] - s[i]) * (pos - i)


def run_once(checkout, build, workload, seed, seconds):
    env = dict(os.environ, CARGO_TARGET_DIR=build)
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    bench_env = next((json.loads(l[len("[bench-env] "):]) for l in lines
                      if l.startswith("[bench-env] ")), {})
    try:
        last = json.loads(lines[-1])
    except (IndexError, ValueError):
        last = {"correct": False, "failed": -1, "metrics": {}}
    return {"seed": seed, "exit": p.returncode, "steal_pct": bench_env.get("steal_pct"),
            "correct": last.get("correct"), "failed": last.get("failed"),
            "metrics": {k: v["value"] for k, v in last.get("metrics", {}).items()}}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 3101-3110 or 1,5,9")
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--build-root", default=None,
                    help="where each side's build directory goes (default: beside the parent checkout)")
    ap.add_argument("--out", default=None, help="append every run as one JSON line here")
    a = ap.parse_args()
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    root = os.path.abspath(a.build_root or os.path.join(sides["parent"], os.pardir))
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
        gated = json.load(f)["end_to_end"]

    runs = {"parent": [], "change": []}
    for i, seed in enumerate(seeds_of(a.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run_once(sides[side], os.path.join(root, f"build_{side}"), a.workload, seed, a.seconds)
            r.update(pair=i, side=side, workload=a.workload)
            runs[side].append(r)
            print(f"pair {i} seed {seed} {side:6s} steal_pct {r['steal_pct']} correct {r['correct']} "
                  f"failed {r['failed']} " + " ".join(f"{m['name']} {r['metrics'].get(m['name'])}" for m in gated),
                  flush=True)
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps(r) + "\n")

    print(f"\n| workload | metric | parent | change | Δ median | won |\n|---|---|---|---|---|---|")
    for m in gated:
        name = m["name"]
        pairs = [(p["metrics"].get(name), c["metrics"].get(name)) for p, c in zip(runs["parent"], runs["change"])]
        pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
        if not pairs:
            continue
        ps, cs = [p for p, _ in pairs], [c for _, c in pairs]
        mp, mc = quantile(ps, 0.5), quantile(cs, 0.5)
        iqr = lambda xs: quantile(xs, 0.75) - quantile(xs, 0.25)
        won = sum((c < p) if m["better"] == "lower" else (c > p) for p, c in pairs)
        delta = f"{(mc - mp) / mp * 100:+.1f}%" if mp else "n/a"
        print(f"| {a.workload} | `{name}` | {mp:.4g} ({iqr(ps):.3g}) {m['unit']} | "
              f"{mc:.4g} ({iqr(cs):.3g}) {m['unit']} | {delta} | {won}/{len(pairs)} |")


if __name__ == "__main__":
    main()
