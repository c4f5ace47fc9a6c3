#!/usr/bin/env python3
"""Self-test of the benchmark, at tiny input sizes. Run from the repository
root:

    python3 perfbench/selftest.py [--quick]

1. q22's executed plan under the timed noop form still computes md5 and sha2.
2. Every workload passes its output checks on two seeds.
3. Each check fails when its output is perturbed: the crawl schedule, the
   URL-seen set, the results rows, and one query output against its oracle.
4. The full catalog (all queries, every DuckDB oracle) passes once
   (skipped with --quick).
5. A run in a directory without the engine's sources exits non-zero without
   a result.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_tables  # noqa: E402
import run  # noqa: E402

RUN = [sys.executable, os.path.join(HERE, "run.py")]
failures = []


def bench(workload, seed, *extra):
    p = subprocess.run(RUN + ["--workload", workload, "--seed", str(seed), "--seconds", "1",
                              "--trace", "0", "--size", "tiny", *extra],
                       capture_output=True, text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    try:
        return p.returncode, json.loads(last), p.stdout
    except ValueError:
        return p.returncode, None, p.stdout + p.stderr[-2000:]


def expect(name, ok, detail=""):
    print(f"[selftest] {'PASS' if ok else 'FAIL'} {name}", flush=True)
    if not ok:
        failures.append(name)
        if detail:
            print(detail[-3000:], flush=True)


def main():
    quick = "--quick" in sys.argv
    classes = run.build()

    # 1. the q22 plan test
    tables = os.path.abspath(os.path.join(".bench_work", "selftest-tables"))
    gen_tables.generate(tables, 1, run.ANALYTICS_SF)
    opens = [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    p = subprocess.run(["java", "-Xmx1g", "-XX:-UsePerfData"] + opens +
                       ["-cp", f"{classes}{os.pathsep}{run.spark_jars()}/*", "perfbench.test.Q22PlanTest", tables],
                       capture_output=True, text=True)
    expect("q22 timed plan computes md5 and sha2", p.returncode == 0, p.stdout + p.stderr[-2000:])
    shutil.rmtree(tables, ignore_errors=True)

    # 2. every workload, two seeds
    for w in run.WORKLOADS:
        for seed in (11, 12):
            rc, res, out = bench(w, seed)
            expect(f"{w} seed {seed} passes its checks",
                   rc == 0 and res is not None and res["correct"] and res["failed"] == 0, out)

    # 3. each check catches a perturbed output
    for perturb, check in (("schedule", "crawl order parity"), ("seen", "url_seen set"),
                           ("results", "results rows = frontier rows")):
        rc, res, out = bench("crawl-nightly", 11, "--perturb", perturb)
        expect(f"perturbed {perturb} fails '{check}'",
               rc == 0 and res is not None and not res["correct"] and f"check failed: {check}" in out, out)
    rc, res, out = bench("analytics-sweep", 11, "--perturb", "oracle")
    expect("perturbed query output fails the oracle replay",
           rc == 0 and res is not None and not res["correct"] and "oracle replay" in out, out)

    # 4. the whole catalog against every oracle
    if not quick:
        rc, res, out = bench("analytics-sweep", 11, "--queries", "all")
        expect("full catalog passes every DuckDB oracle",
               rc == 0 and res is not None and res["correct"], out)

    # 5. a bare benchmark directory is refused
    bare = os.path.abspath(os.path.join(".bench_work", "selftest-bare"))
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, os.path.basename(HERE)),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy("BENCHMARK.json", bare)
    p = subprocess.run([sys.executable, os.path.join(os.path.basename(HERE), "run.py"), "--workload",
                        "crawl-bulk", "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=bare, capture_output=True, text=True, timeout=180)
    expect("a directory without the engine's sources exits non-zero without a result",
           p.returncode != 0 and '"correct"' not in p.stdout, p.stdout + p.stderr)
    shutil.rmtree(bare, ignore_errors=True)

    print(f"[selftest] {'all passed' if not failures else 'FAILED: ' + '; '.join(failures)}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
