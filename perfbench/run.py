#!/usr/bin/env python3
"""The repository benchmark: one command per workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. It builds the engine and the benchmark from
source (once per source state, into $CARGO_TARGET_DIR or .bench_build), makes
the workload's inputs from the seed, runs the workload in one JVM at
local[4], checks the outputs, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones; with --trace 1 the per-layer ones. Lines before it give
the environment record and further workload numbers. See perfbench/README.md.

Extra options, for the self-test: --size tiny (small inputs), --queries all
(the whole catalog), and --perturb schedule|seen|results|oracle
(corrupt one output before its check).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("crawl-bulk", "crawl-nightly", "analytics-sweep")
CORES = 4
HEAP = "3g"
JVM_TIMEOUT_S = 165
ANALYTICS_SF = 0.001
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
LAYER_MODULES = ("views", "sim", "text", "etl", "sources")
# The client compiler only. With the default tiered JIT, C2 compiler threads
# spend one to two times a query's own CPU recompiling Spark all through a
# run as short as this one, and how far they get varies from run to run.
# C1 code settles within the warm-up. A fixed set of compiler threads keeps
# their CPU readable from /proc (dynamic ones exit and take it with them).
JIT_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:-UseDynamicNumberOfCompilerThreads"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources_stamp():
    h = hashlib.sha256()
    files = []
    for top in ("src/main/scala", os.path.join(HERE, "src"), os.path.join(HERE, "test")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    for f in sorted(files) + [os.path.join(HERE, "build.sh")]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("run.py: set SPARK_HOME; build.sbt names no unmanagedBase")
    return m.group(1)


def build():
    """Compile once per source state; returns the class directory."""
    if not os.path.isdir("src/main/scala/graft"):
        raise SystemExit("run.py: no engine sources (src/main/scala/graft) under the current directory")
    target = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    classes = os.path.join(target, "perfbench-classes")
    stamp_file = classes + ".stamp"
    stamp = sources_stamp()
    if os.path.isdir(classes) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    log(f"[bench] building into {classes}")
    os.makedirs(target, exist_ok=True)
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), classes, spark_jars()], stdout=sys.stderr)
    if r.returncode != 0:
        raise SystemExit("run.py: build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def catalog_modules(path):
    """query name -> engine module, from the first module object each catalog
    entry calls (objects are found by scanning src/main/scala/graft/<module>)."""
    objects = {}
    for m in LAYER_MODULES:
        d = os.path.join("src/main/scala/graft", m)
        for f in sorted(os.listdir(d)) if os.path.isdir(d) else []:
            with open(os.path.join(d, f)) as fh:
                for o in re.findall(r"^object (\w+)", fh.read(), re.M):
                    objects[o] = m
    with open(path) as f:
        src = f.read()
    starts = [(m.start(), m.group(1)) for m in re.finditer(r'^\s*"(q\d+\w*)"\s*->\s*Entry\(', src, re.M)]
    out = {}
    for i, (pos, name) in enumerate(starts):
        body = src[pos:starts[i + 1][0] if i + 1 < len(starts) else len(src)]
        module = "other"
        for tok in re.finditer(r"graft\.(\w+)\.|\b([A-Z]\w*)\.", body):
            if tok.group(1) in LAYER_MODULES:
                module = tok.group(1)
                break
            if tok.group(2) in objects:
                module = objects[tok.group(2)]
                break
        out[name] = module
    return out


def run_jvm(classes, args, work, result):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData"] + JIT_FLAGS
           + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{spark_jars()}/*", "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--work", work, "--result", result,
              "--size", args.size, "--perturb", args.perturb]
           + args.extra)
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=JVM_TIMEOUT_S if args.queries == "sample" else 3600)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit("run.py: the benchmark JVM timed out")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--size", default="normal", choices=("normal", "tiny"))
    ap.add_argument("--queries", default="sample", choices=("sample", "all"))
    ap.add_argument("--perturb", default="none", choices=("none", "schedule", "seen", "results", "oracle"))
    args = ap.parse_args()
    args.extra = []
    if CORES > (os.cpu_count() or 1):
        raise SystemExit(f"run.py: refusing local[{CORES}]: this machine has {os.cpu_count()} processors")

    classes = build()
    work = os.path.abspath(os.path.join(".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if args.workload == "analytics-sweep":
            import gen_tables
            sources = os.path.join(work, "sources")
            gen_tables.generate(sources, args.seed, ANALYTICS_SF)
            modules = os.path.join(work, "modules.tsv")
            with open(modules, "w") as f:
                for q, m in catalog_modules("src/main/scala/graft/Catalog.scala").items():
                    f.write(f"{q}\t{m}\n")
            args.extra = ["--sources", sources, "--modules", modules, "--queries", args.queries]
        result = os.path.join(work, "result.json")
        t0 = time.time()
        rc = run_jvm(classes, args, work, result)
        log(f"[bench] engine run: {time.time() - t0:.1f} s")
        if rc != 0 or not os.path.exists(result):
            raise SystemExit(f"run.py: the benchmark JVM failed (exit {rc})")
        with open(result) as f:
            res = json.load(f)
        if args.workload == "analytics-sweep":
            import oracle
            checked, failures = oracle.replay(os.path.join(work, "sources"), os.path.join(work, "outputs"),
                                              os.path.join(work, "oracle_sql.json"),
                                              perturb=args.perturb == "oracle")
            log(f"[bench] oracle replay: {time.time() - t0:.1f} s")
            res["attempted"] += checked
            res["failed"] += len(failures)
            res["failures"] += [f"oracle replay: {x}" for x in failures]
        env = dict(res["env"], workload=args.workload, seed=args.seed, trace=args.trace,
                   wall_s=round(time.time() - t0, 3))
        print("[bench-env] " + json.dumps(env))
        for k, v in res["infos"].items():
            print(f"[bench] {k} = {v['value']} {v['unit']}")
        for x in res["failures"]:
            print(f"[bench] FAILED {x}")
        if args.trace:
            spans = [f for f in os.listdir(work) if f.startswith("spans-")]
            os.makedirs(os.path.join(".bench_work", "traces"), exist_ok=True)
            for f in spans:
                shutil.copy(os.path.join(work, f), os.path.join(".bench_work", "traces", f))
        metrics = res["layers"] if args.trace else res["metrics"]
        print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
