#!/usr/bin/env python3
"""graft benchmark: one workload per run, in one JVM.

    python3 perfbench/run.py --workload etl_flow|queries \
        --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. It compiles graft's sources and the
harness in perfbench/harness with the Scala compiler in the Spark jars
(again only when their sources change), generates the workload's inputs
from the seed, runs the harness JVM, checks the outputs, and prints one
JSON line: the end-to-end metrics of BENCHMARK.json (--trace 0) or its
per-layer metrics (--trace 1). A traced run also writes its spans to
.bench_trace/<workload>-seed<N>.jsonl. See perfbench/README.md.
"""
import time

T_START = time.time()

import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

def spark_jars():
    """$SPARK_HOME/jars, else the jar directory graft's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
    except OSError:
        return ""
    return m.group(1) if m else ""


SPARK_JARS = spark_jars()
WAREHOUSE = "/tmp/graft_warehouse"  # where graft keeps its per-JVM artifact memos
JVM_LIMIT_S = 165
# Spark cores per workload (local[N]). A drop is ~1k rows and JdbcSink
# opens one connection per partition, so the flow runs on two.
CPUS = {"etl_flow": 2, "queries": 4}
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def scalac(out_dir, sources, classpath, log):
    """Compile into a fresh out_dir with the Scala compiler of the Spark jars."""
    compiler = [os.path.join(SPARK_JARS, j) for j in os.listdir(SPARK_JARS)
                if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    argfile = out_dir + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    with open(log, "w") as lf:
        r = subprocess.run(["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
                            "-cp", ":".join(compiler), "scala.tools.nsc.Main",
                            "-nowarn", "-d", out_dir, "-classpath", classpath,
                            "@" + argfile], stdout=lf, stderr=subprocess.STDOUT)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(out_dir, ignore_errors=True)
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail(f"compilation into {out_dir} failed", 3)


def build(root):
    """Compiled graft and harness classes, rebuilt when their sources change.
    Returns (classpath, seconds spent building)."""
    t0 = time.time()
    graft_src = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness_src = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    if not graft_src:
        fail("no graft sources under src/main/scala; run from the root of a graft checkout")
    if not harness_src or not os.path.isdir(SPARK_JARS):
        fail(f"missing harness sources or Spark jars ({SPARK_JARS})")
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(out, exist_ok=True)
    jars = os.path.join(SPARK_JARS, "*")
    stamps = {}
    for name, sources, cp in (("graft", graft_src, jars),
                              ("harness", harness_src, os.path.join(out, "graft") + ":" + jars)):
        key = digest(sources, "".join(stamps.values()))
        stamps[name] = key
        stamp = os.path.join(out, name + ".stamp")
        if not (os.path.isdir(os.path.join(out, name)) and os.path.exists(stamp)
                and open(stamp).read() == key):
            scalac(os.path.join(out, name), sources, cp, os.path.join(out, name + ".log"))
            with open(stamp, "w") as f:
                f.write(key)
    cp = ":".join([os.path.join(out, "harness"), os.path.join(out, "graft"), jars])
    return cp, time.time() - t0


def store_dirs(pid):
    """graft's artifact memo directories that the JVM `pid` left behind."""
    if not os.path.isdir(WAREHOUSE):
        return []
    return [os.path.join(WAREHOUSE, d) for d in os.listdir(WAREHOUSE) if d.endswith(f"_{pid}")]


def tree_mb(path):
    total = 0
    for dp, _, fs in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dp, f)) for f in fs)
    return total / (1024 * 1024)


def run_jvm(cp, run_dir, args):
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dspark.local.dir={run_dir}/spark",
              f"-Dderby.system.home={run_dir}/derby",
              f"-Dderby.stream.error.file={run_dir}/derby.log",
              "-cp", cp, "perfbench.Main"] + args)
    os.makedirs(f"{run_dir}/tmp")
    with open(f"{run_dir}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=JVM_LIMIT_S)
        except BaseException:  # time limit, or this process being stopped
            p.kill()
            p.wait()
            if not isinstance(sys.exc_info()[1], subprocess.TimeoutExpired):
                raise
    return p


def main():
    # a stop request unwinds through the clean-up below instead of
    # leaving the JVM and the run directory behind
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["etl_flow", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.exists(os.path.join(root, "BENCHMARK.json")):
        fail("run from the directory that holds BENCHMARK.json")
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    cp, build_s = build(root)

    run_dir = os.path.join(root, ".bench_run", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    had_warehouse = os.path.isdir(WAREHOUSE)
    p = None
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--run-dir", run_dir, "--cpus", str(CPUS[a.workload])]
        if a.trace:
            os.makedirs(os.path.join(root, ".bench_trace"), exist_ok=True)
            args += ["--trace-out",
                     os.path.join(root, ".bench_trace", f"{a.workload}-seed{a.seed}.jsonl")]
        con = None
        if a.workload != "etl_flow":
            import duckdb
            import datagen
            con = duckdb.connect()
            con.execute(f"SET temp_directory='{run_dir}/duckdb'")
            data_dir = os.path.join(run_dir, "data")
            rows = datagen.generate(con, data_dir, a.seed)
            args += ["--data-dir", data_dir,
                     "--table-rows", ",".join(f"{k}={v}" for k, v in rows.items())]
        print(f"[perfbench] inputs ready at {time.time() - T_START - build_s:.1f} s "
              "after start, build excluded", file=sys.stderr)
        p = run_jvm(cp, run_dir, args)
        result_path = os.path.join(run_dir, "result.json")
        if p.returncode != 0 or not os.path.exists(result_path):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            fail(f"the harness JVM ended with code {p.returncode}", 4)
        res = json.load(open(result_path))
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.writelines(l for l in f if l.startswith("[perfbench]"))
        for n in res["notes"]:
            print(f"perfbench: {n}", file=sys.stderr)
        correct = res["correct"]
        print(f"[perfbench] JVM exited at {time.time() - T_START - build_s:.1f} s", file=sys.stderr)
        if con is not None:
            import oracle
            datagen.make_views(con, data_dir)
            out = os.path.join(run_dir, "out")
            correct = oracle.check(con, out, json.load(open(os.path.join(out, "oracle.json")))) \
                and correct
            print(f"[perfbench] oracle checked at {time.time() - T_START - build_s:.1f} s",
                  file=sys.stderr)
        leftovers = store_dirs(p.pid)
        res["metrics"]["store.leftover_mb"] = sum(tree_mb(d) for d in leftovers)
        res["metrics"]["setup_s"] = res["first_timed_ms"] / 1000.0 - T_START - build_s
    finally:
        if p is not None:
            for d in store_dirs(p.pid):
                shutil.rmtree(d, ignore_errors=True)
        if not had_warehouse and os.path.isdir(WAREHOUSE) and not os.listdir(WAREHOUSE):
            os.rmdir(WAREHOUSE)
        shutil.rmtree(run_dir, ignore_errors=True)
        if os.path.isdir(os.path.dirname(run_dir)) and not os.listdir(os.path.dirname(run_dir)):
            os.rmdir(os.path.dirname(run_dir))

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = float(res["metrics"].get(m["name"], 0.0))
        if not math.isfinite(v):
            fail(f"metric {m['name']} is {v}", 5)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": bool(correct), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
