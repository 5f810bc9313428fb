"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and harness from source (perfbench/build.py),
generates the workload's inputs from the seed (perfbench/gen.py), runs
the harness JVM on them, and prints one JSON object as the last line of
stdout: correct, attempted, failed, and the BENCHMARK.json end-to-end
metrics (--trace 0) or per-layer metrics (--trace 1) with their units.
Everything it writes stays under .bench_build/ in the checkout. Exits
non-zero, printing no result, when anything fails to build or run.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

JVM_SECONDS = 165
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def main():
    ap = argparse.ArgumentParser(description="graft pipeline benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="damage each op's written output before it is checked")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.workload not in {w["name"] for w in bench["workloads"]}:
        fail(f"unknown workload {a.workload}")
    declared = bench["per_layer" if a.trace else "end_to_end"]
    warmup_ops = gen.workload_spec(a.workload)["warmup_ops"]

    try:
        classes = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    work = os.path.join(build.BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    gen.generate(a.workload, a.seed, data)
    local = os.path.join(work, "spark-local")
    os.makedirs(local)

    cp = os.pathsep.join([classes, os.path.join(os.path.dirname(build.spark_jars()[0]), "*")])
    result_file = os.path.join(work, "result.json")
    cmd = ([build.java(), f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={local}", f"-Dspark.local.dir={local}",
              f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--data", data, "--warmup-ops", str(warmup_ops), "--work", work,
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--metrics", ",".join(m["name"] for m in declared),
              "--result", result_file, "--corrupt", "1" if a.corrupt else "0"])
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    log_path = os.path.join(work, "jvm.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work, env=env)
        try:
            code = proc.wait(timeout=JVM_SECONDS)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
    if code != 0 or not os.path.exists(result_file):
        with open(log_path) as log:
            tail = log.readlines()[-40:]
        sys.stderr.write("".join(tail))
        fail(f"harness {'timed out' if code is None else f'exited with {code}'} "
             f"after {time.time() - t0:.0f}s; log: {log_path}")

    with open(result_file) as f:
        res = json.load(f)
    for msg in res.get("failures", []):
        print(f"[perfbench] {msg}", file=sys.stderr)
    metrics = {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]}
               for m in declared}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
