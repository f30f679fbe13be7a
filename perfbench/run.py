#!/usr/bin/env python3
"""The engine's benchmark: one command, one workload per call.

    python3 perfbench/run.py --workload cdc --seed 42 --seconds 8 --trace 0

Run it from the root of a checkout. It builds the engine from source
(perfbench/build.py), generates the workload's input from --seed, runs it at
local[<cores>] in a fresh JVM, checks every output, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics; --trace 1 runs the workload traced and reports the
per-layer metrics, writing the spans to .bench_build/perfbench/results/.
See perfbench/README.md for the workloads and the metric definitions.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import metrics  # noqa: E402

RESULTS = os.path.join(build.BUILD, "results")
# every JVM of one run must end within this many seconds of the run's start
RUN_DEADLINE_S = 170

# Input sizes. Fixed here, not per seed, so every seed does the same work.
CDC = {"convs": 2000, "segments": 100, "tail": 100}
STATEFUL = {"convs": 1000, "files": 3}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def jvm(classes, work, workload, log, deadline, **kv):
    """Run one benchmark JVM, killed at `deadline` (time.monotonic());
    return its result JSON."""
    out = os.path.join(work, f"result-{workload}-{kv.get('cores')}.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-touched heap keeps peak RSS from following GC heap sizing
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
            "perfbench.Main", workload, f"work={work}", f"out={out}"]
    cmd += [f"{k}={v}" for k, v in kv.items()]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(log, "a") as lf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError(f"{workload} JVM killed at the {RUN_DEADLINE_S}s run deadline (log: {log})")
    if rc != 0 or not os.path.isfile(out):
        with open(log) as lf:
            tail = lf.read()[-3000:]
        raise RuntimeError(f"{workload} JVM failed (rc={rc}); log tail:\n{tail}")
    with open(out) as f:
        return json.load(f)


def keep_trace(work, workload, n, stamp):
    """Move a traced run's span file out of the work dir into the results."""
    src = os.path.join(work, f"result-{workload}-{n}.json.trace.json")
    if os.path.isfile(src):
        shutil.move(src, os.path.join(RESULTS, f"{stamp}.trace.json"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(metrics.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"[perfbench] cannot build the engine: {e}", file=sys.stderr)
        return 2
    deadline = time.monotonic() + RUN_DEADLINE_S

    n = cores()
    stamp = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(build.BUILD, "work", f"{stamp}-{os.getpid()}")
    os.makedirs(RESULTS, exist_ok=True)
    log = os.path.join(RESULTS, f"{stamp}.log")
    if os.path.exists(log):
        os.remove(log)
    os.makedirs(work)
    common = {"seed": a.seed, "seconds": a.seconds, "trace": a.trace}
    try:
        if a.workload == "cdc":
            main_r = jvm(classes, work, "cdc", log, deadline, cores=n, **common, **CDC)
            keep_trace(work, "cdc", n, stamp)
            scale_r = None if not a.trace else jvm(classes, work, "cdc-scale", log, deadline, cores=1,
                                               table=main_r["raw"]["table_dir"],
                                               **dict(common, trace=0), **CDC)
            res = metrics.cdc(main_r, scale_r, n, a.trace)
        else:
            main_r = jvm(classes, work, "stateful", log, deadline, cores=n, **common, **STATEFUL)
            keep_trace(work, "stateful", n, stamp)
            scale_r = None if not a.trace else jvm(classes, work, "stateful", log, deadline, cores=1, scale=1,
                                               turns=main_r["raw"]["turns"],
                                               **dict(common, trace=0), **STATEFUL)
            res = metrics.stateful(main_r, scale_r, n, a.trace)
    except RuntimeError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    artifact = os.path.join(RESULTS, f"{stamp}.json")
    with open(artifact, "w") as f:
        json.dump(res["artifact"], f, indent=1, sort_keys=True)
    for c in res["artifact"]["checks"]:
        print(f"[perfbench] check {c['name']}: {'OK' if c['ok'] else 'FAILED'} {c['detail']}",
              file=sys.stderr)
    print(json.dumps(res["line"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
