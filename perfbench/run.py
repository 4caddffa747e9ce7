"""graft's benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  It builds graft and the benchmark from
source (perfbench/build.py, skipped when nothing changed), generates the
workload's inputs for the seed (perfbench/gen.py, cached per seed), runs
the workload in one JVM at local[nproc], checks its outputs, and prints
as its last line one JSON object:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, measured with
tracing off; with --trace 1 they are the per-layer ones from a traced
run.  Every file it writes stays under .bench_build/.  The exit code is
0 only when every operation and every output check passed.
"""

import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # no __pycache__ next to the sources

import build  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170  # a run must end within 180 s; the JVM gets what is left

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def class_sharing():
    """JVM class-data sharing: the first run after a build dumps the
    classes it loaded into an archive, later runs map it instead of
    loading and verifying those classes again (seconds of start-up per
    run). Only one dump is attempted per build."""
    if os.path.exists(build.CDS):
        return ["-XX:SharedArchiveFile=" + build.CDS]
    if os.path.exists(build.CDS + ".tried"):
        return []
    open(build.CDS + ".tried", "w").close()
    return ["-XX:ArchiveClassesAtExit=" + build.CDS]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    jars = build.build()
    t0 = time.time()
    inputs = gen.generate(a.workload, a.seed,
                          os.path.join(BUILD, "inputs", a.workload, "seed-%d" % a.seed))
    work = os.path.join(BUILD, "work", "%s-%d" % (a.workload, os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "result.json")
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    log = os.path.join(logs, "%s-seed%d-trace%d.log" % (a.workload, a.seed, a.trace))
    cmd = (["java", "-Xmx3g", "-Xss8m", "-Djava.io.tmpdir=" + tmp,
            "-Xlog:disable", "-Xlog:all=warning:stderr",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + class_sharing()
           + ["-cp", os.pathsep.join([build.JAR] + sorted(glob.glob(os.path.join(jars, "*.jar")))),
              "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--inputs", inputs, "--work", work, "--out", out])
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True)
            try:
                stdout, _ = proc.communicate(timeout=max(10, DEADLINE_S - (time.time() - t0)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                sys.exit("run: %s timed out; log in %s" % (a.workload, os.path.relpath(log, ROOT)))
        sys.stdout.write(stdout)
        if not os.path.exists(out):
            with open(log) as f:
                sys.stderr.write(f.read()[-4000:])
            sys.exit("run: %s exited %d without a result" % (a.workload, proc.returncode))
        with open(out) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] and proc.returncode == 0 else 1)


if __name__ == "__main__":
    main()
