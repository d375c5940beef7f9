#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload poll_drain --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first call builds the library and the
harness from source with sbt (offline, into perfbench/target); later calls
reuse the build while no source is newer than it. Each run then

  1. generates its input tables from --seed (perfbench/gen_data.py) into a
     fresh per-run directory under .bench_run/,
  2. runs the workload's closed loop in one JVM on local[nproc]
     (perfbench/src/main/scala/perfbench), with tracing when --trace 1,
  3. checks the outputs: the harness's own checks, the delivered documents
     against DuckDB, and every declared query key it ran against its DuckDB
     oracle SQL,
  4. prints each metric by name with its unit, then as its last line one
     JSON object with the keys correct, attempted, failed and metrics,
  5. removes the per-run directory; a traced run first copies its spans
     (spans.json) and full result (result.json) to .bench_out/.

It exits non-zero without that last line when the build or the run fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen_data  # noqa: E402

# the layers each workload never enters: their per-layer metrics read 0
# there (the "no move" rows of perfbench/NOTES.md)
BYPASSED = {
    "poll_drain": ("sources.", "streaming.", "ops."),
    "stream_cold": ("cdc.", "ops."),
    "bi_adhoc": ("cdc.", "sinks.", "sources.", "streaming."),
    "llm_curate": ("cdc.", "sinks.", "sources.", "streaming.", "ops."),
}
WORKLOADS = list(BYPASSED)
# the metrics and units every workload reports: end-to-end ones under the
# same names for every workload (perfbench/NOTES.md maps them to each
# workload's own), per-layer ones from the traced run
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
LIBRARY_SRC = os.path.join(ROOT, "src", "main")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
CLASSPATH_FILE = os.path.join(BENCH, "target", "perfbench.classpath")
# the workload's JVM must exit within --seconds plus this allowance for
# everything outside the measured loop (JVM start, set-ups, the calls a
# loop makes past --seconds to reach its minimum, output dumps)
ALLOWANCE_S = 165
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def newest_mtime(paths):
    newest = 0.0
    for top in paths:
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def spark_home():
    """The first Spark installation on the PATH: a bin/spark-submit with a
    jars/ directory beside bin/ (a pip-installed pyspark has no jars/)."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.realpath(d))
        if (os.path.isfile(os.path.join(d, "spark-submit"))
                and os.path.isdir(os.path.join(home, "jars"))):
            return home
    fail("SPARK_HOME is unset and no Spark installation is on the PATH")


def build():
    """Compile the library and the harness unless the build is current."""
    if not os.path.isdir(os.path.join(LIBRARY_SRC, "scala", "graft")):
        fail(f"library sources not found under {LIBRARY_SRC}")
    sources = [LIBRARY_SRC, os.path.join(BENCH, "src"),
               os.path.join(BENCH, "project", "build.properties"),
               os.path.join(BENCH, "build.sbt")]
    newest = max(newest_mtime([p for p in sources if os.path.isdir(p)]),
                 *[os.path.getmtime(p) for p in sources if os.path.isfile(p)])
    if (os.path.exists(CLASSPATH_FILE)
            and os.path.getmtime(CLASSPATH_FILE) >= newest):
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SPARK_HOME", spark_home())
    repos = os.path.expanduser("~/.sbt/repositories")
    # sbt's scratch files (file watcher, JNA) go to a temp dir in the checkout
    tmp = os.path.join(ROOT, ".bench_build", "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
            "-Dsbt.server.autostart=false"]
    # every JVM the sbt script starts: no hsperfdata, JNA's files in tmp
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djna.tmpdir={tmp}"
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BENCH, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    lines = open(log).read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}")
    cp = [l for l in lines if CLASSES in l and not l.startswith("[")]
    if not cp:
        fail(f"build printed no classpath; log in {log}")
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cp[-1].strip() + "\n")


def run_jvm(args, work, data, deadline):
    cp = open(CLASSPATH_FILE).read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-Xmx4g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties")]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data, "--work", work])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = None
    lines = open(log, errors="replace").read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("workload timed out" if rc is None else f"workload JVM exited {rc}")
    for line in lines:
        if line.startswith(("PERFBENCH_", "perfbench:")):
            print(line, file=sys.stderr)
    return json.load(open(os.path.join(work, "result.json")))


def keep_trace(args, work):
    """Keep a traced run's spans and full result under .bench_out/."""
    out = os.path.join(ROOT, ".bench_out", f"{args.workload}-seed{args.seed}")
    os.makedirs(out, exist_ok=True)
    for f in ("spans.json", "result.json"):
        shutil.copy(os.path.join(work, f), out)
    print(f"perfbench: spans and per-layer metrics in {out}", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    build()
    t_start = time.time()
    work = os.path.join(ROOT, ".bench_run",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        gen_data.generate(data, args.seed)
        t_gen = time.time()
        res = run_jvm(args, work, data, t_start + args.seconds + ALLOWANCE_S)
        t_jvm = time.time()
        results = checks.run_all(res, data)
        if args.trace:
            keep_trace(args, work)
        print(f"perfbench: generate {t_gen - t_start:.1f} s, jvm "
              f"{t_jvm - t_gen:.1f} s, checks {time.time() - t_jvm:.1f} s",
              file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    correct = all(ok for _, ok, _ in results)
    for name, ok, detail in results:
        print(f"check {'PASS' if ok else 'FAIL'} {name}: {detail}",
              file=sys.stdout if ok else sys.stderr)
    for f in res["failures"]:
        print(f"failed op {f}")
    for k, m in res["e2e"].items():
        print(f"metric {k} = {m['value']:.6g} {m['unit']}")
    for k, v in res["layers"].items():
        print(f"layer {k} = {v:.6g}")

    if args.trace:
        layers = {k: res["layers"].get(k, 0.0 if k.startswith(
            BYPASSED[args.workload]) else None) for k in PER_LAYER}
        missing = [k for k, v in layers.items() if v is None]
        if missing:
            fail(f"traced run lacks per-layer metrics {missing}")
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": res["generic"][k], "unit": u}
                   for k, u in END_TO_END.items()}
    if not correct:
        print("perfbench: OUTPUT CHECK FAILED", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
