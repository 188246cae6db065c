#!/usr/bin/env python3
"""The repository benchmark: the sanctions pipeline at bulk volume and the
heavy catalog queries, timed end to end and layer by layer.

Run from the root of a checkout:

    python3 perfbench/run.py --workload sanctions_bulk --seed 1 --seconds 5 --trace 0

Workloads: ``sanctions_bulk`` and ``catalog_heavy``. The first run in a
checkout builds the program and the benchmark with sbt (offline). Every run
generates its inputs from ``--seed`` under ``perfbench/work/`` (not timed),
measures set-up twice (a set-up-only JVM, then the measuring JVM, each from
process start to a SparkSession with the inputs registered), then
the measuring JVM times one cold and then warm executions for ``--seconds``
(at least one) and checks every output. With ``--trace 1`` it instead runs
the traced suite over both workloads and reports the per-layer metrics.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. A failed check makes the
command exit with code 1 after printing it; a missing program or a failed
build exits with code 2 and prints no result.
"""
import argparse
import atexit
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
LAUNCH = os.path.join(HERE, "target", "launch")
sys.path.insert(0, HERE)

from pb import catalog, sanctions  # noqa: E402

WORKLOADS = {
    # name: (generator, size arguments)
    "sanctions_bulk": ("sanctions", {"n_entities": 12000, "n_docs": 24}),
    "catalog_heavy": ("catalog", {"sf": 0.01}),
}
END_TO_END = {"setup_s": "s", "cold_run_s": "s", "wall_s": "s", "throughput_per_s": "1/s",
              "task_s": "s", "retained_heap_mb": "MB"}
SETUP_PROBES = 1
JVM_HEAP = "-Xmx4g"
RUN_LIMIT_S = 170  # a run must end within 180 s; the JVMs are killed at this


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def build():
    """Compile the program and the benchmark once per checkout."""
    cp = os.path.join(LAUNCH, "classpath")
    if os.path.exists(cp):
        return
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail("no program to build: %s is missing at %s" % (need, ROOT))
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx4g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFiles"],
                           cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=850)
    if r.returncode != 0 or not os.path.exists(cp):
        fail("build failed, see perfbench/work/build.log")


def inputs_for(workload, seed):
    """Generate (once) the seeded inputs of one workload; returns the dir.
    Inputs of other seeds are deleted, so the work directory stays small."""
    kind, size = WORKLOADS[workload]
    root = os.path.join(WORK, "inputs")
    out = os.path.join(root, "%s-%d" % (workload, seed))
    for old in os.listdir(root) if os.path.isdir(root) else []:
        if not old.endswith("-%d" % seed):
            shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    if os.path.exists(os.path.join(out, "done")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    if kind == "sanctions":
        sanctions.generate(out, seed=seed, **size)
    else:
        catalog.generate(out, seed=seed, **size)
    open(os.path.join(out, "done"), "w").close()
    return out


def java_command(args):
    with open(os.path.join(LAUNCH, "classpath")) as f:
        cp = f.read().strip()
    with open(os.path.join(LAUNCH, "javaopts")) as f:
        opts = [l for l in f.read().split("\n") if l]
    local = os.path.join(WORK, "spark")
    return (["java"] + opts + [
        JVM_HEAP,
        "-Dspark.local.dir=" + os.path.join(local, "local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(local, "warehouse"),
        "-Dderby.system.home=" + os.path.join(local, "derby"),
        "-cp", cp, "perfbench.Main"] + args)


def jvm_env():
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    return dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))


LIVE = []  # JVMs started and not yet waited for


@atexit.register
def _stop_live_jvms():
    for p in LIVE:
        if p.poll() is None:
            p.kill()
            p.wait()


def _terminate(signum, frame):
    """A terminated run stops its JVMs first, then exits."""
    _stop_live_jvms()
    sys.exit(128 + signum)


class Jvm:
    """One benchmark JVM, killed if it outlives the run's deadline."""

    def __init__(self, args, log_name, deadline):
        self.log = open(os.path.join(WORK, log_name), "w")
        t0 = time.perf_counter()
        self.p = subprocess.Popen(java_command(args), cwd=WORK, env=jvm_env(),
                                  stdout=subprocess.PIPE, stderr=self.log,
                                  stdin=subprocess.DEVNULL, text=True)
        LIVE.append(self.p)
        self.timer = threading.Timer(max(1.0, deadline - time.monotonic()), self.p.kill)
        self.timer.daemon = True
        self.timer.start()
        self.setup_s = None
        for line in self.p.stdout:
            if line.strip() == "READY":
                self.setup_s = time.perf_counter() - t0
                break

    def finish(self):
        """Wait for the exit; returns the exit code."""
        self.p.stdout.read()
        code = self.p.wait()
        LIVE.remove(self.p)
        self.timer.cancel()
        self.log.close()
        return code


def oracle_agrees(table_dir, out_dir, timeout):
    """The repository's own DuckDB comparison, tools/check_oracle.py, over the
    results the run wrote once; its report goes to perfbench/work/oracle.log."""
    with open(os.path.join(WORK, "oracle.log"), "w") as log:
        try:
            r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                                table_dir, out_dir], cwd=ROOT, stdout=log,
                               stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                               timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            log.write("perfbench: the comparison did not end in time\n")
            return False
    return r.returncode == 0


def run(args):
    build()
    started = time.perf_counter()
    workloads = list(WORKLOADS) if args.trace else [args.workload]
    dirs = {w: inputs_for(w, args.seed) for w in workloads}
    if args.trace:
        inputs = os.path.join(WORK, "trace-inputs")
        shutil.rmtree(inputs, ignore_errors=True)
        os.makedirs(inputs)
        for w, d in dirs.items():
            os.symlink(d, os.path.join(inputs, w))
    else:
        inputs = dirs[args.workload]
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    result = os.path.join(run_dir, "result.json")
    jvm_args = ["--workload", args.workload, "--inputs", inputs, "--work", run_dir,
                "--seconds", str(args.seconds), "--trace", "1" if args.trace else "0",
                "--result", result]

    deadline = time.monotonic() + RUN_LIMIT_S - (time.perf_counter() - started)
    setup = []
    for log_name in ["probe.log"] * (0 if args.trace else SETUP_PROBES) + ["run.log"]:
        jvm = Jvm(jvm_args + (["--probe"] if log_name == "probe.log" else []), log_name, deadline)
        code = jvm.finish()
        if jvm.setup_s is None or code != 0:
            fail("the benchmark JVM failed (exit %d), see perfbench/work/%s" % (code, log_name),
                 code=1)
        setup.append(jvm.setup_s)
    if not os.path.exists(result):
        fail("the benchmark JVM wrote no result, see perfbench/work/run.log", code=1)
    with open(result) as f:
        res = json.load(f)

    attempted, failed = res["attempted"], res["failed"]
    failures = list(res["failures"])
    metrics = {}
    if not args.trace:
        metrics["setup_s"] = {"value": statistics.median(setup), "unit": "s"}
    if args.workload == "catalog_heavy" and not args.trace:
        attempted += 1
        left = RUN_LIMIT_S + 5 - (time.perf_counter() - started)
        if not oracle_agrees(dirs["catalog_heavy"], os.path.join(run_dir, "oracle"), left):
            failed += 1
            failures.append("oracle: results differ from DuckDB, see perfbench/work/oracle.log")
    metrics.update(res["metrics"])
    if not args.trace:
        metrics = {k: metrics.get(k) for k in END_TO_END}
    complete = all(m is not None and isinstance(m["value"], (int, float)) for m in metrics.values())
    if not complete:
        failures.append("missing metrics: %s" % sorted(k for k, m in metrics.items() if m is None))
    for msg in failures:
        print("perfbench: FAILED " + msg, file=sys.stderr)
    correct = failed == 0 and complete and attempted >= 1
    with open(os.path.join(run_dir, "samples.json"), "w") as f:
        json.dump({"setup_s": setup, **res["samples"]}, f)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.stdout.flush()
    return 0 if correct else 1


def main():
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    sys.exit(run(ap.parse_args()))


if __name__ == "__main__":
    main()
