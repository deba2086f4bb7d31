#!/usr/bin/env python3
"""Cold, layer-attributed benchmark of the CSV job path and a query pass.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles ``src/main/scala`` and
the benchmark's JVM side (``perfbench/src``) with scalac into
``.bench_build/perfbench``; later runs reuse the classes while the sources
are unchanged. Each run then

1. refuses to start when a model cache is configured (cold isolation);
2. generates its inputs from ``--seed`` (``perfbench/gen.py``);
3. launches ``SETUP_PROBES`` short JVM that only builds the session and runs
   the fixed warm-up, then the measuring JVM (``perfbench.Harness``), both at
   ``local[4]``; ``setup_s`` is the median of their setups;
4. checks every operation's output (``perfbench/oracle.py``);
5. prints one JSON line: end-to-end metrics with ``--trace 0``, per-layer
   metrics with ``--trace 1`` (the span tree goes to
   ``.bench_build/perfbench/traces/<workload>-seed<n>.json``).

It exits non-zero when any operation fails or its output is wrong.
"""
import argparse
import glob
import hashlib
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
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # the run writes only under .bench_build
import gen  # noqa: E402
import oracle  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
SCALA = "2.13.17"
CORES = 4
HEAP = "3g"
SETUP_PROBES = 1
WORKLOADS = ("csv_jobs", "queries")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def guard_cold():
    """The ModelCache persists trained models across JVMs; with it set a run
    would time cache loads instead of training."""
    if os.environ.get("GRAFT_MODEL_CACHE"):
        raise BenchError("GRAFT_MODEL_CACHE is set; unset it for a cold run")
    for var in ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS"):
        if "graft.model.cache" in os.environ.get(var, ""):
            raise BenchError(f"{var} sets graft.model.cache; unset it for a cold run")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BenchError(f"no src/main/scala under {ROOT}; run from the repository root")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    return files + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def build():
    files = sources()
    h = hashlib.sha256(SCALA.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = ":".join(os.path.join(SPARK_JARS, f"scala-{p}-{SCALA}.jar")
                        for p in ("compiler", "reflect", "library"))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main", "-nowarn",
           "-d", classes, "-classpath", os.path.join(SPARK_JARS, "*")] + files
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        code = run_proc(cmd, out, timeout=600)
    if code != 0:
        raise BenchError(f"scalac failed ({code}); see {log}")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


def run_proc(cmd, out, timeout):
    p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    finally:
        stop(p)


def stop(p):
    if p.poll() is None:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    p.wait()


def jvm(classes, work, args, deadline):
    """Run perfbench.Harness; return its setup seconds (launch to the end of
    the warm-up, as the harness reports it). It is killed at `deadline`."""
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # no hsperfdata file in the system temp directory; JVM temp files in work
    cmd += ["-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-cp", f"{classes}:{os.path.join(SPARK_JARS, '*')}",
            "perfbench.Harness"] + [str(a) for a in args]
    log = open(os.path.join(work, "jvm.log"), "a")
    launched = time.time()
    print(f"perfbench: {args[0]} JVM launched", file=sys.stderr)
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                         start_new_session=True)
    killer = threading.Timer(max(1.0, deadline - launched), stop, (p,))
    killer.start()
    try:
        setup = None
        for line in p.stdout:
            if line.startswith("SETUP_DONE "):
                setup = int(line.split()[1]) / 1000.0 - launched
        code = p.wait()
    finally:
        killer.cancel()
        stop(p)
        log.close()
    if time.time() >= deadline:
        raise BenchError(f"harness ran past the run's deadline; see {log.name}")
    if code != 0 or setup is None:
        raise BenchError(f"harness exited {code}; see {log.name}")
    print(f"perfbench: {args[0]} JVM took {time.time() - launched:.1f}s (setup {setup:.1f}s)",
          file=sys.stderr)
    return setup


def median(xs):
    return statistics.median(xs) if xs else 0.0


def timed_ops(res):
    """Operations of the timed passes; warm-up passes are checked, not timed."""
    return [o for o in res["ops"] if o["timed"]]


def summary(res):
    """Medians over the timed passes, so that a pass slowed by the shared
    host does not move them. run_s: median pass wall time. op_p50_s: median
    over operations of each operation's median wall time. rows_per_s: the
    source rows of one pass over the sum of those per-operation medians."""
    per_op = {}
    for o in timed_ops(res):
        per_op.setdefault(o["name"], []).append(o)
    walls = {k: median([o["wall_s"] for o in v]) for k, v in per_op.items()}
    return {
        "run_s": median([p["wall_s"] for p in res["passes"]]),
        "op_p50_s": median(list(walls.values())),
        "rows_per_s": sum(v[0]["rows_in"] for v in per_op.values()) / sum(walls.values()),
    }


def e2e_metrics(res, setups):
    s = summary(res)
    return {
        "setup_s": (median(setups), "s"),
        "run_s": (s["run_s"], "s"),
        "op_p50_s": (s["op_p50_s"], "s"),
        "rows_per_s": (s["rows_per_s"], "1/s"),
    }


def layer_metrics(res, plain, work):
    """Per-layer figures of the traced JVM: each is the sum over one pass's
    operations, averaged over its timed passes. The tracing overhead compares
    the traced JVM with an untraced one on the same inputs."""
    ops = timed_ops(res)
    n = len(res["passes"])
    sp = [o["spark"] for o in ops]

    def tot(key):
        return sum(s.get(key, 0) for s in sp) / n

    def self_s(key):
        return sum(res["layer_self"].get(key, [])) / n

    wall = sum(o["wall_s"] for o in ops)
    csv = res["workload"] == "csv_jobs"
    traced, untraced = summary(res), summary(plain)
    m = {
        "queries.build_s": (self_s("queries.build_s"), "s"),
        "spark.build_jobs": (tot("build_jobs"), "count"),
        "spark.plan_s": (self_s("spark.plan_s"), "s"),
        "spark.exec_s": (self_s("spark.exec_s"), "s"),
        "spark.task_cpu_s": (tot("task_cpu_s"), "s"),
        "spark.task_run_s": (tot("task_run_s"), "s"),
        "spark.gc_s": (tot("gc_s"), "s"),
        "spark.driver_gap_s": ((wall - sum(s["busy_s"] for s in sp)) / n, "s"),
        "spark.core_busy_frac": (sum(s["task_run_s"] for s in sp) / (wall * res["cores"]), "frac"),
        "spark.straggler_s": (tot("straggler_s"), "s"),
    }
    for key in ("jobs", "stages", "tasks", "failed_tasks"):
        m[f"spark.{key}"] = (tot(key), "count")
    for key in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes",
                "result_bytes"):
        m[f"spark.{key}"] = (tot(key), "bytes")
    for key in ("header_s", "transcode_s", "scan_s", "format_s", "write_s"):
        m[f"sources.{key}"] = (self_s(f"sources.{key}"), "s")
    m["operators.mapping_s"] = (self_s("operators.mapping_s"), "s")
    # tasks in the final stage of a single-file write (coalesce(1): one)
    m["sources.write_tasks"] = (max([s["write_tasks"] for s in sp] or [0]), "count")
    m["sources.rows_in"] = (sum(o["rows_in"] for o in ops) / n if csv else 0, "count")
    m["sources.rows_out"] = (sum(o["rows_out"] for o in ops) / n if csv else 0, "count")
    m["sources.bytes_in"] = (oracle.input_bytes(work) if csv else 0, "bytes")
    m["sources.bytes_out"] = (sum(oracle.output_bytes(o["output"]) for o in ops) / n if csv else 0, "bytes")
    # the JVM's VmHWM moves with GC timing by more than a tenth run to run,
    # so it is reported here rather than as an end-to-end metric
    m["peak_rss_mb"] = (res["peak_rss_mb"], "MB")
    m["trace.run_s"] = (traced["run_s"], "s")
    m["trace.run_overhead_frac"] = (traced["run_s"] / untraced["run_s"] - 1, "frac")
    m["trace.rows_per_s_overhead_frac"] = (untraced["rows_per_s"] / traced["rows_per_s"] - 1, "frac")
    m["trace.unaccounted_s"] = (sum(o["wall_s"] - o["layers_s"] for o in ops) / n, "s")
    return m


def load(work, tag):
    with open(os.path.join(work, tag, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    guard_cold()
    classes = build()
    # a run ends within 180 s of its start; the build is the first run's own
    deadline = time.time() + 160
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t0 = time.time()
        gen.generate(a.workload, a.seed, work)
        print(f"perfbench: inputs took {time.time() - t0:.1f}s", file=sys.stderr)
        if a.trace:
            # an untraced JVM first, for the tracing overhead; then the traced
            # one. They share the run's seconds, so a traced run ends in time.
            half = a.seconds / 2
            jvm(classes, work, ["run", work, CORES, a.workload, half, 0, "plain"], deadline)
            jvm(classes, work, ["run", work, CORES, a.workload, half, 1, "traced"], deadline)
            runs = [load(work, "plain"), load(work, "traced")]
            metrics = layer_metrics(runs[1], runs[0], work)
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "traced", "trace.json"),
                        os.path.join(traces, f"{a.workload}-seed{a.seed}.json"))
        else:
            setups = [jvm(classes, work, ["probe", work, CORES], deadline)
                      for _ in range(SETUP_PROBES)]
            setups.append(jvm(classes, work, ["run", work, CORES, a.workload, a.seconds, 0, "run"],
                              deadline))
            runs = [load(work, "run")]
            metrics = e2e_metrics(runs[0], setups)
        ops = [o for r in runs for o in r["ops"]]
        t0 = time.time()
        failures = oracle.check(a.workload, work, ops)
        print(f"perfbench: checks took {time.time() - t0:.1f}s", file=sys.stderr)
    finally:
        # keep the JVM log of the last run per workload for diagnosis
        if os.path.exists(os.path.join(work, "jvm.log")):
            shutil.copy(os.path.join(work, "jvm.log"), os.path.join(BUILD, f"{a.workload}.log"))
        shutil.rmtree(work, ignore_errors=True)
    for o in ops:
        print(f"perfbench: p{o['pass']}/{o['name']} {o['wall_s']:.3f}s "
              f"{'traced' if o['traced'] else 'untraced'} rows_out={o['rows_out']}", file=sys.stderr)
    for name, why in failures.items():
        print(f"perfbench: FAILED {name}: {why}", file=sys.stderr)
    print(json.dumps({
        "correct": not failures,
        "attempted": len(ops),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 1 if failures else 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
