#!/usr/bin/env python3
"""Benchmark for the repo's batch pipeline and query catalog.

Run from the root of a checkout:

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0

It builds the program and the harness from source with sbt (offline) the
first time, generates the workload's inputs from the seed, runs one JVM
(`local[4]`, one closed-loop client), checks the outputs in DuckDB and
prints one JSON line: `{"correct", "attempted", "failed", "metrics"}`.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.
Everything a run writes goes under a temp root inside `perfbench/`, except
the program's own scratch (`SPARK_GRAFT_TMP`), which goes where the program
puts it by default, the memory-backed `/dev/shm`, in a directory of the
run's own. Both are removed at exit. See perfbench/README.md for what each
workload and metric means.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, ".build")
CLASSPATH = os.path.join(BUILD_DIR, "classpath.txt")
RUN_DIR = os.path.join(HERE, ".run")
DEADLINE_S = 170

WORKLOADS = ("pipeline", "catalog")

END_TO_END = {"setup_s": "s", "cold_s": "s", "run_s": "s", "peak_rss_mb": "MB"}

QUERY_MODULES = ("Flagship", "Relational", "Windows", "Events", "LlmOps",
                 "TextQueries", "Multimodal", "StreamingQueries")
PER_LAYER = {
    "io.Sources.discover_s": "s", "io.Sources.parse_s": "s",
    "ops.IntervalExpand.expand_s": "s", "ops.IntervalExpand.rows_out": "count",
    "io.Sinks.write_s": "s", "io.Sinks.commits": "count", "io.Sinks.bytes_per_input_byte": "ratio",
    "io.Ledger.processed_s": "s", "io.Ledger.record_s": "s", "io.Ledger.markers": "count",
    "io.Pipeline.overhead_s": "s", "io.Pipeline.per_date_s": "s",
    **{f"queries.{m}.{k}": "s" for m in QUERY_MODULES
       for k in ("construct_s", "execute_s", "count_gap_s")},
    "streaming.batches": "count", "streaming.triggerExecution_s": "s",
    "streaming.addBatch_s": "s", "streaming.walCommit_s": "s",
    "streaming.commitOffsets_s": "s", "streaming.queryPlanning_s": "s",
    "streaming.latestOffset_s": "s", "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "bytes", "streaming.state_commit_s": "s",
    "streaming.outside_trigger_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_busy_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.input_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.output_bytes": "bytes", "spark.cached_bytes_peak": "bytes",
    "spark.driver_gap_s": "s", "spark.slot_busy_frac": "ratio",
    "trace.run_s": "s", "trace.overhead_s": "s",
}

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_newest():
    """Newest mtime among the files the build reads."""
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(REPO, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names]
    return max(os.path.getmtime(f) for f in files if os.path.isfile(f))


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over all CPUs.
    A run during which it grows by seconds was measured on a slowed machine."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return float("nan")


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None


def build():
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= sources_newest():
        return
    log("building the program and the harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD_DIR, "tmp")  # sbt's scratch files stay in the checkout
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        timeout=800, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr.fileno(), text=True)
    cp = [ln.strip() for ln in (out or "").splitlines() if "scala-2.13/classes" in ln and ":" in ln]
    if code != 0 or not cp:
        sys.stderr.write(out or "")
        raise SystemExit("sbt build failed")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1])


def run_jvm(args, root, graft_tmp, started, start_ms):
    out = os.path.join(root, "result.json")
    # a fixed heap and young generation keep peak RSS from following GC
    # sizing decisions that differ run to run
    cmd = ["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-XX:NewSize=512m", "-XX:MaxNewSize=512m",
           f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    with open(CLASSPATH) as f:
        cmd += ["-cp", f.read().strip(), "perfbench.Main"]
    cmd += ["--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--root", root, "--out", out, "--start-ms", str(start_ms)]
    os.makedirs(os.path.join(root, "tmp"))
    env = dict(os.environ, SPARK_GRAFT_TMP=graft_tmp)
    left = DEADLINE_S - (time.monotonic() - started)
    code, _ = run_bounded(cmd, timeout=max(left, 10), cwd=root, env=env,
                          stdout=sys.stderr.fileno(), stderr=sys.stderr.fileno())
    if code != 0 or not os.path.exists(out):
        raise SystemExit(f"benchmark JVM failed (exit {code})")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(REPO, "build.sbt"))
            and os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft"))):
        raise SystemExit(f"no program sources next to {HERE}: run from the root of a checkout")
    sys.path.insert(0, HERE)
    import catalog_tables
    import checks
    build()
    started = time.monotonic()  # the build is not part of the run's deadline

    name = f"{args.workload}-{os.getpid()}"
    root = os.path.join(RUN_DIR, name)
    # the program's streaming sources and checkpoints go to /dev/shm unless
    # told otherwise; keep them on that medium, in a directory of this run's
    shm = "/dev/shm"
    use_shm = os.path.isdir(shm) and os.access(shm, os.W_OK)
    graft_tmp = os.path.join(shm, f"perfbench-{name}") if use_shm else os.path.join(root, "graft-tmp")
    try:
        for d in (root, graft_tmp):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
        # set-up starts here: inputs generated outside the JVM count toward it
        start_ms = int(time.time() * 1000)
        steal0 = steal_s()
        if args.workload == "catalog":
            catalog_tables.write(os.path.join(root, "data"), args.seed)
        res = run_jvm(args, root, graft_tmp, started, start_ms)
        units = res["units"]
        bad, problems = checks.CHECKS[args.workload](units, res["checks"])
    finally:
        shutil.rmtree(graft_tmp, ignore_errors=True)
        shutil.rmtree(root, ignore_errors=True)
        if os.path.isdir(RUN_DIR) and not os.listdir(RUN_DIR):
            os.rmdir(RUN_DIR)
    for p in problems:
        log(f"check failed: {p}")
    log(f"setup_s {res['setup_s']:.3f} | units_s " + " ".join(f"{u['wall_s']:.3f}" for u in units) +
        f" | cpu steal {steal_s() - steal0:.1f} s")

    failed = {u["k"] for u in units if u["error"] is not None} | bad
    attempted = len(units) + (len(res["traced_errors"]) if args.trace else 0)
    failed_n = len(failed) + len(res["traced_errors"])
    if args.trace:
        layers = res["layers"]
        attempted += int(layers.get("trace.units", 0))
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
    else:
        warm = [u["wall_s"] for u in units if u["phase"] == "warm" and u["error"] is None]
        values = {
            "setup_s": res["setup_s"],
            "cold_s": units[0]["wall_s"],
            "run_s": statistics.median(warm) if warm else None,
            "peak_rss_mb": res["peak_rss_mb"],
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed_n == 0 and not problems, "attempted": attempted,
                      "failed": failed_n, "metrics": metrics}))


if __name__ == "__main__":
    main()
