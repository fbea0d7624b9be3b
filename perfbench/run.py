"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The parent process prepares a
private working directory inside the checkout, generates the inputs
from the seed there, runs the workload in a fresh child process (which
starts its own Spark at ``local[<nproc>]``), waits for it, removes the
working directory, and prints one JSON object as the last line of
standard output:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the ``end_to_end`` set of ``BENCHMARK.json``; with
``--trace 1`` the ``per_layer`` set.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

PACKAGE = "udacity_dend_capstone_immigration_spark"
WORKLOADS = ("star_analytics", "corpus_curation", "event_streams", "store_ingest_serve")
CHILD_TIMEOUT_S = 150
WORK_ROOT = ".perfbench_work"
TRACE_DIR = ".perfbench_traces"


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


# --- parent ------------------------------------------------------------------

def _live_members(pgid: int) -> list[int]:
    """Processes of group ``pgid`` that still run. Zombies have ended:
    an orphaned JVM is reparented to init, which may reap it late."""
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            out.append(int(entry))
    return out


def _stop_group(pgid: int) -> None:
    """Terminate every process left in the child's process group (the
    JVM and its Python workers) and wait until none remains."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not _live_members(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + 10.0
        while time.time() < deadline and _live_members(pgid):
            time.sleep(0.1)


def parent(args) -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package in {root}; run from a source checkout",
              file=sys.stderr)
        return 2
    import datagen
    import workloads

    os.makedirs(os.path.join(root, WORK_ROOT), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=os.path.join(root, WORK_ROOT))
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_SCRATCH_DIR": os.path.join(work, "scratch"),
        "PERFBENCH_WORK": work,
    })
    cmd = [sys.executable, os.path.abspath(__file__), "--child", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
    result = None
    # a terminated parent still stops the child's processes and cleans up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    try:
        for sub in ("tmp", "local", "scratch"):
            os.makedirs(os.path.join(work, sub))
        # inputs are made here, before the child's clock starts, so that
        # neither set-up time nor peak memory includes generating them
        data_dir = datagen.generate(os.path.join(work, "data"), args.seed, **workloads.SIZES)
        n_vec, n_doc = workloads.BATCHES.get(args.workload, (0, 0))
        datagen.write_batches(os.path.join(work, "batches"), args.seed, data_dir, n_vec, n_doc,
                              workloads.BATCH_ROWS, workloads.FIRST_APPENDED_ID)
        env["PERFBENCH_T0"] = repr(time.time())
        proc = subprocess.Popen(cmd, env=env, cwd=root, stdout=sys.stderr, start_new_session=True)
        try:
            proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {CHILD_TIMEOUT_S}s; stopped", file=sys.stderr)
        finally:
            _stop_group(proc.pid)
            proc.wait()
        path = os.path.join(work, "result.json")
        if proc.returncode == 0 and os.path.isfile(path):
            with open(path) as f:
                result = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, WORK_ROOT))
        except OSError:
            pass
    if result is None:
        return 1
    for line in result.pop("notes"):
        print(f"perfbench: {line}", file=sys.stderr)
    print(json.dumps(result))
    return 0


# --- child -------------------------------------------------------------------

def child(args) -> int:
    t_start = float(os.environ["PERFBENCH_T0"])
    work = os.environ["PERFBENCH_WORK"]
    import report
    import tracing
    import workloads

    timings: dict[str, float] = {}
    data_dir = os.path.join(work, "data")

    from pyspark.sql import functions as F

    from udacity_dend_capstone_immigration_spark.session import get_spark_session

    cpus = len(os.sched_getaffinity(0))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # keep every JVM file inside the checkout (perf data goes to /tmp)
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
    }
    if args.trace:
        # the UI store must keep every job, stage and SQL execution of
        # the run for attribution (it grows with the run, so only here)
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000",
                     "spark.sql.ui.retainedExecutions": "100000"})
    t0 = time.perf_counter()
    spark = get_spark_session(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    timings["session.start_s"] = time.perf_counter() - t0
    try:
        tracer = listener = None
        if args.trace:
            tracer = tracing.Tracer(spark)
            listener = tracing.StreamProgress()
            spark.streams.addListener(listener)
        runner = workloads.Runner(spark, args.workload, args.seed, args.seconds, data_dir, work,
                                  tracer=tracer, listener=listener)
        runner.setup()
        timings.update(runner.timings)
        timings["setup_s"] = time.time() - t_start
        runner.run(trace=bool(args.trace))
        timings["rss.jvm_mb"], timings["rss.python_mb"] = runner.rss_after_first_pass
        timings["peak_rss_mb"] = sum(runner.rss_after_first_pass)
        timings["box.load_avg"] = os.getloadavg()[0]
        timings["box.cpus"] = cpus
        t0 = time.perf_counter()
        # fixed CPU-bound canary: about 1.5 s on a 4-vCPU box
        spark.range(0, 12_000_000, 1, cpus).select(
            F.sum(F.xxhash64(F.md5(F.col("id").cast("string"))))).collect()
        timings["box.canary_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        bad = runner.check()
        timings["check_s"] = time.perf_counter() - t0
        if args.trace:
            rest = tracing.spark_job_metrics(spark)
            metrics = report.with_units(
                report.per_layer(runner, tracer, listener, rest, timings), "per_layer")
            os.makedirs(TRACE_DIR, exist_ok=True)
            tracer.write(os.path.join(TRACE_DIR, f"{args.workload}-{args.seed}.json"))
        else:
            values = report.end_to_end(runner, timings)
            metrics = report.with_units(values, "end_to_end")
            extra = {k: v for k, v in values.items() if k not in metrics and v == v}
            metrics.update({k: {"value": v, "unit": "ratio" if k.endswith("amp") else "s"}
                            for k, v in extra.items()})
        result = {
            "correct": not bad and runner.failed == 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": metrics,
            "notes": runner.failures + [
                f"{len(runner.pass_walls)} passes, {len(runner.latencies)} timed requests",
                "timings " + " ".join(f"{k}={v:.3f}" for k, v in sorted(timings.items())),
                "latency " + " ".join(f"{n}={dt:.3f}" for n, dt in runner.latencies)],
        }
        with open(os.path.join(work, "result.json"), "w") as f:
            json.dump(result, f)
    finally:
        for q in spark.streams.active:
            q.stop()
        spark.stop()
    return 0


def main(argv=None) -> int:
    args = parse(sys.argv[1:] if argv is None else argv)
    return child(args) if args.child else parent(args)


if __name__ == "__main__":
    sys.exit(main())
