"""seamdb_spark benchmark: three closed-loop workloads, one client each.

    python3 seambench/run.py --workload pg_sql --seed 1 --seconds 12 --trace 0
    python3 seambench/run.py            # every workload, untraced then traced

One run of one workload prints its settings, every metric by name with
its unit, and as the last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones. A wrong result
makes the run exit with code 1. Without ``--workload`` every workload
runs untraced and then traced in child processes, and the tracing
overhead is printed as traced against untraced ``ops_per_s``.

The inputs are the fixture tables under ``seambench/data``. Each run
works in a fresh directory under ``seambench/.work`` (Spark local dirs,
warehouses, temp files, staging data) and removes it on exit. See
seambench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
# Driver JVM heap cap: explicit, well below the RAM of a small VM (the
# engine's default is 24g).
DRIVER_MEM = "2g"

END_TO_END = [
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("read_p50_s", "s"),
    ("read_tail_s", "s"),
    ("peak_rss_mb", "MB"),
]


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=["pg_sql", "df_analytics", "doc_ingest"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs (sf0.001-sized), for the benchmark's own tests")
    return p.parse_args(argv)


def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _settings(cores: int, work: str, spark_version: str) -> dict:
    return {
        "nproc": cores,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_GRAFT_DRIVER_MEM": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "SPARK_LOCAL_DIRS": os.path.relpath(os.environ["SPARK_LOCAL_DIRS"], REPO),
        "warehouse": os.path.relpath(os.path.join(work, "spark-warehouse"), REPO),
        "spark": spark_version,
        "python": platform.python_version(),
    }


def run_one(args: argparse.Namespace) -> int:
    if not os.path.isdir(os.path.join(REPO, "seamdb_spark")):
        print(f"seamdb_spark not found beside {HERE}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # spark-submit's launcher JVM, which builds the driver's command.
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    sys.path[:0] = [HERE, REPO]
    # On SIGTERM, unwind through the finally blocks: stop the JVM, then
    # remove the work directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run(args, cores, work, tmp)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if not os.listdir(parent):
            os.rmdir(parent)


def _run(args: argparse.Namespace, cores: int, work: str, tmp: str) -> int:
    import tempfile

    tempfile.tempdir = tmp
    from stats import latency
    from tracing import PER_LAYER, Tracer
    from workloads import WORKLOADS, Env, run_op, timed_phase

    env = Env(spark=None, work=work, seed=args.seed, cores=cores, repo=REPO,
              smoke=args.smoke)
    workload = WORKLOADS[args.workload]()
    t_prep = time.perf_counter()
    workload.prepare(env)  # inputs from the seed: untimed
    phases = {"prepare_s": time.perf_counter() - t_prep}

    from seamdb_spark.session import build_session

    t0 = time.perf_counter()
    spark = build_session(f"seambench-{args.workload}", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    session_s = time.perf_counter() - t0
    gateway = spark.sparkContext._gateway
    try:
        env.spark = spark
        workload.setup(env)
        phases["load_s"] = time.perf_counter() - t0 - session_s
        warmup = []
        for _ in range(workload.warmup_rotations):  # untimed warm-up
            t_rot = time.perf_counter()
            for op in workload.warmup(env) or []:
                run_op(env, op)
            warmup.append(time.perf_counter() - t_rot)
        setup_s = time.perf_counter() - t0
        phases.update(session_s=session_s, warmup_s=setup_s - session_s - phases["load_s"])

        if args.trace:
            env.tracer = Tracer(spark, cores).install()
        try:
            timed = timed_phase(env, workload, args.seconds)
        finally:
            if env.tracer is not None:
                env.tracer.uninstall()
        gauges = {}
        if args.trace:
            gauges = {**workload.gauges(env), "spark.heap_peak_mb": env.tracer.heap_peak_mb()}
        workload.finish(env)
        rss = _hwm_mb(os.getpid()) + _hwm_mb(gateway.proc.pid)
        settings = _settings(cores, work, spark.version)
    finally:
        _stop(spark, gateway)

    ops_per_s = timed.ops / timed.wall if timed.wall > 0 else 0.0
    reads = timed.latencies.get("read", [])
    writes = timed.latencies.get("write", [])
    report: list[tuple[str, float, str]] = []
    if args.trace:
        extra = {"session.build_s": session_s, "trace.ops_per_s": ops_per_s, **gauges}
        values = env.tracer.metrics(extra)
        report = [(name, values[name], unit) for name, unit in PER_LAYER]
    else:
        r = latency(reads) if reads else None
        values = {
            "setup_s": setup_s,
            "ops_per_s": ops_per_s,
            "read_p50_s": r.p50 if r else 0.0,
            "read_tail_s": r.tail if r else 0.0,
            "peak_rss_mb": rss,
        }
        report = [(name, values[name], unit) for name, unit in END_TO_END]

    tally = env.tally
    print("settings " + json.dumps(settings, sort_keys=True))
    print("phases " + json.dumps({k: round(v, 3) for k, v in phases.items()}))
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{timed.ops} timed ops in {timed.wall:.3f} s")
    print("warmup rotations " + json.dumps([round(x, 3) for x in warmup]))
    print("rotations " + json.dumps([round(x, 3) for x in timed.rotations]))
    for name, xs in sorted(timed.by_name.items()):
        print(f"  op {name}: n={len(xs)} median={statistics.median(xs):.4f} s")
    for kind, xs in sorted(timed.latencies.items()):
        s = latency(xs)
        print(f"  {kind}: n={s.n} p50={s.p50:.4f} s tail=p{s.tail_pct:.0f} "
              f"{s.tail:.4f} s ({s.tail_beyond} samples beyond)")
    if writes:
        print(f"  write_p50_s = {latency(writes).p50:.6f} s")
        print(f"  write_tail_s = {latency(writes).tail:.6f} s")
    print(f"  error_rate = {tally.error_rate:.6f} ratio "
          f"({tally.failed} of {tally.attempted} checked ops)")
    for problem in tally.problems[:20]:
        print(f"  FAILED {problem}")
    for name, value, unit in report:
        print(f"  {name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": tally.correct,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {n: {"value": v, "unit": u} for n, v, u in report},
    }))
    return 0 if tally.correct else 1


def _stop(spark, gateway) -> None:
    """Stop Spark and wait for its JVM to exit: the JVM ends when its
    stdin closes."""
    from pyspark import SparkContext

    proc = gateway.proc
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_all(args: argparse.Namespace) -> int:
    """Every workload untraced, then traced, in child processes."""
    rc, summary = 0, {}
    for name in ("pg_sql", "df_analytics", "doc_ingest"):
        results = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)] + (["--smoke"] if args.smoke else [])
            proc = subprocess.run(cmd, capture_output=True, text=True)
            sys.stdout.write(proc.stdout)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                sys.stderr.write(proc.stderr[-4000:])
                rc = 1
                continue
            results[trace] = json.loads(lines[-1])
        if len(results) == 2:
            untraced = results[0]["metrics"]["ops_per_s"]["value"]
            traced = results[1]["metrics"]["trace.ops_per_s"]["value"]
            overhead = 1 - traced / untraced if untraced else 0.0
            print(f"{name}: tracing overhead {overhead:+.1%} "
                  f"(traced {traced:.3f} vs untraced {untraced:.3f} ops/s)\n")
            summary[name] = {
                "correct": results[0]["correct"] and results[1]["correct"],
                "end_to_end": {k: v["value"] for k, v in results[0]["metrics"].items()},
                "trace_overhead": overhead,
            }
    print(json.dumps(summary))
    return rc


def main(argv: list[str]) -> int:
    args = _parse(argv)
    if args.workload is None:
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
