"""Closed-loop benchmark of the streaming runtime.

    python3 perfbench/run.py --workload fk_join_churn --seed 1 --seconds 30 --trace 0

Runs one workload (see perfbench/README.md) from the root of a checkout:
generates its inputs from the seed, starts the engine on local[nproc],
sets up and warms the pipeline, runs a fixed number of closed-loop steps
and reads, checks every output against a reference, and prints one JSON
object as the last line of stdout. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` reports the per-layer metrics, prints the
per-layer table and writes the spans to .perfbench/.

The amount of work is a fixed function of --seconds (a nominal step
time per workload), never of elapsed time, so state and mirror sizes
match at every sample on every run and commit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170

# name -> unit, reported with --trace 1 (medians per timed step unless a count)
PER_LAYER = {
    "engine.session_s": "s",
    "harness.plan_ms": "ms",
    "harness.offsets_ms": "ms",
    "harness.wal_ms": "ms",
    "harness.exec_ms": "ms",
    "harness.idle_ms": "ms",
    "harness.head_query_ms": "ms",
    "harness.tail_query_ms": "ms",
    "harness.batches_per_step": "count",
    "state.commit_ms": "ms",
    "state.update_ms": "ms",
    "state.gets_per_event": "count",
    "state.puts_per_event": "count",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "cpu.engine_s_per_kev": "s/kev",
    "cpu.python_share_pct": "%",
    "fk.handoff_rows": "count",
    "out.emitted_per_input": "count",
    "mirror.files": "count",
    "mirror.bytes": "bytes",
    "read.engine_ms": "ms",
    "mem.peak_rss_mb": "MB",
    "wall.batch_p50_ms": "ms",
    "wall.read_p50_ms": "ms",
    "wall.throughput_eps": "1/s",
}


def parse_args() -> argparse.Namespace:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def prepare_env(run_root: str) -> dict:
    """Before the JVM launches: Spark's Python workers must import the
    package from this checkout, and every temporary file of the engine
    and the program lands under the per-run root."""
    dirs = {k: os.path.join(run_root, k) for k in ("py", "spark", "jvm")}
    for d in dirs.values():
        os.makedirs(d)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path.insert(0, ROOT)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["TMPDIR"] = dirs["py"]
    tempfile.tempdir = dirs["py"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={dirs["jvm"]} -XX:-UsePerfData" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    return dirs


def stop_engine(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    try:
        spark.stop()
    finally:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _on_deadline(*_):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def _on_term(*_):
    raise SystemExit(143)  # unwind through the clean-up in main()


def main() -> int:
    args = parse_args()
    from layers import (Tracer, engine_cpu, engine_peak_rss_mb, host_steal_pct,
                        ProgramCpu)
    from workloads import WORKLOADS

    signal.signal(signal.SIGALRM, _on_deadline)
    signal.alarm(DEADLINE_S)
    signal.signal(signal.SIGTERM, _on_term)
    run_root = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        dirs = prepare_env(run_root)
        wl = WORKLOADS[args.workload](args.seed, args.seconds)
        env = {"nproc": len(os.sched_getaffinity(0)),
               "loadavg_start": os.getloadavg()}

        t_run = time.perf_counter()
        import pyspark
        from kafka_streams_app_spark.engine import get_spark
        from kafka_streams_app_spark.streaming.replay import tws_available

        spark = get_spark(app_name=f"perfbench-{wl.name}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t_run
        if wl.USES_TWS and not tws_available(spark):
            raise RuntimeError("transformWithStateInPandas is unavailable: the "
                               "run would measure the grouped-replay fallback")
        jvm_pid = spark.sparkContext._gateway.proc.pid
        wl.start(spark, tracer)
        for i in range(wl.WARMUP):
            wl.step(i)
            wl.read(i)
        setup_s = time.perf_counter() - t_run

        if tracer.enabled:  # warm-up is not a sample
            wl.cursor.new()
            tracer.samples.clear()
        step_ms, read_ms, step_cpu, read_cpu, events = [], [], 0.0, 0.0, 0
        cpu0 = engine_cpu(jvm_pid)
        stat0, _ = host_steal_pct()
        prog_cpu = ProgramCpu(jvm_pid)
        c_prev = prog_cpu.now()
        for i in range(wl.WARMUP, wl.n_steps):
            with tracer.span(i, "step"):
                t0 = time.perf_counter()
                wl.step(i)
                step_ms.append((time.perf_counter() - t0) * 1e3)
            c = prog_cpu.now()
            step_cpu += (c - c_prev) * 1e3
            events += wl.events(i)
            if tracer.enabled:
                wl.trace_step(i, step_ms[-1])
            c_prev = prog_cpu.now()
            with tracer.span(i, "read"):
                read_ms += wl.read(i)
            c = prog_cpu.now()
            read_cpu += (c - c_prev) * 1e3
            c_prev = c
        cpu1 = engine_cpu(jvm_pid)
        env["steal_pct"] = host_steal_pct(stat0)[1]
        tracer.add("mem.peak_rss_mb", engine_peak_rss_mb(jvm_pid))

        attempted, failed = wl.check()
        attempted += wl.n_steps
        wl.stop()
        if spark.streams.active:
            failed += 1
            print("perfbench: streaming queries left active", file=sys.stderr)
        if os.listdir(dirs["py"]):
            failed += 1
            print(f"perfbench: leftover dirs {os.listdir(dirs['py'])}",
                  file=sys.stderr)
        stop_engine(spark)
        spark = None
        env.update(loadavg_end=os.getloadavg(), pyspark=pyspark.__version__,
                   workload=wl.name, seed=args.seed, steps=len(step_ms),
                   reads=len(read_ms))

        if tracer.enabled:
            cpu_s, py_s = (b - a for a, b in zip(cpu0, cpu1))
            tracer.samples["engine.session_s"] = [session_s]
            tracer.samples["cpu.engine_s_per_kev"] = [cpu_s / events * 1e3]
            tracer.samples["cpu.python_share_pct"] = [100 * py_s / cpu_s]
            tracer.samples["wall.batch_p50_ms"] = [statistics.median(step_ms)]
            tracer.samples["wall.read_p50_ms"] = [statistics.median(read_ms)]
            tracer.samples["wall.throughput_eps"] = [events / (sum(step_ms) / 1e3)]
            if len(read_ms) >= 100:
                tracer.samples["read.p90_ms"] = [
                    statistics.quantiles(read_ms, n=10)[-1]]
            print_table(tracer)
            os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
            tracer.write(os.path.join(
                ROOT, ".perfbench", f"trace-{wl.name}-{args.seed}.jsonl"), env)
            metrics = {k: {"value": tracer.median(k), "unit": u}
                       for k, u in PER_LAYER.items()}
        else:  # CPU time: a busy host's steal does not inflate it (README)
            metrics = {
                "setup_s": (setup_s, "s"),
                "cpu_ms_per_kev": (step_cpu / events * 1e3, "ms/kev"),
                "read_cpu_ms": (read_cpu / len(read_ms), "ms"),
            }
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        env["wall"] = {"batch_p50_ms": statistics.median(step_ms),
                       "read_p50_ms": statistics.median(read_ms),
                       "throughput_eps": events / (sum(step_ms) / 1e3)}
        print("perfbench-env " + json.dumps(env))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}), flush=True)
        return 0
    finally:
        signal.alarm(0)
        try:
            if spark is not None:
                stop_engine(spark)
        finally:
            shutil.rmtree(run_root, ignore_errors=True)


def print_table(tracer) -> None:
    print(f"{'per-layer metric':<28}{'median':>14}{'samples':>9}")
    for name in sorted(tracer.samples):
        vals = tracer.samples[name]
        print(f"{name:<28}{statistics.median(vals):>14.3f}{len(vals):>9}")


if __name__ == "__main__":
    sys.exit(main())
