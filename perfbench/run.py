"""Seeded end-to-end and per-layer benchmark of the search engine.

Run from the repository root:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 every engine call also runs under its own Spark job group
and the metrics are the per-layer metrics. Progress and load figures go
to standard error. Everything the run writes stays under .bench_work/ in
the current directory and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import tempfile
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def metric_units(section: str) -> dict[str, str]:
    """Metric names and units of one BENCHMARK.json section."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("ingest", "search"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(work: str):
    """One local session over every core, with all scratch space inside
    the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    from newssearchengine_spark.session import get_spark
    cores = len(os.sched_getaffinity(0))
    return get_spark("perfbench", master=f"local[{cores}]", extra_conf={
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    })


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait until the JVM
    and every Python worker it started have exited."""
    from measure import tree_pids
    from pyspark import SparkContext
    me = os.getpid()
    children = [p for p in tree_pids(me) if p != me]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def write_spans(tracer, workload: str, seed: int) -> str:
    """Write a traced run's spans, one JSON object a line, to
    .bench_work/spans/<workload>-<seed>.jsonl; return that path."""
    out = os.path.join(os.getcwd(), ".bench_work", "spans")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{workload}-{seed}.jsonl")
    with open(path, "w") as f:
        for s in tracer.spans:
            f.write(json.dumps({
                "id": s.sid, "name": s.name, "op": s.op, "parent": s.parent,
                "start": s.start - T_START, "end": s.end - T_START,
                "self_s": tracer.self_time(s), "jobs": s.jobs,
                "stages": s.stages, "tasks": s.tasks}) + "\n")
    return path


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import newssearchengine_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2

    from measure import RssSampler, Tracer, cpu_times, loadavg_1m
    from workloads import WORKLOADS, cleanup, log

    work = os.path.join(os.getcwd(), ".bench_work", f"{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    load0, cpu0 = loadavg_1m(), cpu_times()
    log(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
        f"trace={args.trace} loadavg_1m={load0}")
    spark = None
    try:
        # the sampler covers set-up and the timed window; the answer
        # checks after it run their own Spark jobs and are not measured
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_spark(work)
            session_s = time.perf_counter() - t0
            log(f"Spark session started in {session_s:.1f} s")
            tracer = Tracer(spark.sparkContext, traced=bool(args.trace))
            wl = WORKLOADS[args.workload](spark, tracer, args.seed,
                                          args.seconds, work)
            wl.setup()
            setup_s = time.perf_counter() - T_START
            wl.measure()
        load1, cpu1 = loadavg_1m(), cpu_times()
        wl.check()
        wl.report()
        steal = (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1])
        log(f"loadavg_1m start={load0} end={load1} cpu_steal={steal:.3f}")
        ledger = wl.ledger
        attempted, failed = ledger.attempted, ledger.failed
        if args.trace:
            layers = dict(wl.layers)
            layers.update({
                "session.start_s": session_s,
                "spark.failed_tasks": tracer.failed_tasks(),
                "host.loadavg_start": load0, "host.loadavg_end": load1,
                "host.cpu_steal_share": steal,
                "trace.round_s": wl.e2e["round_s"],
                "trace.span_share": tracer.call_share(wl.round_spans),
            })
            log("spans written to "
                + write_spans(tracer, args.workload, args.seed))
            metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                       for n, u in metric_units("per_layer").items()}
        else:
            values = dict(wl.e2e)
            values.update(setup_s=setup_s, peak_rss_mb=rss.peak / 2 ** 20,
                          ok_ops_ratio=(attempted - failed) / attempted)
            metrics = {n: {"value": float(values[n]), "unit": u}
                       for n, u in metric_units("end_to_end").items()}
        log("metrics " + json.dumps({k: round(v["value"], 4)
                                     for k, v in metrics.items()}))
    finally:
        if spark is not None:
            stop_spark(spark)
        cleanup(work)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
