"""Benchmark entry point.

    python3 perfbench/run.py --workload fw_avro --seed 1 --seconds 10 --trace 0

Runs one workload through the library's public entry points on
``local[4]``, checks its output against a reference that does not use
the program's code, and prints one JSON object as the last line of
stdout: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics
(a layer the workload does not use reads 0). The line before it holds
the run's details: input shares, sample counts, check results.

Workloads: ``fw_avro`` (one operation = one ``export()`` call over the
feed) and ``query_mix`` (one operation = one pass over the query
list). Each operation runs between two runs of the benchmark's fixed
reference job (``common.ref_job``), which no change to the program
moves.

End-to-end metrics:

- ``setup_s``: session start + input generation (median of three) +
  warm-up (``fw_avro``: untimed exports; ``query_mix``: the oracle
  check pass and three more passes), reference jobs excluded.
- ``cpu_vs_ref``: mean CPU seconds the program's processes (the
  benchmark's Python process, the JVM, Python workers; not the load
  process) spend on one operation, over the mean CPU seconds of one
  reference job, both over the run's timed window. It is the operation's compute cost in units
  of a fixed job on the same host. On a shared host, wall and CPU time
  per operation both move by up to 2x between runs as the host's other
  tenants come and go; the ratio cancels most of that.
- ``peak_rss_mb``: peak summed resident memory (PSS, so shared pages
  count once) of the benchmark process, its JVM and Python workers,
  load process excluded. The JVM heap is fixed and pre-touched, so it
  adds a constant.

Absolute and wall-clock numbers are per-layer metrics of the traced
run, with no bound: ``trace.mb_per_s`` (input MB per second of
operation wall time), ``trace.latency_p50_ms`` / ``trace.latency_tail_ms``
(operation wall time; p50 is also the tail, as a run holds a handful of
operations), ``trace.cpu_s_per_gb`` and ``trace.time_vs_ref``.
Untraced runs print them in the detail line. The traced ``fw_avro`` run
adds ``export()`` to Kafka on a dirty feed; the traced ``query_mix``
run adds the streaming leg (``wl_stream.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.common import (  # noqa: E402
    OUT_DIR, ROOT, RssSampler, Run, Tracer, make_work_dir, median, prepare_env, start_spark,
    steal_share)

WORKLOADS = ("fw_avro", "query_mix")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _program_present() -> str | None:
    for rel in ("shredder_spark/sinks/export.py", "tests/kafka_toy_broker.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return rel
    return None


def _run_workload(run: Run, rss: RssSampler) -> None:
    load = None
    if run.trace:                      # the Kafka and stream legs of the traced runs
        from perfbench.load import LoadClient

        load = LoadClient()
        rss.exclude.add(load.proc.pid)
        run.load_pids.add(load.proc.pid)
    try:
        spark, start_s = start_spark()
        if load is not None:
            load.connect()
        run.phase("session")
        if run.workload == "fw_avro":
            from perfbench.wl_fw import run_fw_avro

            run_fw_avro(run, spark, start_s, load)
        else:
            from perfbench.wl_query import run_query_mix

            run_query_mix(run, spark, start_s)
            if run.trace:
                from perfbench.wl_stream import stream_leg

                stream_leg(run, spark, load)
    finally:
        _stop_spark()
        if load is not None:
            load.close()
        run.phase("stopped")


def _stop_spark() -> None:
    """Stop the session, then the JVM it launched, and wait for it (its
    Python workers exit with it)."""
    import subprocess

    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()                # the JVM exits when this pipe closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = _program_present()
    if missing is not None:
        print(f"perfbench: program file {missing} not found under {ROOT}", file=sys.stderr)
        return 2
    spec = _spec()
    work = make_work_dir(args.workload, args.seed)
    prepare_env(work)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work,
              Tracer(bool(args.trace)))
    t0 = time.perf_counter()
    steal0 = steal_share()
    try:
        with RssSampler() as rss:
            run.rss = rss
            _run_workload(run, rss)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    steal1 = steal_share()
    run.detail["host_steal_share"] = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
    if args.trace:
        run.tracer.write(os.path.join(OUT_DIR, "traces", f"{args.workload}-seed{args.seed}.json"))
        run.detail["span_self_s"] = {n: median(run.tracer.self_times(n))
                                     for n in sorted({s.name for s in run.tracer.spans})}
        metrics = {}
        for m in spec["per_layer"]:
            metrics[m["name"]] = run.layers.get(m["name"], {"value": 0.0, "unit": m["unit"]})
    else:
        run.metric("peak_rss_mb", rss.peak_kb / 1024, "MB")
        metrics = {m["name"]: run.e2e[m["name"]] for m in spec["end_to_end"]}
    correct = run.failed == 0 and all(c["ok"] for c in run.checks.values())
    run.detail.update(why=next(w["why"] for w in spec["workloads"] if w["name"] == args.workload),
                      wall_s=time.perf_counter() - t0, checks=run.checks,
                      extra_layers=sorted(set(run.layers) - {m["name"] for m in spec["per_layer"]}))
    print(json.dumps({"detail": run.detail}, default=float))
    print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
