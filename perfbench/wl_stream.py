"""The stream leg: Kafka → deframe → Avro decode → watermarked
dedup → ``foreachBatch`` OCF write, as a Structured Streaming query.
It runs inside the traced ``query_mix`` run and reports per-layer
metrics only (``stream.*``, ``streaming.*``, ``load.*``).

Program: ``read_kafka_stream`` (the ``kafkawire`` source) →
``deframe_value_col`` → ``RecordCodec`` decode in ``mapInArrow`` →
``dedup_stream(keys=["event_id"], watermark=...)`` → ``foreachBatch``
calling ``write_avro_ocf``.

Load: the load process appends framed events straight into the broker
log. Phases:

- prime: a small batch of events, until the query reports a watermark;
- steady: an open loop at ``STEADY_RATE`` events/s for ``STEADY_S`` seconds,
  with duplicate and late events; per-event latency runs from the
  event's due time to the end of the ``foreachBatch`` call that wrote
  it;
- drain: ``DRAIN_OPS`` times, a fresh query over its own pre-produced
  backlog of ``DRAIN_EVENTS`` events, run with ``availableNow``; one
  operation is one drain, timed from start to termination, with the
  benchmark's reference job between drains.
"""

from __future__ import annotations

import ast
import os
import time
from typing import Iterator

import numpy as np
import pyarrow as pa

from perfbench import events
from perfbench.common import AVRO_FORMAT, Run, median, paired_loop

PARTITIONS = 2
STEADY_RATE = 1000            # events/s offered in the steady phase
STEADY_S = 6                  # length of the steady phase (s)
DRAIN_EVENTS = 20_000
DRAIN_OPS = 2
PRIME_EVENTS = 500
# Events of one micro-batch share its completion time, so the samples are
# grouped ~1,000 to a batch: p99 would track the single slowest batch of
# the run; p90 spans the slowest few.
TAIL_Q = 0.9
DUP_SHARE = 0.05
LATE_SHARE = 0.01
PRIME_BASE, STEADY_BASE, DRAIN_BASE = 1_000_000, 2_000_000, 10_000_000
_DDL = "event_id long, ts_us long, user_id long, event_type string, value double, props string"
_ARROW = pa.schema([("event_id", pa.int64()), ("ts_us", pa.int64()), ("user_id", pa.int64()),
                    ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())])


def decode_events(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Avro payloads → event columns with the program's ``RecordCodec``."""
    from shredder_spark.sinks.avro_codec import RecordCodec

    rc = RecordCodec(events.SCHEMA_JSON)
    for batch in batches:
        rows = [rc.decode(v) for v in batch.column(0).to_pylist()]
        cols = list(zip(*rows)) if rows else [()] * len(_ARROW)
        yield pa.RecordBatch.from_arrays([pa.array(c, f.type) for c, f in zip(cols, _ARROW)],
                                         schema=_ARROW)


def pipeline(spark, topic: str, bootstrap: str):
    import pyspark.sql.functions as F

    from shredder_spark.sinks.kafka import deframe_value_col, read_kafka_stream
    from shredder_spark.streaming.stateful import dedup_stream

    raw = read_kafka_stream(spark, topic, bootstrap, partitions=list(range(PARTITIONS)))
    decoded = (raw.select(deframe_value_col(F.col("value")).alias("avro"))
               .mapInArrow(decode_events, _DDL)
               .select("event_id", F.timestamp_micros("ts_us").alias("ts"), "user_id",
                       "event_type", "value", "props"))
    return dedup_stream(decoded, keys=["event_id"], watermark=events.WATERMARK)


class BatchSink:
    """The ``foreachBatch`` function: one OCF directory per epoch,
    with the wall-clock end of each call."""

    def __init__(self, out_root: str, tracer) -> None:
        self.out_root, self.tracer = out_root, tracer
        self.ends: dict[int, float] = {}
        self.write_s: list[float] = []

    def __call__(self, bdf, epoch: int) -> None:
        from shredder_spark.sinks.avro import write_avro_ocf

        t0 = time.monotonic()
        with self.tracer.span("sinks.avro.write_avro_ocf"):
            write_avro_ocf(bdf, os.path.join(self.out_root, f"epoch={epoch}"))
        t1 = time.monotonic()
        self.write_s.append(t1 - t0)
        self.ends[epoch] = t1


def _start(spark, run: Run, name: str, topic: str, bootstrap: str, available_now: bool = False):
    sink = BatchSink(run.path(name, "out"), run.tracer)
    w = (pipeline(spark, topic, bootstrap).writeStream.foreachBatch(sink)
         .option("checkpointLocation", run.path(name, "checkpoint")))
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start(), sink


def _committed(progress: dict | None) -> int:
    if not progress:
        return 0
    end = progress["sources"][0]["endOffset"]
    if isinstance(end, str):              # the Python source reports its offset dict's repr
        end = ast.literal_eval(end)
    return sum(int(v) for v in end.values())


def _read_output(spark, out_root: str) -> tuple[np.ndarray, np.ndarray]:
    """(event_id, epoch) of every written row, via Spark's JVM Avro reader."""
    t = spark.read.format(AVRO_FORMAT).load(out_root).select("event_id", "epoch").toArrow()
    return t.column(0).to_numpy(), t.column(1).to_numpy()


def _check_ids(run: Run, name: str, got: np.ndarray, want: np.ndarray) -> None:
    dups = len(got) - len(np.unique(got))
    run.check(f"{name}.no_duplicates", dups == 0, {"duplicates": int(dups)})
    missing = np.setdiff1d(want, got).size
    extra = np.setdiff1d(got, want).size
    run.check(f"{name}.id_set", missing == 0 and extra == 0,
              {"rows": int(len(got)), "want": int(len(want)), "missing": int(missing),
               "extra": int(extra)})


def _wait(cond, timeout: float, poll: float = 0.1) -> bool:
    t_end = time.monotonic() + timeout
    while time.monotonic() < t_end:
        if cond():
            return True
        time.sleep(poll)
    return False


def stream_leg(run: Run, spark, load) -> None:
    """The streaming leg of the traced ``query_mix`` run; it reports
    per-layer metrics only."""
    n_steady = int(STEADY_RATE * STEADY_S)
    stream_args = dict(partitions=PARTITIONS, dup_share=DUP_SHARE)
    steady = events.make_stream(run.seed, n_steady, rate=STEADY_RATE, id_base=STEADY_BASE,
                                late_share=LATE_SHARE, encode=False, **stream_args)
    drains = [events.make_stream(run.seed + 10 + k, DRAIN_EVENTS, rate=None,
                                 id_base=DRAIN_BASE + k * DRAIN_EVENTS, late_share=0.0,
                                 encode=False, **stream_args) for k in range(DRAIN_OPS)]
    run.detail["stream_inputs"] = {
        "steady": {"events": n_steady, "rate": STEADY_RATE, **steady.shares()},
        "drain": {"events": DRAIN_EVENTS, "ops": DRAIN_OPS, **drains[0].shares()}}

    # prime → watermark
    load.call("create_topic", topic="steady", partitions=PARTITIONS)
    q, sink = _start(spark, run, "steady", "steady", load.bootstrap)
    progress: dict[int, dict] = {}

    def poll() -> dict | None:
        last = q.lastProgress
        if last:
            progress[last["batchId"]] = last
        return last

    load.call("fill", topic="steady", seed=run.seed + 2, n=PRIME_EVENTS, id_base=PRIME_BASE,
              late_share=0.0, t_event0_us=events.EVENT_BASE_US - 60_000_000,
              **{**stream_args, "dup_share": 0.0})

    def watermark() -> str:
        return (poll() or {}).get("eventTime", {}).get("watermark", "1970")

    primed = _wait(lambda: watermark() > "1970-01-02", 60)
    run.check("stream.watermark_established", primed)
    run.phase("stream_primed")

    # steady phase (open loop)
    t_load = load.call("stream", topic="steady", seed=run.seed, n=n_steady, rate=STEADY_RATE,
                       id_base=STEADY_BASE, late_share=LATE_SHARE, **stream_args)["t0"]
    backlog = []
    while not load.call("wait_stream", timeout=0.2)["done"]:
        last = poll()
        hwm = sum(load.call("hwm", topic="steady")["hwm"].values())
        backlog.append(hwm - _committed(last))
    gen_stats = load.call("wait_stream", timeout=0)
    total = sum(load.call("hwm", topic="steady")["hwm"].values())
    caught_up = _wait(lambda: _committed(poll()) >= total, 60)
    run.check("stream.caught_up", caught_up)
    run.phase("stream_steady")
    q.stop()
    for pr in q.recentProgress:
        progress[pr["batchId"]] = pr

    ids, epochs = _read_output(spark, run.path("steady", "out"))
    want = np.concatenate([PRIME_BASE + np.arange(PRIME_EVENTS), steady.on_time_ids])
    _check_ids(run, "stream.steady", ids, want)
    is_steady = (ids >= STEADY_BASE) & (ids < STEADY_BASE + n_steady)
    ends = np.array([sink.ends.get(int(e), np.nan) for e in epochs[is_steady]])
    due = t_load + steady.due[ids[is_steady] - STEADY_BASE]
    lat_ms = np.sort((ends - due) * 1000)
    run.check("stream.batch_ends_known", not np.isnan(lat_ms).any())
    lat_ms = lat_ms[~np.isnan(lat_ms)]
    run.layer("stream.latency_p50_ms", np.quantile(lat_ms, 0.5), "ms")
    run.layer("stream.latency_tail_ms", np.quantile(lat_ms, TAIL_Q), "ms")

    # drain phase
    filled = [load.call("fill", topic=f"drain{k}", seed=run.seed + 10 + k, n=DRAIN_EVENTS,
                        id_base=DRAIN_BASE + k * DRAIN_EVENTS, late_share=0.0, **stream_args)
              for k in range(DRAIN_OPS)]
    drain_batches = []

    def drain_op(k: int) -> None:
        q2, sink2 = _start(spark, run, f"drain{k}", f"drain{k}", load.bootstrap,
                           available_now=True)
        finished = q2.awaitTermination(120)
        run.check(f"stream.drain{k}_finished", bool(finished) and q2.exception() is None)
        drain_batches.append(len(sink2.ends))

    ops = paired_loop(run, spark, 0, drain_op, min_reps=DRAIN_OPS)
    run.phase("stream_drain")
    for k, drain in enumerate(drains):
        ids2, _ = _read_output(spark, run.path(f"drain{k}", "out"))
        _check_ids(run, f"stream.drain{k}", ids2, drain.ids)
    run.layer("stream.events_per_s", median([DRAIN_EVENTS / w for w in ops.wall]), "1/s")
    run.layer("stream.cpu_vs_ref", ops.cpu_ratio(), "x")
    run.detail["stream_ops"] = {**ops.__dict__, "filled": filled, "batches": len(progress),
                                "drain_batches": drain_batches, "generator": gen_stats,
                                "latency_n": len(lat_ms)}

    steady_prog = [pr for pr in progress.values() if pr["numInputRows"] > 0]
    dur = [pr["durationMs"] for pr in steady_prog]
    run.layer("streaming.batches", len(steady_prog), "count")
    run.layer("streaming.trigger_ms_p50", median([d.get("triggerExecution", 0) for d in dur]), "ms")
    run.layer("streaming.add_batch_ms_p50", median([d.get("addBatch", 0) for d in dur]), "ms")
    run.layer("streaming.commit_ms_p50",
              median([d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur]), "ms")
    run.layer("sources.kafka_wire_datasource.latest_offset_ms_p50",
              median([d.get("latestOffset", 0) for d in dur]), "ms")
    last_state = [progress[b]["stateOperators"][0] for b in sorted(progress)
                  if progress[b].get("stateOperators")]
    if last_state:
        run.layer("streaming.state_rows", last_state[-1]["numRowsTotal"], "count")
        run.layer("streaming.state_bytes", last_state[-1]["memoryUsedBytes"], "bytes")
        run.layer("streaming.watermark_dropped",
                  sum(s.get("numRowsDroppedByWatermark", 0) for s in last_state), "count")
    run.layer("sinks.avro.write_ms_p50", median(sink.write_s) * 1000, "ms")
    run.layer("load.backlog_max", max(backlog) if backlog else 0, "count")
    run.layer("load.late_ms_max", gen_stats["late_ms_max"], "ms")
