"""``fw_avro``: fixed-width ingest through the public ``export()``.

A clean, ASCII-declared feed goes through
``export(read_fixed_width(...), out_dir)`` to snappy Avro OCF in a
closed loop with one caller; one operation is one ``export()`` call
over the whole feed.

The traced run adds the layers around it: the alternative ingest
tiers, the held-frame OCF write, a ``local[1]`` export, and the Kafka
route of ``export()`` on a dirty feed (multibyte runes, malformed
numerics, ragged lines) into the toy broker, with that route's own
output checks.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import numpy as np

from perfbench import feeds, wire
from perfbench.common import (
    AVRO_FORMAT, Run, control_s, latency_metrics, median, paired_loop, throughput_metrics,
    timed_loop, warm_up)

FW_AVRO_ROWS = 80_000           # 42.4 MB
FW_KAFKA_ROWS = 4_000           # ~2.1 MB, traced Kafka leg
WARM_OPS = 10                   # untimed exports before the timed loop
LAYER_REPS = 2                  # calls per per-layer timing (median)
KAFKA_SCHEMA_ID = 7
KAFKA_SAMPLE = 1000


def _gen_feed(run: Run, rows: int, dirty: bool) -> tuple[feeds.Feed, str, float]:
    """Generate the feed three times (median reported in set-up) and
    keep the last copy on disk."""
    path = run.path("feed.txt")
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        feed = feeds.Feed(run.seed, rows, dirty=dirty)
        size = feed.write(path)
        times.append(time.perf_counter() - t0)
    run.detail["feed"] = {"rows": rows, "bytes": size, "shares": feed.shares(),
                          "gen_s": times}
    return feed, path, median(times)


def _count_jobs(spark, group: str, action) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _median_time(reps: int, action) -> float:
    return median(timed_loop(0, action, min_reps=reps))


# ---------------------------------------------------------------- fw_avro


def run_fw_avro(run: Run, spark, start_s: float, load=None) -> None:
    from shredder_spark.benchcontrol import drain
    from shredder_spark.sinks.export import export
    from shredder_spark.sources.fixedwidth import read_fixed_width

    tr = run.tracer
    schema = feeds.schema(ascii_declared=True)
    feed, path, gen_s = _gen_feed(run, FW_AVRO_ROWS, dirty=False)
    mb = os.path.getsize(path) / 1e6
    control = [control_s(spark)] if run.trace else []

    def op(i: int) -> None:
        out = run.path(f"ocf{i % 2}")
        shutil.rmtree(out, ignore_errors=True)
        with tr.span("fw_avro.op"):
            with tr.span("sources.fixedwidth.read_fixed_width"):
                df = read_fixed_width(spark, path, schema)
            with tr.span("sinks.export.export"):
                export(df, out)
        run.op(True)

    warm = warm_up(spark, op, WARM_OPS)
    run.metric("setup_s", start_s + gen_s + sum(warm), "s")
    run.phase("setup")
    ops = paired_loop(run, spark, run.seconds, lambda i: op(WARM_OPS + i))
    run.phase("timed")
    throughput_metrics(run, ops, mb)
    latency_metrics(run, [w * 1000 for w in ops.wall])
    walls = ops.wall
    last = run.path(f"ocf{(WARM_OPS + len(walls) - 1) % 2}")

    # output check: Spark's JVM Avro reader against the generator's rows
    table = spark.read.format(AVRO_FORMAT).load(last).toArrow()
    run.check("fw_avro.no_nulls", sum(c.null_count for c in table.columns) == 0)
    back = feeds.canonical(table)
    want = feed.expected()
    run.check("fw_avro.row_count", len(back) == len(want), {"got": len(back), "want": len(want)})
    run.check("fw_avro.row_hash", feeds.row_hash(back[list(want.columns)]) == feeds.row_hash(want))
    run.phase("checks")

    if not run.trace:
        return
    run.layer("session.start_s", start_s, "s")
    files = glob.glob(os.path.join(last, "*.avro"))
    run.layer("sinks.avro.files_out", len(files), "count")
    run.layer("sinks.avro.bytes_out", sum(os.path.getsize(f) for f in files), "bytes")

    def parse(_i):
        with tr.span("sources.fixedwidth.parse"):
            drain(read_fixed_width(spark, path, schema))
    run.layer("sources.fixedwidth.parse_s", _median_time(LAYER_REPS, parse), "s")

    from shredder_spark.sources.fixedwidth_arrow import read_fixed_width_arrow

    def arrow_parse(_i):
        with tr.span("sources.fixedwidth_arrow.parse"):
            drain(read_fixed_width_arrow(spark, path, schema))
    run.layer("sources.fixedwidth_arrow.parse_s", _median_time(LAYER_REPS, arrow_parse), "s")

    from shredder_spark.sinks.avro_vec import fixed_width_to_avro_fused

    def fused(i):
        out = run.path(f"fused{i}")
        with tr.span("sinks.avro_vec.fused"):
            fixed_width_to_avro_fused(spark, path, schema, out,
                                      tasks=spark.sparkContext.defaultParallelism)
        shutil.rmtree(out, ignore_errors=True)
    run.layer("sinks.avro_vec.fused_s", _median_time(LAYER_REPS, fused), "s")

    from shredder_spark.sinks.avro import write_avro_ocf

    held = read_fixed_width(spark, path, schema).cache()
    held.count()

    def write(i):
        out = run.path(f"held{i}")
        with tr.span("sinks.avro.write"):
            write_avro_ocf(held, out)
        shutil.rmtree(out, ignore_errors=True)
    run.layer("sinks.avro.write_s", _median_time(LAYER_REPS, write), "s")
    held.unpersist()

    out = run.path("jobs")
    run.layer("sinks.export.spark_jobs",
              _count_jobs(spark, "perfbench-export",
                          lambda: export(read_fixed_width(spark, path, schema), out)), "count")
    _kafka_leg(run, spark, load)
    control.append(control_s(spark))
    run.layer("control.s", control[-1], "s")
    run.detail["control_s"] = control

    # single-task baseline: export at local[1] in the same (warm) JVM;
    # the first call on the new context is a warm-up
    from perfbench.common import start_spark

    spark.stop()
    spark1, _ = start_spark(cpus=1)
    walls_c1 = []
    for i in range(2):
        out = run.path(f"c1_{i}")
        t0 = time.perf_counter()
        export(read_fixed_width(spark1, path, schema), out)
        walls_c1.append(time.perf_counter() - t0)
    run.layer("sinks.export.mb_per_s_c1", mb / walls_c1[-1], "MB/s")
    spark1.stop()


# ---------------------------------------------------------------- Kafka leg


def _avro_fields() -> list[tuple[str, bool]]:
    """Writer schema of the framed values: the parsed frame's columns,
    all nullable, temporals as epoch micros."""
    kind = {"timestamp-micros": "long"}
    return [(kind.get(t, t), True) for _, t, _, _ in feeds.FIELDS]


def _check_topic(run: Run, load, topic: str, want, rng) -> None:
    dump = run.path(f"{topic}.bin")
    load.call("dump", topic=topic, path=dump)
    from perfbench.load import read_dump

    recs = list(read_dump(dump))
    run.check("fw_kafka.message_count", len(recs) == len(want),
              {"got": len(recs), "want": len(want)})
    bad_frame = sum(1 for _p, _o, _k, v in recs
                    if wire.unframe(v)[:2] != (0, KAFKA_SCHEMA_ID))
    run.check("fw_kafka.framing", bad_frame == 0, {"bad": bad_frame})
    keys = sorted(k.decode() for _p, _o, k, _v in recs if k is not None)
    want_keys = sorted(str(k) for k in want["order_key"])
    run.check("fw_kafka.keys", keys == want_keys)
    by_key = {str(k): i for i, k in enumerate(want["order_key"])}
    fields = _avro_fields()
    sample = rng.choice(len(recs), size=min(KAFKA_SAMPLE, len(recs)), replace=False)
    mismatched = 0
    cols = list(want.columns)
    for j in sample:
        _p, _o, k, v = recs[j]
        got = wire.avro_decode(fields, wire.unframe(v)[2])
        row = want.iloc[by_key[k.decode()]]
        if any(got[c] != row[name] for c, name in enumerate(cols)):
            mismatched += 1
    run.check("fw_kafka.decoded_sample", mismatched == 0,
              {"sampled": len(sample), "mismatched": mismatched})


def _kafka_leg(run: Run, spark, load) -> None:
    """The Kafka route of ``export()`` on a dirty feed (traced runs of
    ``fw_avro`` only): ``read_fixed_width(..., with_quarantine=True)``,
    then ``.clean`` → ``export(clean, "http://<broker>", ...)`` into the
    toy broker, with its output checks and per-layer numbers."""
    from shredder_spark.benchcontrol import drain
    from shredder_spark.sinks.export import export
    from shredder_spark.sinks.kafka import prepare_kafka_batch
    from shredder_spark.sinks.kafka_wire import write_kafka_wire
    from shredder_spark.sources.fixedwidth import read_fixed_width

    tr = run.tracer
    schema = feeds.schema(ascii_declared=False)
    feed = feeds.Feed(run.seed + 1, FW_KAFKA_ROWS, dirty=True)
    path = run.path("dirty.txt")
    mb = feed.write(path) / 1e6
    run.detail["kafka_feed"] = {"rows": feed.rows, "mb": mb, "shares": feed.shares()}
    url = "http://" + load.bootstrap

    def clean():
        return read_fixed_width(spark, path, schema, with_quarantine=True).clean

    def export_to(topic: str) -> None:
        load.call("create_topic", topic=topic, partitions=1)
        with tr.span("kafka_leg.op"):
            with tr.span("sinks.export.export"):
                export(clean(), url, topic=topic, schema_id=KAFKA_SCHEMA_ID, key_col="order_key")

    export_to("fw0")                                        # warm-up
    before = load.call("stats")
    walls = timed_loop(0, lambda i: export_to(f"fw{i + 1}"), min_reps=2)
    after = load.call("stats")
    run.layer("sinks.export.kafka_mb_per_s", median([mb / w for w in walls]), "MB/s")

    want = feed.expected()
    counts = [sum(load.call("hwm", topic=f"fw{i}")["hwm"].values()) for i in range(len(walls) + 1)]
    run.check("fw_kafka.every_rep_count", all(c == len(want) for c in counts),
              {"counts": counts, "want": len(want)})
    _check_topic(run, load, f"fw{len(walls)}", want, np.random.default_rng(run.seed))
    n_bad = read_fixed_width(spark, path, schema, with_quarantine=True).quarantine.count()
    run.check("fw_kafka.quarantined", n_bad == feed.bad_rows, {"got": n_bad, "want": feed.bad_rows})

    reqs = after["produce_requests"] - before["produce_requests"]
    recs = after["produced_records"] - before["produced_records"]
    run.layer("broker.produce_requests", reqs / len(walls), "count")
    run.layer("broker.records_per_request", recs / max(reqs, 1), "count")
    run.layer("broker.crc_errors", after["crc_errors"] - before["crc_errors"], "count")
    run.layer("sources.fixedwidth.rows_in", feed.rows, "count")
    run.layer("sources.fixedwidth.quarantined", n_bad, "count")
    run.layer("sources.fixedwidth.useful_ratio", (feed.rows - n_bad) / feed.rows, "ratio")

    def parse(_i):
        with tr.span("sources.fixedwidth.quarantine_parse"):
            drain(clean())
    run.layer("sources.fixedwidth.quarantine_parse_s", _median_time(LAYER_REPS, parse), "s")

    def prepare(_i):
        with tr.span("sinks.kafka.prepare"):
            drain(prepare_kafka_batch(clean(), KAFKA_SCHEMA_ID, key_col="order_key"))
    run.layer("sinks.kafka.prepare_s", _median_time(LAYER_REPS, prepare), "s")

    held = prepare_kafka_batch(clean(), KAFKA_SCHEMA_ID, key_col="order_key").cache()
    held.count()
    s0 = load.call("stats")

    def produce(i):
        topic = f"wire{i}"
        load.call("create_topic", topic=topic, partitions=1)
        with tr.span("sinks.kafka_wire.produce"):
            write_kafka_wire(held, topic, load.bootstrap)
    run.layer("sinks.kafka_wire.produce_s", _median_time(LAYER_REPS, produce), "s")
    s1 = load.call("stats")
    held.unpersist()
    produced = {k: (s1[k] - s0[k]) / LAYER_REPS for k in ("produced_records", "produced_bytes")}
    run.layer("sinks.kafka_wire.msgs", produced["produced_records"], "count")
    run.layer("sinks.kafka_wire.bytes", produced["produced_bytes"], "bytes")
    load.call("create_topic", topic="jobs", partitions=1)
    run.layer("sinks.export.kafka_spark_jobs",
              _count_jobs(spark, "perfbench-kafka-export",
                          lambda: export(clean(), url, topic="jobs", schema_id=KAFKA_SCHEMA_ID,
                                         key_col="order_key")), "count")
