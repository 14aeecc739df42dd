"""Load process for the Kafka workloads.

Hosts the repository's toy Kafka broker (``tests/kafka_toy_broker.py``,
imported unchanged) on localhost, counts what producers send it, and
runs the open-loop event generator, which appends framed events
straight into the broker log on a fixed schedule. It runs as its own
process so that load generation shares no interpreter with the
program under test.

Protocol: one JSON command per line on stdin, one JSON reply per line
on stdout. The first line written is ``{"bootstrap": "host:port"}``.
The process exits when stdin closes.

    python3 perfbench/load.py
"""

from __future__ import annotations

import json
import os
import struct
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import events, wire  # noqa: E402
from tests.kafka_toy_broker import ToyKafkaBroker  # noqa: E402


class CountingBroker(ToyKafkaBroker):
    """The toy broker plus counters for what producers send it."""

    def __init__(self) -> None:
        super().__init__()
        self.produce_requests = 0
        self.produced_records = 0
        self.produced_bytes = 0
        self.crc_errors = 0
        self._count_lock = threading.Lock()

    def _produce_v3(self, req, pos, corr):
        with self._count_lock:
            self.produce_requests += 1
        return super()._produce_v3(req, pos, corr)

    def _append(self, topic, part, batch):
        err, base = super()._append(topic, part, batch)
        with self._count_lock:
            if err == 46:
                self.crc_errors += 1
            elif err == 0:
                self.produced_records += struct.unpack_from(">i", batch, 57)[0]
                self.produced_bytes += len(batch)
        return err, base

    def append_direct(self, topic: str, part: int, batch: bytes) -> None:
        """Append without passing the producer counters."""
        err, _ = ToyKafkaBroker._append(self, topic, part, batch)
        if err:
            raise RuntimeError(f"append error {err}")

    def create_topic(self, topic: str, partitions: int) -> None:
        with self._lock:
            for p in range(partitions):
                self._log.setdefault((topic, p), [])
                self._bases.setdefault((topic, p), [])

    def hwm(self, topic: str) -> dict:
        with self._lock:
            return {str(p): n for (t, p), n in self._hwm.items() if t == topic}

    def dump(self, topic: str, path: str) -> int:
        """Write every record of ``topic`` as length-prefixed
        (partition, offset, key, value) entries."""
        with self._lock:
            logs = {p: list(entries) for (t, p), entries in self._log.items() if t == topic}
        n = 0
        with open(path, "wb") as fh:
            for p, entries in sorted(logs.items()):
                for _base, _count, batch in entries:
                    for off, key, value in wire.decode_batches(batch):
                        klen = -1 if key is None else len(key)
                        fh.write(struct.pack(">iqi", p, off, klen) + (key or b""))
                        fh.write(struct.pack(">i", len(value)) + value)
                        n += 1
        return n


def read_dump(path: str):
    """Yield (partition, offset, key, value) from a :meth:`dump` file."""
    with open(path, "rb") as fh:
        data = fh.read()
    pos = 0
    while pos < len(data):
        p, off, klen = struct.unpack_from(">iqi", data, pos)
        pos += 16
        key = None if klen < 0 else data[pos:pos + klen]
        pos += max(klen, 0)
        (vlen,) = struct.unpack_from(">i", data, pos)
        pos += 4
        yield p, off, key, data[pos:pos + vlen]
        pos += vlen


class OpenLoop:
    """Sends a pre-encoded event stream on its schedule. Each tick
    appends every message now due, one batch per partition; lateness
    is the send time minus the due time."""

    def __init__(self, broker: CountingBroker, topic: str, stream: events.Stream) -> None:
        self.broker, self.topic, self.stream = broker, topic, stream
        self.late_max_s = 0.0
        self.sent = 0
        self.ticks = 0
        self.t0 = time.monotonic() + 0.05
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        msgs = self.stream.messages
        i = 0
        while i < len(msgs):
            now = time.monotonic() - self.t0
            if msgs[i][0] > now:
                time.sleep(min(msgs[i][0] - now, 0.005))
                continue
            by_part: dict[int, list] = {}
            j = i
            while j < len(msgs) and msgs[j][0] <= now:
                by_part.setdefault(msgs[j][1], []).append((None, msgs[j][2]))
                j += 1
            for part, recs in by_part.items():
                self.broker.append_direct(self.topic, part, wire.encode_batch(recs))
            self.late_max_s = max(self.late_max_s, time.monotonic() - self.t0 - msgs[i][0])
            self.sent += j - i
            self.ticks += 1
            i = j

    def join(self, timeout: float) -> bool:
        self._thread.join(timeout)
        return not self._thread.is_alive()


def _stream_from(cmd: dict) -> events.Stream:
    return events.make_stream(
        cmd["seed"], cmd["n"], rate=cmd.get("rate"), id_base=cmd["id_base"],
        partitions=cmd["partitions"], dup_share=cmd["dup_share"],
        late_share=cmd["late_share"],
        t_event0_us=cmd.get("t_event0_us", events.EVENT_BASE_US))


def serve(broker: CountingBroker, inp, out) -> None:
    loop: OpenLoop | None = None

    def reply(obj) -> None:
        out.write(json.dumps(obj) + "\n")
        out.flush()

    for line in inp:
        cmd = json.loads(line)
        op = cmd["cmd"]
        if op == "create_topic":
            broker.create_topic(cmd["topic"], cmd["partitions"])
            reply({"ok": True})
        elif op == "stats":
            with broker._count_lock:
                reply({"produce_requests": broker.produce_requests,
                       "produced_records": broker.produced_records,
                       "produced_bytes": broker.produced_bytes,
                       "crc_errors": broker.crc_errors})
        elif op == "hwm":
            reply({"hwm": broker.hwm(cmd["topic"])})
        elif op == "dump":
            reply({"n": broker.dump(cmd["topic"], cmd["path"])})
        elif op == "fill":
            stream = _stream_from(cmd)
            broker.create_topic(cmd["topic"], cmd["partitions"])
            by_part: dict[int, list] = {}
            for _due, part, value, _i in stream.messages:
                by_part.setdefault(part, []).append((None, value))
            for part, recs in by_part.items():
                for k in range(0, len(recs), 1000):
                    broker.append_direct(cmd["topic"], part, wire.encode_batch(recs[k:k + 1000]))
            reply({"messages": len(stream.messages),
                   "bytes": sum(len(m[2]) for m in stream.messages)})
        elif op == "stream":
            stream = _stream_from(cmd)
            broker.create_topic(cmd["topic"], cmd["partitions"])
            loop = OpenLoop(broker, cmd["topic"], stream)
            reply({"t0": loop.t0, "messages": len(stream.messages)})
        elif op == "wait_stream":
            done = loop is not None and loop.join(cmd.get("timeout", 60))
            reply({"done": done, "late_ms_max": loop.late_max_s * 1000 if loop else 0.0,
                   "sent": loop.sent if loop else 0, "ticks": loop.ticks if loop else 0})
        else:
            reply({"error": f"unknown command {op!r}"})


def main() -> None:
    with CountingBroker() as broker:
        sys.stdout.write(json.dumps({"bootstrap": broker.bootstrap}) + "\n")
        sys.stdout.flush()
        serve(broker, sys.stdin, sys.stdout)


if __name__ == "__main__":
    main()


class LoadClient:
    """The benchmark's handle on a running load process."""

    def __init__(self) -> None:
        import subprocess

        self.proc = subprocess.Popen([sys.executable, os.path.abspath(__file__)],
                                     stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        self.bootstrap: str | None = None

    def connect(self) -> str:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("load process exited before it reported its broker")
        self.bootstrap = json.loads(line)["bootstrap"]
        return self.bootstrap

    def call(self, cmd: str, **args) -> dict:
        self.proc.stdin.write(json.dumps({"cmd": cmd, **args}) + "\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"load process exited during {cmd!r}")
        out = json.loads(line)
        if "error" in out:
            raise RuntimeError(out["error"])
        return out

    def close(self) -> None:
        import subprocess

        try:
            self.proc.stdin.close()
            self.proc.wait(timeout=10)
        except (OSError, subprocess.TimeoutExpired):
            self.proc.kill()
            self.proc.wait()
