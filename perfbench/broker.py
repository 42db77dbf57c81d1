"""The broker double, hosted in a process of its own.

``BrokerHost`` spawns one child process. For every job run the parent
asks it for a fresh ``WireBroker`` and, once the job has finished,
collects what that broker received:

- per topic, the uint64 hashes of the stored (key, value) records;
- exact counts: produce requests, records, request bytes, producer
  connections, ApiVersions handshakes, and bytes verified with CRC-32C
  (the same spans the producer checksummed);
- with tracing, the wall time of replaying every captured request
  through ``parse_produce_request_v0`` / ``parse_produce_request_v3``.

Hosting the double in its own process keeps its GIL-bound parsing off
the interpreter that drives Spark, and a fresh broker per run keeps one
run's growing log from slowing the next.
"""

from __future__ import annotations

import multiprocessing
import time
from multiprocessing import resource_tracker

from perfbench.probes import hash_records


def _serve(conn) -> None:
    # runs in the child, which inherits the parent's sys.path
    from hyperswitch_data_backfill_spark.sinks import kafka_wire as v0
    from hyperswitch_data_backfill_spark.sinks import kafka_wire_v2 as v2

    stats: dict = {}
    frames: list[tuple[int, bytes]] = []
    live = [False]
    capture = [False]

    def count(version: int, frame: bytes, req) -> None:
        if not live[0]:
            return
        stats["requests"] += 1
        stats["request_bytes"] += len(frame) + 4
        stats["records"] += sum(len(m) for parts in req.records.values()
                                for m in parts.values())
        if capture[0]:
            frames.append((version, frame))

    parse_legacy, parse_v3, crc32c = (
        v0.parse_produce_request_legacy, v2.parse_produce_request_v3, v2.crc32c)

    def counted_legacy(frame: bytes):
        version, req = parse_legacy(frame)
        count(version, frame, req)
        return version, req

    def counted_v3(frame: bytes):
        req = parse_v3(frame)
        count(3, frame, req)
        return req

    def counted_crc32c(data: bytes) -> int:
        if live[0]:
            stats["crc32c_bytes"] += len(data)
        return crc32c(data)

    v0.parse_produce_request_legacy = counted_legacy
    v2.parse_produce_request_v3 = counted_v3
    v2.crc32c = counted_crc32c

    broker = None
    try:
        while True:
            cmd, arg = conn.recv()
            if cmd == "start":
                stats.update(requests=0, request_bytes=0, records=0,
                             crc32c_bytes=0)
                frames.clear()
                capture[0] = bool(arg)
                live[0] = True
                broker = v0.WireBroker()
                conn.send(broker.port)
            elif cmd == "stop":
                broker.close()
                live[0] = False
                out = dict(stats, connections=broker.connections,
                           handshakes=broker.api_versions_requests,
                           errors=list(broker.errors))
                out["hashes"] = {t: hash_records(broker.records(t)).tobytes()
                                 for t in broker.topics()}
                broker = None
                if capture[0]:
                    out["replay_parse_s"] = _replay(frames, v0, v2)
                conn.send(out)
            elif cmd == "exit":
                return
    finally:
        if broker is not None:
            broker.close()


def _replay(frames, v0, v2) -> dict[str, float]:
    """Seconds to parse every captured request again, per dialect."""
    parsers = {0: v0.parse_produce_request_v0, 3: v2.parse_produce_request_v3}
    spent = {0: 0.0, 3: 0.0}
    for version, frame in frames:
        t = time.perf_counter()
        parsers[version](frame)
        spent[version] += time.perf_counter() - t
    return {"v0": spent[0], "v3": spent[3]}


class BrokerHost:
    """Parent-side handle on the broker process (a context manager)."""

    def __init__(self):
        ctx = multiprocessing.get_context("spawn")
        self._conn, child = ctx.Pipe()
        self._proc = ctx.Process(target=_serve, args=(child,), daemon=True)
        self._proc.start()
        child.close()

    @property
    def pid(self) -> int:
        return self._proc.pid

    def start(self, capture: bool = False) -> int:
        """A fresh broker; returns its port."""
        self._conn.send(("start", capture))
        return self._conn.recv()

    def stop(self) -> dict:
        self._conn.send(("stop", None))
        return self._conn.recv()

    def __enter__(self) -> "BrokerHost":
        return self

    def __exit__(self, *exc) -> None:
        try:
            self._conn.send(("exit", None))
        except OSError:
            pass
        self._proc.join(timeout=30)
        if self._proc.is_alive():
            self._proc.kill()
            self._proc.join()
        self._conn.close()
        # the spawn start method also started multiprocessing's resource
        # tracker: stop it and wait, so no process outlives the benchmark
        resource_tracker._resource_tracker._stop()
