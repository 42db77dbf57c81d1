"""Measurement helpers that sit outside the program under test.

- record digests: an order-independent comparison of produced records
  against the oracle's (missing, unexpected and duplicate counts);
- counter deltas over ``pg_stat_*`` snapshots;
- spans: (name, start, end, parent, run id), kept in memory;
- peak RSS of this process and the Spark JVM tree;
- a per-stage summary of a Spark event log.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

import numpy as np

# --------------------------------------------------------------- digests


def record_hash(key: bytes | None, value: bytes | None) -> int:
    """64-bit hash of one (key, value) record; None and b"" differ."""
    h = hashlib.blake2b(digest_size=8)
    for part in (key, value):
        if part is None:
            h.update(b"\x00")
        else:
            h.update(b"\x01" + len(part).to_bytes(4, "big") + part)
    return int.from_bytes(h.digest(), "big")


def hash_records(records) -> np.ndarray:
    """uint64 hashes of an iterable of (key, value) pairs (str or bytes)."""
    def raw(x):
        return x.encode("utf-8") if isinstance(x, str) else x
    return np.fromiter((record_hash(raw(k), raw(v)) for k, v in records),
                       dtype=np.uint64)


def digest(hashes: np.ndarray) -> tuple[int, int]:
    """Order-independent digest: (count, sum of hashes mod 2**64)."""
    return len(hashes), int(hashes.sum(dtype=np.uint64))


def compare_records(expected: np.ndarray, got: np.ndarray) -> dict:
    """Multiset comparison of two hash arrays.

    ``missing``: expected copies not produced; ``unexpected``: produced
    records the oracle has no copy of; ``duplicate``: extra copies of
    expected records. ``match`` also requires equal digests."""
    eu, ec = np.unique(expected, return_counts=True)
    gu, gc = np.unique(got, return_counts=True)
    keys = np.union1d(eu, gu)
    e = np.zeros(len(keys), dtype=np.int64)
    g = np.zeros(len(keys), dtype=np.int64)
    e[np.searchsorted(keys, eu)] = ec
    g[np.searchsorted(keys, gu)] = gc
    extra = np.maximum(g - e, 0)
    out = {
        "expected": len(expected),
        "got": len(got),
        "missing": int(np.maximum(e - g, 0).sum()),
        "unexpected": int(extra[e == 0].sum()),
        "duplicate": int(extra[e > 0].sum()),
    }
    out["match"] = (digest(expected) == digest(got)
                    and out["missing"] == out["unexpected"]
                    == out["duplicate"] == 0)
    return out


# -------------------------------------------------------- counter deltas


def counter_delta(before: dict, after: dict) -> dict:
    """``after - before`` for every counter in ``after``; nested dicts
    recurse. A counter absent before counts from 0. A counter that went
    backwards raises: the counters compared here only grow, so a drop
    means a reset (for example a restarted server) and the delta is
    meaningless."""
    out = {}
    for name, value in after.items():
        prev = before.get(name, 0)
        if isinstance(value, dict):
            out[name] = counter_delta(prev if isinstance(prev, dict) else {},
                                      value)
            continue
        if value < prev:
            raise ValueError(f"counter {name!r} went backwards: {prev} -> {value}")
        out[name] = value - prev
    return out


# ----------------------------------------------------------------- spans


class Tracer:
    """In-memory spans. Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.run_id: str | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def top_level_s(self, run_id: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["run"] == run_id and s["parent"] is None)

    def write(self, path: str, **header) -> None:
        with open(path, "w") as f:
            json.dump({**header, "spans": self.spans}, f)


# ------------------------------------------------------------- host probes


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces; ppid is the 2nd field after ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Samples the summed RSS of this process and its descendants (the
    Spark JVM and its Python workers), minus the ``exclude`` subtrees
    (the broker double's process), every ``interval`` seconds, and
    keeps the peak since the last ``reset``."""

    def __init__(self, exclude: set[int], interval: float = 0.25):
        self.exclude = exclude
        self.interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> int:
        kids = _children()
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            total += _rss_bytes(pid)
            todo.extend(kids.get(pid, ()))
        with self._lock:
            self._peak = max(self._peak, total)
        return total

    def reset(self) -> None:
        with self._lock:
            self._peak = 0
        self.sample()

    @property
    def peak(self) -> int:
        self.sample()
        with self._lock:
            return self._peak

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()


def cpu_jiffies() -> tuple[int, int]:
    """(stolen, total) CPU time of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


STEAL_LIMIT = 0.05


def contended(load: float, cpus: int, steal_share: float) -> bool:
    """Whether other work competed for the cores during a run. The
    benchmark alone (Spark's tasks, the broker, Postgres) keeps a bit
    more than one thread per core runnable, so the 1-minute load
    average must exceed 1.5 per core; CPU time stolen by other guests
    of a virtual machine counts above STEAL_LIMIT."""
    return load > 1.5 * cpus or steal_share > STEAL_LIMIT


def unstolen(runs: list[dict], least: int = 2) -> list[dict]:
    """The runs that lost at most STEAL_LIMIT of their CPU time to other
    guests, when at least ``least`` did; otherwise all of them. Steal is
    set by the host, not by the program, so leaving such runs out keeps
    the medians on the program's own speed."""
    kept = [r for r in runs if r["steal_share"] <= STEAL_LIMIT]
    return kept if len(kept) >= least else runs


# ------------------------------------------------------------- event log

_STAGE_METRICS = {
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.resultSerializationTime": ("result_ser_s", 1e-3),
    "internal.metrics.executorRunTime": ("task_run_s", 1e-3),
}


def summarize_event_log(path: str) -> dict[str, dict]:
    """Per job group (one action each in the job loop): stage count,
    task count, stage wall (submission to completion, summed), and
    summed executor CPU, GC and result-serialization seconds."""
    group_of_stage: dict[int, str] = {}
    out: dict[str, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                agg = out.setdefault(group, {
                    "jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0,
                    "cpu_s": 0.0, "gc_s": 0.0, "result_ser_s": 0.0,
                    "task_run_s": 0.0})
                agg["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    group_of_stage[sid] = group
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                group = group_of_stage.get(info["Stage ID"])
                if group is None:
                    continue
                agg = out[group]
                agg["stages"] += 1
                agg["tasks"] += info.get("Number of Tasks", 0)
                if info.get("Submission Time") and info.get("Completion Time"):
                    agg["run_s"] += (info["Completion Time"]
                                     - info["Submission Time"]) / 1e3
                for acc in info.get("Accumulables", []):
                    metric = _STAGE_METRICS.get(acc.get("Name"))
                    if metric is not None:
                        agg[metric[0]] += float(acc["Value"]) * metric[1]
    return out


def median(values: list[float]) -> float:
    return float(statistics.median(values))
