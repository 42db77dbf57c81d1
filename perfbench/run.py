#!/usr/bin/env python3
"""Job-shaped benchmark: Postgres replica -> event projection -> Kafka wire.

    python3 perfbench/run.py --workload backfill_v0 --seed 1 --seconds 25 --trace 0

Runs the backfill job the way ``python -m hyperswitch_data_backfill_spark``
does, through public functions only: a real PostgreSQL (``PgServer``)
holds the replica tables, ``read_pgwire`` / ``read_pgwire_predicates``
scan them, ``compile_job`` builds one frame per topic, and every frame is
written as its own action inside ``job_group`` by ``write_kafka_wire``
(Produce v0) or ``write_kafka_wire_v2`` (Produce v3, magic-2 batches) to
a fresh ``WireBroker`` hosted in its own process. Every run's output is
checked against a DuckDB oracle.

The last line of standard output is one JSON object: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Workloads, metrics and how to cite them: perfbench/README.md.
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
import traceback
from contextlib import ExitStack
from dataclasses import dataclass

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)   # the program and this package import from the root

from perfbench.broker import BrokerHost  # noqa: E402
from perfbench.inputs import (  # noqa: E402
    copy_lines,
    expected_records,
    make_tables,
    pick_slice,
    write_parquet,
)
from perfbench.probes import (  # noqa: E402
    RssSampler,
    Tracer,
    compare_records,
    contended,
    counter_delta,
    cpu_jiffies,
    hash_records,
    median,
    summarize_event_log,
    unstolen,
)

WORK = os.path.join(ROOT, ".perfbench_run")
CONSOLIDATED = "consolidated-events"
SETUP_REPS = 3          # replica set-ups per process; setup_s takes their median
DRIVER_MEM = "1g"
MICRO_REPS = 5
MIN_WARM = 3            # timed runs per untraced process, however short the window
STAGES = ("scan", "project", "full")    # one traced set, in run order


@dataclass(frozen=True)
class Workload:
    name: str
    dialect: str        # "v0": Produce v0 message sets; "v2": Produce v3 batches
    targeted: bool      # merchant allow-list + window, predicate slices


WORKLOADS = {w.name: w for w in (
    Workload("backfill_v0", "v0", False),
    Workload("backfill_v2", "v2", False),
    Workload("merchant_slice", "v2", True),
)}

E2E_UNITS = {"job_s": "s", "records_per_s": "1/s", "setup_s": "s",
             "first_job_s": "s", "peak_rss_mb": "MB",
             "runs_failed_share": "share", "records_bad_share": "share"}
# Printed with every run but left out of the JSON result. The shares
# are 0 on a correct run, and a failure shows as correct/failed there.
# first_job_s is one sample per process and moves with host contention
# (IQR 6-22 % of the median over five seeds), too wide for a bound; the
# traced run reports it as session.first_job_s.
E2E_PRINT_ONLY = ("runs_failed_share", "records_bad_share", "first_job_s")


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _prepare_environment() -> None:
    """Keep Spark's, the JVM's and Python's scratch files in the
    checkout, and size the driver for a small host."""
    system_tmp = tempfile.gettempdir()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.chmod(tmp, 0o1777)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell")
    tempfile.tempdir = tmp
    if os.geteuid() == 0 and subprocess.run(
            ["runuser", "-u", "postgres", "--", "test", "-w", tmp],
            capture_output=True).returncode != 0:
        # PgServer drops to the postgres user, which cannot reach a
        # checkout inside a private home directory: the server's data
        # directory then goes to the system temporary directory.
        _log(f"note: postgres cannot write {tmp}; the replica's data "
             f"directory goes to {system_tmp}")
        tempfile.tempdir = system_tmp


# ------------------------------------------------------------ the replica


def _setup_replica(tables, lines, entities):
    """Start a server and load it: tables, COPY, one (merchant, time)
    index per entity table, ANALYZE. Returns (server, total_s, copy_s)."""
    from hyperswitch_data_backfill_spark.sources.pgwire import PgServer

    t0 = time.perf_counter()
    pg = PgServer().__enter__()
    try:
        with pg.connect() as conn:
            for t in tables:
                conn.execute(t.ddl)
            t1 = time.perf_counter()
            for t in tables:
                conn.copy_in(f"COPY {t.name} FROM STDIN", lines[t.name])
            copy_s = time.perf_counter() - t1
            for s in entities:
                conn.execute(f"CREATE INDEX ON {s.table} "
                             f"({s.merchant_col}, {s.time_col})")
            conn.execute("ANALYZE")
    except BaseException:
        pg.__exit__(None, None, None)
        raise
    return pg, time.perf_counter() - t0, copy_s


def _read_counters(conn) -> dict:
    _c, rows = conn.query(
        "SELECT relname, seq_scan, seq_tup_read, coalesce(idx_scan, 0),"
        " coalesce(idx_tup_fetch, 0) FROM pg_stat_user_tables")
    _c, sess = conn.query("SELECT sessions FROM pg_stat_database"
                          " WHERE datname = current_database()")
    return {
        "tables": {r[0]: {"seq_scan": r[1], "seq_tup_read": r[2],
                          "idx_scan": r[3], "idx_tup_fetch": r[4]}
                   for r in rows},
        "sessions": sess[0][0],
    }


def _wait_backends_gone(conn, timeout: float = 10.0) -> None:
    """Backends flush their statistics on exit: wait until every other
    client session has ended so counter deltas are complete."""
    deadline = time.monotonic() + timeout
    while True:
        _c, rows = conn.query(
            "SELECT count(*) FROM pg_stat_activity WHERE backend_type ="
            " 'client backend' AND pid <> pg_backend_pid()")
        if rows[0][0] == 0:
            return
        if time.monotonic() > deadline:
            raise TimeoutError("replica sessions still open after the job")
        time.sleep(0.02)


def _counter_totals(delta: dict) -> dict:
    tables = delta["tables"].values()
    out = {k: sum(t[k] for t in tables)
           for k in ("seq_scan", "seq_tup_read", "idx_scan", "idx_tup_fetch")}
    out["tup_read"] = out["seq_tup_read"] + out["idx_tup_fetch"]
    out["sessions"] = delta["sessions"]
    return out


# ---------------------------------------------------------------- the job


class Bench:
    """One workload in one process: its inputs, session, replica and
    every job run with its checks; cleanup goes on ``stack``."""

    def __init__(self, args, wl: Workload, stack: ExitStack):
        from hyperswitch_data_backfill_spark.plans.spec import (
            DEFAULT_END,
            DEFAULT_START,
            DEMO_ENTITIES,
            BackfillSpec,
        )

        self.args, self.wl, self.stack = args, wl, stack
        # this process's own files; the trace file alone outlives it
        self.scratch = tempfile.mkdtemp(prefix="run-", dir=WORK)
        stack.callback(shutil.rmtree, self.scratch, ignore_errors=True)
        self.cpus = len(os.sched_getaffinity(0))
        self.entities = DEMO_ENTITIES
        if wl.targeted:
            self.merchants, start, end = pick_slice(args.seed)
        else:
            self.merchants, start, end = None, DEFAULT_START, DEFAULT_END
        self.start, self.end = start, end
        self.spec = BackfillSpec(
            entities=DEMO_ENTITIES, start=start, end=end,
            merchant_ids=tuple(self.merchants) if self.merchants else None)
        self.tracer = Tracer(enabled=False)
        self.runs: list[dict] = []        # every job run, checked
        self.seen_jobs: dict[str, set] = {}
        self.spark = None
        self.pg = None
        self.rss = None                   # RssSampler while jobs run

    # -- set-up ------------------------------------------------------

    def prepare_inputs(self) -> None:
        self.tables = make_tables(self.args.seed)
        self.lines = {t.name: copy_lines(t) for t in self.tables}
        pq_dir = os.path.join(self.scratch, "parquet")
        os.makedirs(pq_dir)
        for t in self.tables:
            write_parquet(t, os.path.join(pq_dir, f"{t.name}.parquet"))
        self.expected = expected_records(
            self.entities, pq_dir, self.start, self.end, self.merchants,
            CONSOLIDATED)
        self.expected_hashes = {t: hash_records(r)
                                for t, r in self.expected.items()}
        # every selected source row appears once on the consolidated topic
        self.source_rows = len(self.expected[CONSOLIDATED])

    def start_session(self) -> float:
        from hyperswitch_data_backfill_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench",
                               master=f"local[{self.cpus}]")
        elapsed = time.perf_counter() - t0
        self.stack.callback(_stop_spark, self.spark)
        return elapsed

    def setup_replicas(self) -> tuple[list[float], list[float]]:
        totals, copies = [], []
        for i in range(SETUP_REPS):
            pg, total, copy = _setup_replica(self.tables, self.lines,
                                             self.entities)
            totals.append(total)
            copies.append(copy)
            if i < SETUP_REPS - 1:
                pg.__exit__(None, None, None)
        self.pg = pg
        self.stack.callback(pg.__exit__, None, None, None)
        self.monitor = pg.connect()
        self.stack.callback(self.monitor.close)
        return totals, copies

    # -- one job -----------------------------------------------------

    def scans(self) -> dict:
        from hyperswitch_data_backfill_spark.sources.jdbc import (
            merchant_predicates,
        )
        from hyperswitch_data_backfill_spark.sources.pgwire import (
            read_pgwire,
            read_pgwire_predicates,
        )

        pg, out = self.pg, {}
        for s in self.entities:
            if self.merchants is None:
                out[s.table] = read_pgwire(
                    self.spark, pg.host, pg.port, s.table, user=pg.user,
                    database=pg.database, partition_column=s.merchant_col,
                    num_partitions=self.cpus)
            else:
                preds = merchant_predicates(
                    s.merchant_col, self.merchants, s.time_col, self.start,
                    self.end,
                    group_size=-(-len(self.merchants) // self.cpus))
                out[s.table] = read_pgwire_predicates(
                    self.spark, pg.host, pg.port, s.table, preds,
                    user=pg.user, database=pg.database)
        return out

    def job(self, port: int | None, stage: str = "full") -> list[str]:
        """Scan, compile, and write every frame as its own action.

        ``stage`` "full" produces to the broker at ``port``. The staged
        variants keep the same actions and partitions but stop early:
        "project" writes each frame to Spark's noop sink, "scan" writes
        only a constant per row, so the projection is pruned while the
        replica scans and filters still run."""
        from pyspark.sql import functions as F

        from hyperswitch_data_backfill_spark.plans.spec import compile_job
        from hyperswitch_data_backfill_spark.sinks.kafka_wire import (
            write_kafka_wire,
        )
        from hyperswitch_data_backfill_spark.sinks.kafka_wire_v2 import (
            write_kafka_wire_v2,
        )
        from hyperswitch_data_backfill_spark.telemetry import job_group

        span = self.tracer.span
        write = write_kafka_wire if self.wl.dialect == "v0" else write_kafka_wire_v2
        prefix = "backfill" if stage == "full" else f"stage:{stage}"
        with span("scan.build"):
            tables = self.scans()
        with span("compile_job"):
            frames = compile_job(tables, self.spec,
                                 consolidated_topic=CONSOLIDATED)
        groups = []
        for topic, frame in frames.items():
            group = f"{prefix}:{topic}"
            groups.append(group)
            with span(f"write.{stage}", topic=topic), \
                    job_group(self.spark, group, f"produce {topic}"):
                if stage == "full":
                    write(frame, "127.0.0.1", port)
                else:
                    if stage == "scan":
                        frame = frame.select(F.lit(1).alias("one"))
                    frame.write.format("noop").mode("overwrite").save()
        return groups

    def _spark_work(self, groups: list[str]) -> tuple[int, int]:
        """Spark jobs and tasks the last run added under ``groups``."""
        st = self.spark.sparkContext.statusTracker()
        jobs = tasks = 0
        for g in groups:
            ids = set(st.getJobIdsForGroup(g))
            new = ids - self.seen_jobs.get(g, set())
            self.seen_jobs[g] = ids
            jobs += len(new)
            for jid in new:
                info = st.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    stage = st.getStageInfo(sid)
                    tasks += stage.numTasks if stage else 0
        return jobs, tasks

    def run(self, host, stage: str = "full", capture: bool = False) -> dict:
        """One job run with its counters; a full run is also checked
        against the oracle. Exceptions mark the run failed."""
        wire = stage == "full"
        rec = {"stage": stage, "load_start": os.getloadavg()[0]}
        steal0, total0 = cpu_jiffies()
        if self.rss is not None:
            self.rss.reset()
        port = host.start(capture) if wire else None
        try:
            before = _read_counters(self.monitor)
            t0 = time.perf_counter()
            groups = self.job(port, stage)
            rec["job_s"] = time.perf_counter() - t0
            rec["spark_jobs"], rec["spark_tasks"] = self._spark_work(groups)
            _wait_backends_gone(self.monitor)
            delta = counter_delta(before, _read_counters(self.monitor))
            rec["replica"] = _counter_totals(delta)
        except Exception:
            rec["error"] = traceback.format_exc()
            _log(f"run failed:\n{rec['error']}")
        finally:
            broker = host.stop() if wire else None
        rec["load_end"] = os.getloadavg()[0]
        if self.rss is not None:
            rec["peak_rss"] = self.rss.peak
        steal1, total1 = cpu_jiffies()
        rec["steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)
        rec["contended"] = contended(max(rec["load_start"], rec["load_end"]),
                                     self.cpus, rec["steal_share"])
        rec["ok"] = "error" not in rec
        if broker is not None:
            rec.update(self._check(broker))
            rec["ok"] = rec["ok"] and rec.pop("match")
            self.runs.append(rec)
        return rec

    def _check(self, broker: dict) -> dict:
        """Compare what the broker stored with the oracle, per topic."""
        empty = _hashes(b"")
        got = {t: _hashes(b) for t, b in broker.pop("hashes").items()}
        checks = {t: compare_records(self.expected_hashes.get(t, empty),
                                     got.get(t, empty))
                  for t in set(got) | set(self.expected_hashes)}
        match = all(c["match"] for c in checks.values()) and not broker["errors"]
        if not match:
            _log(f"OUTPUT MISMATCH: {json.dumps(checks, sort_keys=True)}"
                 f" broker errors: {broker['errors']}")
        return {
            "broker": broker,
            "match": match,
            "acked": sum(c["got"] for c in checks.values()),
            "bad": sum(c["missing"] + c["unexpected"] + c["duplicate"]
                       for c in checks.values()),
            "expected": sum(len(h) for h in self.expected_hashes.values()),
        }


def _hashes(raw: bytes) -> np.ndarray:
    return np.frombuffer(raw, dtype=np.uint64)


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM, which exits once its
    stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ----------------------------------------------------------- event log


class EventLog:
    """Spark's own event logger attached to the running session for the
    traced phase only, writing uncompressed JSON lines."""

    def __init__(self, spark, directory: str):
        sc = spark.sparkContext
        jvm, self._jsc = sc._jvm, sc._jsc.sc()
        conf = (self._jsc.conf().clone()
                .set("spark.eventLog.compress", "false")
                .set("spark.eventLog.rolling.enabled", "false"))
        self.app_id = f"perfbench-{os.getpid()}"
        self.path = os.path.join(directory, self.app_id)
        os.makedirs(directory, exist_ok=True)
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self.app_id, jvm.scala.Option.apply(None),
            jvm.java.net.URI("file://" + directory), conf,
            sc._jsc.hadoopConfiguration())
        self._listener.start()
        self._jsc.addSparkListener(self._listener)

    def close(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()   # delivery is asynchronous
        self._jsc.removeSparkListener(self._listener)
        self._listener.stop()


# ------------------------------------------------------------- metrics


def _micro(bench: Bench) -> dict:
    """Per-call costs of the wire codecs and the row decoder, timed
    directly on this workload's own records."""
    from hyperswitch_data_backfill_spark.sinks import kafka_wire as v0
    from hyperswitch_data_backfill_spark.sinks import kafka_wire_v2 as v2

    span = bench.tracer.span
    sample = [(k.encode(), v.encode())
              for k, v in bench.expected[CONSOLIDATED][:1000]]
    per_1k = 1000.0 / len(sample)

    def timed(name, fn, *a):
        times = []
        for _ in range(MICRO_REPS):
            with span(name):
                t0 = time.perf_counter()
                fn(*a)
                times.append(time.perf_counter() - t0)
        return median(times)

    req_v0 = v0.encode_produce_request_v0(1, {CONSOLIDATED: sample})
    req_v3 = v2.encode_produce_request_v3(1, {CONSOLIDATED: sample})
    batch = v2.encode_record_batch_v2(sample)
    out = {
        "produce.encode_v0_ms_per_1k": 1e3 * per_1k * timed(
            "micro.encode_v0", v0.encode_produce_request_v0, 1,
            {CONSOLIDATED: sample}),
        "produce.encode_v2_ms_per_1k": 1e3 * per_1k * timed(
            "micro.encode_v2", v2.encode_produce_request_v3, 1,
            {CONSOLIDATED: sample}),
        "produce.crc32c_ms_per_mb": 1e3 * 1e6 / len(batch) * timed(
            "micro.crc32c", v2.crc32c, batch),
        "broker.parse_v0_ms_per_1k": 1e3 * per_1k * timed(
            "micro.parse_v0", v0.parse_produce_request_v0, req_v0[4:]),
        "broker.parse_v2_ms_per_1k": 1e3 * per_1k * timed(
            "micro.parse_v2", v2.parse_produce_request_v3, req_v3[4:]),
    }
    rates = []
    for _ in range(3):
        with span("micro.query_stream"), bench.pg.connect() as conn:
            t0 = time.perf_counter()
            _cols, rows = conn.query_stream("SELECT * FROM lineitem")
            n = sum(1 for _ in rows)
            rates.append(n / (time.perf_counter() - t0))
    out["pgwire.decode_rows_per_s"] = median(rates)
    return out


def _end_to_end(bench: Bench, setup_s: float, first: dict,
                warm: list[dict]) -> dict:
    """(value, sample count) per end-to-end metric; every run passed."""
    attempted = len(bench.runs)
    failed = sum(not r["ok"] for r in bench.runs)
    expected = sum(r["expected"] for r in bench.runs)
    warm = unstolen(warm)
    return {
        "job_s": (median([r["job_s"] for r in warm]), len(warm)),
        "records_per_s": (median([r["acked"] / r["job_s"] for r in warm]),
                          len(warm)),
        "setup_s": (setup_s, SETUP_REPS),
        "first_job_s": (first["job_s"], 1),
        "peak_rss_mb": (median([r["peak_rss"] for r in warm]) / 2**20,
                        len(warm)),
        "runs_failed_share": (failed / attempted, attempted),
        "records_bad_share": (sum(r["bad"] for r in bench.runs) / expected,
                              attempted),
    }


def _per_layer(bench: Bench, session_s, first, untraced_s, copies, sets,
               micro, eventlog, coverage) -> dict:
    """Layer split of the traced sets. Scan, project and full runs share
    their actions and partitions, so each difference isolates a layer:
    scan_s = scan run, project_s = project run - scan run, produce.s =
    full run - project run."""
    def med(stage):
        return median([s[stage]["job_s"] for s in sets])

    job_s, proj_s, scan_s = med("full"), med("project"), med("scan")
    last = sets[-1]["full"]
    broker = sets[0]["full"]["broker"]
    replica = last["replica"]
    crc_mb = broker["crc32c_bytes"] / 1e6
    parse_s = sum(broker["replay_parse_s"].values())
    backfill = [v for g, v in eventlog.items() if g.startswith("backfill:")]
    n_full = len(sets)
    return {
        "session.start_s": session_s,
        "session.first_job_s": first["job_s"],
        "pgwire.load_s": median(copies),
        "pgwire.scan_s": scan_s,
        "pgwire.decode_rows_per_s": micro.pop("pgwire.decode_rows_per_s"),
        "pgwire.seq_scan": replica["seq_scan"],
        "pgwire.idx_scan": replica["idx_scan"],
        "pgwire.tup_read_per_row": replica["tup_read"] / bench.source_rows,
        "pgwire.sessions": replica["sessions"],
        "spec.compile_s": median(
            [s["end"] - s["start"] for s in bench.tracer.spans
             if s["name"] == "compile_job"]),
        "spec.project_s": proj_s - scan_s,
        "spark.jobs": last["spark_jobs"],
        "spark.tasks": last["spark_tasks"],
        "produce.s": job_s - proj_s,
        "produce.requests": broker["requests"],
        "produce.records": broker["records"],
        "produce.bytes": broker["request_bytes"],
        "produce.connections": broker["connections"],
        "produce.handshakes": broker["handshakes"],
        "produce.crc32c_mb": crc_mb,
        **micro,
        "produce.crc32c_share": (micro["produce.crc32c_ms_per_mb"] * crc_mb
                                 / 1e3 / job_s),
        "broker.parse_s": parse_s,
        "broker.parse_share": parse_s / job_s,
        "stage.run_s": sum(v["run_s"] for v in backfill) / n_full,
        "stage.cpu_s": sum(v["cpu_s"] for v in backfill) / n_full,
        "trace.job_s": job_s,
        "trace.overhead_s": job_s - untraced_s,
        "trace.span_coverage": coverage,
    }


PER_LAYER_UNITS = {
    "session.start_s": "s", "session.first_job_s": "s",
    "pgwire.load_s": "s", "pgwire.scan_s": "s",
    "pgwire.decode_rows_per_s": "1/s", "pgwire.seq_scan": "count",
    "pgwire.idx_scan": "count", "pgwire.tup_read_per_row": "ratio",
    "pgwire.sessions": "count", "spec.compile_s": "s", "spec.project_s": "s",
    "spark.jobs": "count", "spark.tasks": "count", "produce.s": "s",
    "produce.requests": "count", "produce.records": "count",
    "produce.bytes": "bytes", "produce.connections": "count",
    "produce.handshakes": "count", "produce.crc32c_mb": "MB",
    "produce.encode_v0_ms_per_1k": "ms", "produce.encode_v2_ms_per_1k": "ms",
    "produce.crc32c_ms_per_mb": "ms/MB", "produce.crc32c_share": "share",
    "broker.parse_v0_ms_per_1k": "ms", "broker.parse_v2_ms_per_1k": "ms",
    "broker.parse_s": "s", "broker.parse_share": "share",
    "stage.run_s": "s", "stage.cpu_s": "s",
    "trace.job_s": "s", "trace.overhead_s": "s",
    "trace.span_coverage": "share",
}


# ---------------------------------------------------------------- main


def _fits(t0: float, deadline_s: float, next_s: float) -> bool:
    """Whether a run lasting ``next_s`` still ends inside the window."""
    return time.perf_counter() - t0 + next_s <= deadline_s


def _traced_sets(bench: Bench, host, deadline_s: float):
    """Staged sets with Spark's event log and the spans on, then the
    micro-timings. Returns (warm-up runs, sets, micro, event-log path)."""
    # the staged plans compile on first use: run each once untimed
    warmups = [bench.run(host, stage) for stage in STAGES[:-1]]
    eventlog = EventLog(bench.spark, os.path.join(bench.scratch, "eventlog"))
    bench.tracer.enabled = True
    sets: list[dict] = []
    t0 = time.perf_counter()
    try:
        while not sets or _fits(t0, deadline_s, set_s):
            i, one = len(sets), {}
            for stage in STAGES:
                bench.tracer.run_id = f"{stage}-{i}"
                one[stage] = bench.run(host, stage, capture=(i == 0))
            sets.append(one)
            set_s = sum(r.get("job_s", 0.0) for r in one.values())
        bench.tracer.run_id = "micro"
        micro = _micro(bench)
    finally:
        eventlog.close()
    return warmups, sets, micro, eventlog.path


def measure(args, wl: Workload) -> dict:
    with ExitStack() as stack:
        t_begin = time.perf_counter()
        host = stack.enter_context(BrokerHost())
        bench = Bench(args, wl, stack)
        bench.prepare_inputs()
        t_inputs = time.perf_counter()
        session_s = bench.start_session()
        totals, copies = bench.setup_replicas()
        setup_s = session_s + median(totals)
        _log(f"inputs {t_inputs - t_begin:.2f} s, session {session_s:.2f} s,"
             f" replica set-ups {', '.join(f'{t:.2f}' for t in totals)} s"
             f" (COPY {', '.join(f'{c:.2f}' for c in copies)} s)")

        # a traced process splits its window between untraced runs (for
        # trace.overhead_s) and the traced sets
        deadline_s = args.seconds / 2 if args.trace else args.seconds
        min_warm = 2 if args.trace else MIN_WARM
        with RssSampler(exclude={host.pid}) as bench.rss:
            first = bench.run(host)                  # first_job_s
            warm: list[dict] = []
            t0 = time.perf_counter()
            while len(warm) < min_warm or _fits(t0, deadline_s,
                                                warm[-1].get("job_s", 0.0)):
                warm.append(bench.run(host))
        bench.rss = None
        staged: list[dict] = []
        if args.trace and all(r["ok"] for r in bench.runs):
            warmups, sets, micro, eventlog = _traced_sets(bench, host,
                                                          deadline_s)
            staged = warmups + [r for one in sets for r in one.values()]
        result = {"correct": all(r["ok"] for r in bench.runs + staged),
                  "attempted": len(bench.runs),
                  "failed": sum(not r["ok"] for r in bench.runs)}
        if not result["correct"]:
            print(f"workload {wl.name} seed {args.seed}: {result['failed']}"
                  f" of {result['attempted']} checked runs failed or produced"
                  " wrong records")
            result["metrics"] = {}
            return result

        e2e = _end_to_end(bench, setup_s, first, warm)
        loads = [r["load_start"] for r in bench.runs] + [
            r["load_end"] for r in bench.runs]
        busy = sum(r["contended"] for r in bench.runs)
        print(f"workload {wl.name} seed {args.seed}: {len(bench.runs)} runs,"
              f" loadavg {min(loads):.2f}..{max(loads):.2f} on {bench.cpus}"
              f" cpus, steal up to"
              f" {max(r['steal_share'] for r in bench.runs):.1%}"
              + (f" ({busy} contended)" if busy else ""))
        for name, (value, n) in e2e.items():
            print(f"  {name} = {value:.6g} {E2E_UNITS[name]} (n={n})")
        print("  job_s per run: " + " ".join(
            f"{r['job_s']:.3f}" for r in bench.runs))
        replica = [json.dumps(r["replica"], sort_keys=True) for r in warm]
        if len(set(replica)) > 1:
            _log("note: replica counters differed between runs: "
                 + " | ".join(sorted(set(replica))))
        if not args.trace:
            result["metrics"] = {
                k: {"value": v, "unit": E2E_UNITS[k]}
                for k, (v, _n) in e2e.items() if k not in E2E_PRINT_ONLY}
            return result

        summary = summarize_event_log(eventlog)
        untraced_s = median([r["job_s"] for r in unstolen(warm, least=1)])
        # top-level spans of a traced full run against the untraced job_s
        coverage = median([bench.tracer.top_level_s(f"full-{i}")
                           for i in range(len(sets))]) / untraced_s
        layers = _per_layer(bench, session_s, first, untraced_s, copies,
                            sets, micro, summary, coverage)
        for name, value in layers.items():
            print(f"  {name} = {value:.6g} {PER_LAYER_UNITS[name]}")
        bench.tracer.write(
            os.path.join(WORK, f"trace-{wl.name}-seed{args.seed}.json"),
            workload=wl.name, seed=args.seed, event_log=summary,
            runs=[{k: v for k, v in r.items() if k != "broker"}
                  for r in bench.runs + staged if "broker" in r
                  or r["stage"] != "full"])
        result["metrics"] = {k: {"value": v, "unit": PER_LAYER_UNITS[k]}
                             for k, v in layers.items()}
        return result


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # a terminated run still unwinds: stops Postgres, Spark and the broker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        import hyperswitch_data_backfill_spark  # noqa: F401
    except ImportError as exc:
        _log(f"error: the program is not importable from {ROOT}: {exc}")
        return 2
    os.makedirs(WORK, exist_ok=True)
    _prepare_environment()
    result = measure(args, WORKLOADS[args.workload])
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
