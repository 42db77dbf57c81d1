"""CLI entry — ``python -m hyperswitch_data_backfill_spark``.

Argparse mirror of the reference's clap options (``main.rs:33-57``):

    -f/--config-path   TOML settings file (default config/config.toml)
    -t/--tenant-id     tenant whose topics/tag to use
    -b/--batch-size    rows per round-trip → JDBC fetchsize (default 10000)
    -p/--parallel      concurrent partitions per scan (default 5)
    -m/--merchant-id   repeatable merchant allow-list
    -s/--start-date    window start (default open, year 1)
    -e/--end-date      window end (default open, year 9999)

Where the reference then runs a hand-scheduled loop nest (merchants →
entities → batches, ``main.rs:190-313``), this CLI compiles the whole
job declaratively (``compile_job``) to one record frame over every
topic and hands the physical schedule to Spark: ``--parallel`` becomes
the number of JDBC partitions per entity scan, merchants become
pushed-down predicates, and batches disappear (``fetchsize`` covers the
round-trip sizing). The frame is written by ONE ``write_kafka`` action
under the ``backfill:*`` job group, which routes each record on its
``topic`` column, so every source table is scanned once.

Extension point: ``--entities-module`` names an importable module with
an ``ENTITIES: tuple[EntitySpec, ...]`` attribute — the analogue of the
reference's compiled-in ``data_transfer::{payment_intent, ...}`` dump
list. Default is the built-in demo pair over the fixture tables.

``--parquet-dir`` swaps the JDBC source for the parquet fixtures (used
by tests and dry runs; a real run reads ``[replica_database]``).
``--dry-run`` prints ``topic<TAB>count<TAB>sample value`` per topic
instead of producing to Kafka, from one ``noop`` write that carries
per-topic aggregates through ``DataFrame.observe`` (one action, one scan
per table, like the real run).
"""

from __future__ import annotations

import argparse
import importlib
import sys
from datetime import datetime

from hyperswitch_data_backfill_spark.config import load_config
from hyperswitch_data_backfill_spark.plans.spec import (
    DEFAULT_END,
    DEFAULT_START,
    DEMO_ENTITIES,  # ≙ the reference's compiled-in dump_* pipelines
    BackfillSpec,
    compile_job,
)

_DATE_FORMATS = (  # ≙ utility.rs:6-30 parse_to_primitive_datetime
    "%Y-%m-%d %H:%M:%S.%f",
    "%Y-%m-%d %H:%M:%S",
    "%Y-%m-%d",
)


def parse_datetime_arg(s: str) -> str:
    """Normalize a CLI date to 'YYYY-MM-DD HH:MM:SS[.ffffff]' or raise."""
    for fmt in _DATE_FORMATS:
        try:
            dt = datetime.strptime(s, fmt)
        except ValueError:
            continue
        out = dt.strftime("%Y-%m-%d %H:%M:%S.%f") if dt.microsecond else dt.strftime(
            "%Y-%m-%d %H:%M:%S"
        )
        return out
    raise argparse.ArgumentTypeError(f"Invalid date format: {s!r}")


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="hyperswitch_data_backfill_spark",
        description="Database-to-Kafka backfill on Spark",
    )
    p.add_argument("-f", "--config-path", default="config/config.toml")
    p.add_argument("-t", "--tenant-id", default="default")
    p.add_argument("-b", "--batch-size", type=int, default=10_000)
    p.add_argument("-p", "--parallel", type=int, default=5)
    p.add_argument("-m", "--merchant-id", action="append", default=None,
                   help="repeatable; omit for all merchants")
    p.add_argument("-s", "--start-date", type=parse_datetime_arg, default=DEFAULT_START)
    p.add_argument("-e", "--end-date", type=parse_datetime_arg, default=DEFAULT_END)
    p.add_argument("--entities-module", default=None,
                   help="module exposing ENTITIES: tuple[EntitySpec, ...]")
    p.add_argument("--parquet-dir", default=None,
                   help="read entity tables from <dir>/<table>.parquet instead of JDBC")
    p.add_argument("--dry-run", action="store_true",
                   help="print each topic's record count and a sample value "
                        "(one pass over the sources) instead of producing to Kafka")
    p.add_argument("--master-key-env", default=None,
                   help="env var holding a hex master key: decrypt enc:<hex> "
                        "config values at boot (≙ the reference's KMS secret "
                        "resolution, encryption.rs:11-186)")
    return p


def observe_topics(records, topics: list[str]) -> dict[str, tuple[int, str | None]]:
    """Per-topic ``(record count, sample value)`` of a key/value/topic
    frame in ONE action: the aggregates ride a ``noop`` write through
    ``DataFrame.observe``. The sample is the topic's smallest value
    (None when the topic is empty)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("dry-run")
    aggs = []
    for i, t in enumerate(topics):
        on_topic = F.col("topic") == t
        aggs += [F.count_if(on_topic).alias(f"n{i}"),
                 F.min(F.when(on_topic, F.col("value"))).alias(f"sample{i}")]
    records.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
    got = obs.get
    return {t: (got[f"n{i}"], got[f"sample{i}"]) for i, t in enumerate(topics)}


def main(argv: list[str] | None = None, spark=None) -> int:
    """Run the backfill job. ``spark``: inject an existing session (tests);
    when None the active session is used, or one is created and stopped
    here."""
    args = build_parser().parse_args(argv)
    if args.master_key_env:
        import os

        from hyperswitch_data_backfill_spark.config import (
            encrypted_value_resolver,
        )

        key_hex = os.environ.get(args.master_key_env)
        if not key_hex:
            print(f"error: env var {args.master_key_env} is unset", file=sys.stderr)
            return 2
        try:
            key = bytes.fromhex(key_hex)
        except ValueError:
            print(f"error: env var {args.master_key_env} is not valid hex",
                  file=sys.stderr)
            return 2
        if len(key) not in (16, 24, 32):
            print(f"error: master key from {args.master_key_env} must be "
                  f"16/24/32 bytes (AES-128/192/256), got {len(key)}",
                  file=sys.stderr)
            return 2
        resolver = encrypted_value_resolver(key)
    else:
        from hyperswitch_data_backfill_spark.config import env_resolver as resolver
    cfg = load_config(args.config_path, tenant_id=args.tenant_id,
                      batch_size=args.batch_size, resolver=resolver)

    entities = DEMO_ENTITIES
    if args.entities_module:
        entities = tuple(importlib.import_module(args.entities_module).ENTITIES)

    merchant_ids = tuple(args.merchant_id) if args.merchant_id else None
    job = BackfillSpec(entities=entities, start=args.start_date, end=args.end_date,
                       merchant_ids=merchant_ids, tenant_id=args.tenant_id)

    owns_session = False
    if spark is None:
        from pyspark.sql import SparkSession

        from hyperswitch_data_backfill_spark.session import get_spark

        # get_spark is getOrCreate: stop the session only if it is new
        owns_session = SparkSession.getActiveSession() is None
        spark = get_spark(app_name="backfill-job")
    try:
        if args.parquet_dir:
            from hyperswitch_data_backfill_spark.catalog import load_table

            tables = {s.table: load_table(spark, args.parquet_dir, s.table)
                      for s in entities}
        else:
            from dataclasses import replace

            from hyperswitch_data_backfill_spark.sources.jdbc import (
                merchant_predicates,
                read_jdbc_bounded,
                read_jdbc_predicates,
            )

            tables = {}
            for s in entities:
                src = replace(cfg.replica_database, table=s.table)
                if merchant_ids is not None:
                    # ceil, so partition count never exceeds --parallel
                    # (the flag bounds replica connection load)
                    preds = merchant_predicates(
                        s.merchant_col, list(merchant_ids), s.time_col,
                        args.start_date, args.end_date,
                        group_size=-(-len(merchant_ids) // args.parallel),
                    )
                    tables[s.table] = read_jdbc_predicates(spark, src, preds)
                else:
                    tables[s.table] = read_jdbc_bounded(
                        spark, src, s.merchant_col, args.parallel
                    )

        consolidated = cfg.kafka.consolidated_topic
        records = compile_job(tables, job, consolidated_topic=consolidated)["*"]

        from hyperswitch_data_backfill_spark.telemetry import (
            ProgressReporter,
            job_group,
        )

        if args.dry_run:
            topics = [s.topic for s in entities]
            if consolidated is not None:
                topics.append(consolidated)
            topics = list(dict.fromkeys(topics))
            with job_group(spark, "backfill:*", "dry run: count every topic"):
                stats = observe_topics(records, topics)
            for topic, (n, payload) in stats.items():
                print(f"{topic}\t{n}\t{payload or ''}")
            return 0

        from hyperswitch_data_backfill_spark.sinks.kafka import write_kafka

        with job_group(spark, "backfill:*", "produce every topic"), \
                ProgressReporter(spark, prefix="backfill"):
            write_kafka(records, cfg.kafka)
        return 0
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
