"""SparkSession factory + session preparation.

The reference bootstraps config/secrets/telemetry in ``main.rs:59-117``;
our equivalent bootstrap is a SparkSession with the settings every
operator in this engine assumes:

- **AQE on** — runtime re-planning (skew joins, partition coalescing)
  replaces the reference's hand-tuned ``--parallel``/``--batch_size``
  knobs (``main.rs:43-47``) at any scale.
- **Arrow on** — every Python-side transform in this engine is a
  vectorized pandas UDF (the slow per-row path of the reference,
  ``payment_intent.rs:84-107``, has no equivalent here).
- **nanosAsLong** — the fixture ``events`` table carries parquet
  TIMESTAMP(NANOS), which Spark cannot map natively; we read it as long
  and convert with integer division (catalog.py) so values match
  DuckDB's ns→µs truncation bit-for-bit.
- **UTC session timezone** — all fixture timestamps are timezone-naive;
  pinning UTC makes the (rare) ltz↔ntz conversions identity.
- **Worker daemon** — for ``local`` masters, ``get_spark`` starts the
  daemons of the task-evaluating Python workers through
  ``worker_daemon``, so those workers import PySpark from the installed
  package (the files the driver runs) rather than from Spark's
  ``pyspark.zip``, whose 1,328-entry directory PySpark's per-evaluation
  ``importlib.invalidate_caches()`` re-reads. Sessions built elsewhere
  (the verify driver's, ``prepare_session`` only) keep Spark's default
  daemon.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

_DAEMON_MODULE = "hyperswitch_data_backfill_spark.worker_daemon"

# Runtime-settable SQL confs applied to *any* session handed to us (the
# verify driver builds its own session for entry()/queries(); we must not
# assume it used our builder).
_RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Pandas-UDF stages (similarity matmuls, codec decoders) are BLAS /
    # byte-level batch work: bigger Arrow batches amortize the per-batch
    # Python round-trip. Measured on sim_topk at sf0.1: 1.08 s -> 0.86 s
    # vs the 10k default; memory per batch stays small (embeddings are
    # ~KB/row). Round 3.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
}


def _shuffle_partitions_for(spark: SparkSession) -> str | None:
    """Local-mode shuffle sizing for sessions that kept Spark's 200 default.

    A vanilla ``local[k]`` session runs every exchange (and every
    explicit ``repartitionByRange``) as 200 tasks — pure scheduler
    overhead at test scale, and AQE does not coalesce user-requested
    repartitions. If the session looks local AND the user left
    ``spark.sql.shuffle.partitions`` at the 200 default, size it to the
    scheduler's actual slot count instead. A deliberately configured
    value (anything != 200) or a cluster master is never overridden —
    on a real cluster partition count is a capacity decision that
    belongs to the job config / AQE.
    """
    try:
        if not spark.sparkContext.master.startswith("local"):
            return None
        if spark.conf.get("spark.sql.shuffle.partitions", "200") != "200":
            return None
        return str(spark.sparkContext.defaultParallelism)
    except Exception as e:  # pragma: no cover - context already stopped
        _log.warning("spark.sql.shuffle.partitions left as set: "
                     "cannot read the session's master or confs: %s", e)
        return None


def _set_conf(spark: SparkSession, key: str, value: str) -> None:
    try:
        spark.conf.set(key, value)
    except Exception as e:  # pragma: no cover - static conf on some builds
        _log.warning("cannot set %s=%s on this session: %s", key, value, e)


def prepare_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable confs to an existing session.

    Safe to call repeatedly; a conf the session refuses to set at runtime
    (none of ours are static, but be defensive) is logged and skipped.
    """
    for k, v in _RUNTIME_CONFS.items():
        _set_conf(spark, k, v)
    sp = _shuffle_partitions_for(spark)
    if sp is not None:
        _set_conf(spark, "spark.sql.shuffle.partitions", sp)
    return spark


def _workers_import_package() -> bool:
    """Whether local workers find this package: a worker daemon started
    with ``-m`` has the current directory and ``PYTHONPATH`` on its path,
    not the directories a script inserted into the driver's ``sys.path``."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    dirs = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    return any(d and os.path.realpath(d) == os.path.realpath(root)
               for d in dirs)


def get_spark(app_name: str = "hyperswitch-data-backfill-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Local-mode defaults come from the environment so the same entry
    points serve tests (local[4]) and bench (local[$SPARK_GRAFT_CPUS]);
    on a real cluster, ``master`` is left to spark-submit. Only local
    masters whose workers can import this package get ``worker_daemon``:
    on a cluster the package may reach the executors only through
    ``--py-files``, which the workers add to ``sys.path`` after the
    daemon has started.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "4")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    if master.startswith("local") and _workers_import_package():
        builder = builder.config("spark.python.daemon.module", _DAEMON_MODULE)
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return prepare_session(builder.getOrCreate())
