"""Noop-sink timing sweep over EVERY batch registry key (guide §1.4).

bench.py times the 26 headline keys; this tool measures the whole
declared surface so optimization rounds target facts, not guesses.
Wire/streaming keys (they spin real pgwire/kafka servers or run
trigger-paced StreamingQueries — wall there is fixture liveness, not
operator compute) are skipped by module prefix.

Usage: python tools/time_all.py [sf_dir] [--runs N] [--json out.json]
Defaults: sf_dir=/root/testdata/sf0.1, runs=2 (1 untimed warmup
execution + min of N timed runs, same steady-state protocol as
bench.py).
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path
import time

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# Keys registered by these modules are server/stream fixtures, not
# batch operators — their wall is dominated by trigger intervals and
# real-server round-trips.
_SKIP_MODULES = (
    "sources/pgwire", "sources/pgwire_cdc", "sources/kafka_fetch",
    "sinks/kafka_wire", "sinks/kafka_wire_v2", "streaming/",
)


def main() -> int:
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    runs = 2
    if "--runs" in argv:
        i = argv.index("--runs")
        runs = int(argv[i + 1])
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.1"

    from hyperswitch_data_backfill_spark.registry import REGISTRY, queries
    from hyperswitch_data_backfill_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    queries()
    spark = get_spark(app_name="time-all")

    names = []
    for name, ent in REGISTRY.items():
        mod = getattr(ent.fn, "__module__", "") or ""
        path = mod.replace(".", "/")
        if any(s.rstrip("/") in path for s in _SKIP_MODULES):
            continue
        names.append(name)

    # warm the Python-worker / codegen machinery once
    spark.read.parquet(f"{sf_dir}/orders.parquet").count()

    out: dict[str, float] = {}
    for name in names:
        fn = REGISTRY[name].fn
        spark.sparkContext.setJobDescription(f"time_all: {name}")
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warmup
            best = float("inf")
            for _ in range(runs):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            out[name] = round(best, 3)
            print(f"# {name}: {out[name]:.3f}s", file=sys.stderr)
        except Exception as e:  # keep sweeping; report the break loudly
            out[name] = -1.0
            print(f"# {name}: ERROR {type(e).__name__}: {e}", file=sys.stderr)
        finally:
            spark.sparkContext.setJobDescription(None)

    ranked = dict(sorted(out.items(), key=lambda kv: -kv[1]))
    rec = {
        "sf_dir": sf_dir,
        "runs": runs,
        "loadavg": os.getloadavg(),
        "total": round(sum(v for v in out.values() if v > 0), 3),
        "queries": ranked,
    }
    print(json.dumps(rec))
    if json_out:
        with open(json_out, "w") as f:
            json.dump(rec, f, indent=1)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
