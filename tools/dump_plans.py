"""Dump .explain("formatted") for registry queries to plans/<dir>/<query>_<tag>.txt.

Usage: python tools/dump_plans.py <tag> <out_dir> [sf_dir] [query ...]
Defaults: sf_dir=/root/testdata/sf0.1, queries = bench.py HEADLINE list.
"""
from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    tag = sys.argv[1]
    out_dir = sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    os.makedirs(out_dir, exist_ok=True)

    from hyperswitch_data_backfill_spark.registry import REGISTRY, queries
    from hyperswitch_data_backfill_spark.session import get_spark

    queries()
    names = sys.argv[4:]
    if not names:
        import bench
        names = list(bench.HEADLINE)

    spark = get_spark(app_name=f"plans-{tag}")
    for name in names:
        df = REGISTRY[name].fn(spark, sf_dir)
        # _sc JVM access mirrors tools/explain.py's df.explain, but captures text
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"# wrote {path} ({plan.count('Exchange')} Exchange refs)",
              file=sys.stderr)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
