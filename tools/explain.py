"""Print the optimized/physical plan for any registered fixture query.

Usage: python tools/explain.py <query> [sf_dir] [mode]

  query   registry key (see `python tools/explain.py --list`)
  sf_dir  fixture dir, default /root/testdata/sf0.001
  mode    explain mode: formatted (default) | simple | extended | cost

The per-operator plan audits in PLANS.md were produced with this view;
rerun it after touching an operator to confirm the shape survived
(Exchange count, broadcast vs sort-merge, pushed filters, no stray
Python nodes).
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2

    from hyperswitch_data_backfill_spark.registry import REGISTRY, queries

    queries()
    if sys.argv[1] == "--list":
        for name, q in REGISTRY.items():
            kind = "oracle" if q.oracle else "rows-only"
            print(f"{name}  [{kind}]")
        return 0

    name = sys.argv[1]
    if name not in REGISTRY:
        print(f"unknown query {name!r}; try --list", file=sys.stderr)
        return 2
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"
    mode = sys.argv[3] if len(sys.argv) > 3 else "formatted"

    from hyperswitch_data_backfill_spark.session import get_spark

    spark = get_spark(app_name=f"explain-{name}")
    df = REGISTRY[name].fn(spark, sf_dir)
    df.explain(mode)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
