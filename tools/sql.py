"""Ad-hoc SQL over the fixture tables — the engine's spark.sql surface.

Registers every fixture table as a temp view (catalog.register_views)
and runs the given query, printing up to --max rows. The same views are
what a notebook user of this engine would query; Catalyst plans the SQL
identically to the DataFrame API (pinned by tests/test_sql_surface.py).

Usage:
    python tools/sql.py "SELECT o_orderpriority, count(*) FROM orders GROUP BY 1" [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    query = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"

    from hyperswitch_data_backfill_spark.catalog import register_views
    from hyperswitch_data_backfill_spark.session import get_spark

    spark = get_spark(app_name="sql")
    register_views(spark, sf_dir)
    spark.sql(query).show(100, truncate=False)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
