"""Equivalence + guard tests for the r17 optimization reshapes.

Every reshape this round must leave the computed result byte-identical;
these tests pin each one to its pre-reshape reference the same way
test_r16_optimizations.py pinned the r16 batch.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


class TestPagerankExchangeReuse:
    def test_adjacency_not_reexchanged_per_round(self, spark):
        """The checkpointed adjacency must feed every round's join with
        NO exchange and NO sort above its scan: exactly one exchange
        per power-iteration round (the src→dst contribution regroup)
        may remain in the executed plan."""
        from hyperswitch_data_backfill_spark.operators.graph import (
            PR_ITER,
            graph_pagerank,
        )

        df = graph_pagerank(spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        plan = df._jdf.queryExecution().executedPlan().toString()
        n_exchange = plan.count("+- Exchange")
        assert n_exchange == PR_ITER, f"{n_exchange} exchanges:\n{plan[:4000]}"

    def test_aqe_conf_restored(self, spark):
        from hyperswitch_data_backfill_spark import api

        spark.conf.set("spark.sql.adaptive.enabled", "true")
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1)], "src bigint, dst bigint"
        )
        api.pagerank(edges, undirected=True).collect()
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"

    @pytest.mark.parametrize("start", ["true", "false", None])
    def test_aqe_conf_restored_after_overlapping_calls(self, spark, start):
        """Two threads calling the kernel at once leave the session's AQE
        conf as it started — set to its value, or unset."""
        import threading

        from hyperswitch_data_backfill_spark import api

        key = "spark.sql.adaptive.enabled"
        original = spark.conf.get(key, None)
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (3, 4)], "src bigint, dst bigint"
        )
        expected = sorted(api.pagerank(edges, undirected=True).collect())
        try:
            if start is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, start)
            gate = threading.Barrier(2)
            results, errors = [], []

            def call():
                try:
                    gate.wait(timeout=60)
                    results.append(
                        sorted(api.pagerank(edges, undirected=True).collect()))
                except Exception as exc:  # surfaced by the assert below
                    errors.append(exc)

            threads = [threading.Thread(target=call) for _ in range(2)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=300)
            assert not errors, errors
            assert results == [expected, expected]
            assert spark.conf.get(key, None) == start
        finally:
            if original is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, original)


class TestLshSingleBandingEvaluation:
    def test_census_window_matches_groupby_census(self, spark):
        """The window census must assign every banded row the same
        bucket size the r16 groupBy census computed."""
        from hyperswitch_data_backfill_spark.catalog import load_table
        from hyperswitch_data_backfill_spark.operators.similarity import (
            LSH_PAIR_BITS,
            LSH_PAIR_PROBES,
            LSH_PAIR_TABLES,
            lsh_pair_buckets_udf,
        )
        from pyspark.sql.window import Window

        emb = load_table(spark, SF_DIR, "embeddings")
        banded = emb.select(
            "vec_id",
            F.explode(
                lsh_pair_buckets_udf(
                    F.col("embedding"), LSH_PAIR_TABLES, LSH_PAIR_BITS,
                    LSH_PAIR_PROBES,
                )
            ).alias("tb"),
        ).localCheckpoint(eager=True)
        win = banded.withColumn(
            "_bn", F.count(F.lit(1)).over(Window.partitionBy("tb"))
        ).select("vec_id", "tb", "_bn")
        ref = banded.join(
            banded.groupBy("tb").agg(F.count(F.lit(1)).alias("_bn")), "tb"
        ).select("vec_id", "tb", "_bn")
        assert win.exceptAll(ref).count() == 0
        assert ref.exceptAll(win).count() == 0


class TestTailStallClassifier:
    """_tail_stall_not_engine_side: the r17 guard that keeps the
    bounded restart from masking a keyset-fence regression."""

    def test_engine_stall_class_is_restartable(self):
        from hyperswitch_data_backfill_spark.sources.pgwire import (
            _tail_stall_not_engine_side,
        )

        # server complete, sink a key-order prefix → unread keys are
        # all ABOVE max(sunk): the restartable class
        srv = {11, 311, 611, 911}
        sunk = {11, 311}
        assert _tail_stall_not_engine_side(sunk, srv, 4) is None
        # empty sink (stall before the first batch executed) restarts
        assert _tail_stall_not_engine_side(set(), srv, 4) is None

    def test_stranded_row_below_cursor_refuses(self):
        from hyperswitch_data_backfill_spark.sources.pgwire import (
            _tail_stall_not_engine_side,
        )

        srv = {11, 311, 611, 911}
        sunk = {11, 611}  # 311 committed but skipped: strand signature
        reason = _tail_stall_not_engine_side(sunk, srv, 4)
        assert reason is not None and "stranded" in reason

    def test_incomplete_server_refuses(self):
        from hyperswitch_data_backfill_spark.sources.pgwire import (
            _tail_stall_not_engine_side,
        )

        reason = _tail_stall_not_engine_side({11}, {11, 311}, 4)
        assert reason is not None and "committed server-side" in reason


class TestHashPrefixedDedupWindows:
    def test_dedup_exact_survivors_unchanged(self, spark):
        """The hash-prefixed window must keep the exact survivor set of
        the plain text-keyed window (hash leads the sort; text stays in
        the partition keys so collisions cannot merge groups)."""
        from hyperswitch_data_backfill_spark.catalog import load_table
        from hyperswitch_data_backfill_spark.operators.dedup import dedup_exact
        from pyspark.sql.window import Window

        docs = load_table(spark, SF_DIR, "documents")
        w = Window.partitionBy("text").orderBy("doc_id")
        ref = (
            docs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", "text", "lang", "source", "n_chars")
        )
        new = dedup_exact(spark, SF_DIR)
        assert new.exceptAll(ref).count() == 0
        assert ref.exceptAll(new).count() == 0

    def test_sort_keys_lead_with_hash(self, spark):
        from hyperswitch_data_backfill_spark.operators.dedup import dedup_exact

        plan = dedup_exact(spark, SF_DIR)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "xxhash64(text" in plan, plan[:2000]


class TestProfileColumnsEmptyTable:
    def test_empty_table_profiles_zero_rows(self, spark, tmp_path):
        """n_rows must be 0 (not NULL) on an empty table — the
        single-aggregate form this rewrite replaced emitted COUNT(*)=0
        (r16 ADVICE)."""
        from hyperswitch_data_backfill_spark.catalog import load_table
        from hyperswitch_data_backfill_spark.operators.analytics import (
            profile_columns,
        )

        orders = load_table(spark, SF_DIR, "orders")
        empty_dir = tmp_path / "sf_empty"
        orders.limit(0).write.parquet(str(empty_dir / "orders.parquet"))
        out = profile_columns(spark, str(empty_dir)).collect()
        assert len(out) > 0
        assert all(r.n_rows == 0 and r.n_nonnull == 0 for r in out)
