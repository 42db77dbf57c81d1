"""Physical-plan guards: the scale story is only real if the plans keep
their shape. Each assertion pins a property SURVEY §4 promises —
predicate pushdown into the scan, column pruning, the intended join
strategy, whole-stage codegen — so a refactor that silently degrades
the plan (e.g. a UDF blocking pushdown, a lost broadcast hint) fails
CI even though results stay correct.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from hyperswitch_data_backfill_spark.registry import REGISTRY, queries
from tests.conftest import SF_DIR

queries()


def plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_DIR)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    """F1/F2/F3: predicates must land in the parquet scan, not a post-filter
    only — at 100 TB this is the difference between reading a partition
    and reading the table."""
    for name in ("filter_eq", "filter_between", "filter_conj"):
        p = plan(spark, name)
        assert "PushedFilters: [" in p, f"{name}: no pushed filters\n{p}"
        pushed = p.split("PushedFilters: [", 1)[1].split("]", 1)[0]
        assert pushed.strip(), f"{name}: empty pushdown\n{p}"


def test_column_pruning_reaches_scan(spark):
    """F4: a 3-column projection must not read the full orders schema."""
    p = plan(spark, "project_subset")
    read = p.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "o_comment" not in read, f"projection not pruned: {read}"


def test_broadcast_join_is_broadcast(spark):
    """J1: fact×dim stays a broadcast hash join — the fact side must
    never shuffle for a dimension lookup."""
    p = plan(spark, "join_broadcast")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, f"dim join degraded to SMJ:\n{p}"


def test_big_join_is_sort_merge(spark):
    """J3: at fixture scale Catalyst rightly broadcasts the 150k-row
    orders side; the scale guard is that with broadcast off (simulating
    two genuinely big sides) the plan degrades to a shuffle join — not
    a nested loop or a forced broadcast hint someone hard-coded."""
    p_small = plan(spark, "join_smj")
    assert "Join" in p_small and "NestedLoop" not in p_small, p_small
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        p = plan(spark, "join_smj")
        assert "SortMergeJoin" in p or "ShuffledHashJoin" in p, p
        assert "BroadcastHashJoin" not in p, f"hard-coded broadcast on a fact join:\n{p}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_semi_and_anti_strategies(spark):
    """J2: allow-list semi-join broadcasts the id list; anti-join keeps a
    join-based plan (no per-row subquery)."""
    p_semi = plan(spark, "join_semi")
    assert "LeftSemi" in p_semi, p_semi
    p_anti = plan(spark, "join_anti")
    assert "Anti" in p_anti or "anti" in p_anti, p_anti


def test_kafka_projection_stays_in_codegen(spark):
    """S4: the event projection (to_json over struct) is whole-stage
    codegen'd — no Python worker in the hot path."""
    p = plan(spark, "kafka_payload_shape")
    # formatted mode stars codegen'd nodes ("* Project (3)")
    assert "* Project" in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, (
        f"Python worker leaked into the event projection:\n{p}"
    )


def test_relational_core_has_no_python_workers(spark):
    """Everything the reference itself does (scan/filter/join/agg/sort/
    window/json) must run fully JVM-side; Arrow UDF stages are reserved
    for crypto (U1) and vector ops (L3)."""
    jvm_only = (
        "scan_orders", "filter_conj", "count_filtered", "agg_group_count",
        "agg_stats", "sort_by_key", "topk_per_group", "win_session",
        "json_serialize", "parse_datetime_multi", "dedup_exact",
        "dedup_minhash", "text_tokens",
    )
    for name in jvm_only:
        p = plan(spark, name)
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, (
            f"{name}: Python worker in a built-in-expressible operator:\n{p}"
        )


def test_exact_dedup_partial_aggregates(spark):
    """L1 at scale: the pre-shuffle side must contain a partial hash
    aggregate or the full text column shuffles unreduced."""
    p = plan(spark, "agg_group_count")
    assert p.count("HashAggregate") >= 2, f"no partial aggregate:\n{p}"


def test_exists_subquery_decorrelates_to_semi_join(spark):
    """The correlated EXISTS must compile to ONE left semi join on the
    correlation key — not a per-row subquery plan."""
    p = plan(spark, "exists_subquery")
    assert "LeftSemi" in p, p
    assert "Subquery" not in p, f"undecorrelated subquery survived:\n{p}"


def test_grouping_sets_single_expand_single_shuffle(spark):
    """GROUPING SETS expands rows once (Expand node) and aggregates in
    one exchange — not one job per grouping set."""
    p = plan(spark, "agg_grouping_sets")
    assert "Expand" in p, p
    assert p.count("Exchange") <= 2, f"grouping sets re-shuffled per set:\n{p}"


def test_salted_join_stays_shuffle_join(spark):
    """J6: the salted join must be a shuffle join (salting a broadcast
    would be pointless) and must not collapse to a nested loop."""
    p = plan(spark, "join_skew_salted")
    assert "ShuffledHashJoin" in p or "SortMergeJoin" in p, p
    assert "BroadcastHashJoin" not in p and "NestedLoop" not in p, p


def test_global_row_number_is_distributed(spark):
    """with_global_row_number must not funnel the DATA through one
    partition: the big-side window partitions by _pid (range partitions),
    and the only single-partition work is the #partitions-row offset
    frame."""
    import pyspark.sql.functions as F

    from hyperswitch_data_backfill_spark.operators.ordering import (
        with_global_row_number,
    )

    # correctness on a shuffled multi-partition frame with unique keys
    df = spark.range(0, 10_000).select(
        (F.col("id") * 37 % 10_000).alias("k")  # 37 coprime to 10000 -> permutation
    ).repartition(16)
    got = with_global_row_number(df, ["k"])
    rows = got.orderBy("k").collect()
    assert [r["rn"] for r in rows] == list(range(1, 10_001))
    assert [r["k"] for r in rows] == list(range(10_000))

    # plan shape: the data-side window is partitioned (by _pid), never a
    # Window whose required ordering forced Exchange SinglePartition on
    # the full table
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        got.explain("formatted")
    p = buf.getvalue()
    # every Window node must sit above a hashpartitioning/rangepartitioning
    # exchange except the offsets branch, whose input is an aggregate of
    # one row per partition id
    assert "row_number" in p
    single = [
        seg for seg in p.split("Exchange")[1:] if seg.lstrip().startswith("SinglePartition")
    ]
    for seg in single:
        assert "count" in seg or "_n" in seg or "sum" in seg, (
            "SinglePartition exchange on the data path:\n" + p
        )


def test_backfill_job_pushdown_and_no_shuffle(spark):
    """The whole-job pipeline must stay scan→filter→project→union: window
    predicates pushed into BOTH parquet scans, columns pruned to the
    payload, and zero exchanges (union is partition concatenation)."""
    p = plan(spark, "pipeline_backfill_job")
    pushed = [seg.split("]", 1)[0] for seg in p.split("PushedFilters: [")[1:]]
    assert len(pushed) == 2, f"expected 2 scans with pushdown\n{p}"
    assert any("o_orderdate" in f for f in pushed)
    assert any("l_shipdate" in f for f in pushed)
    assert "Exchange" not in p
    # column pruning: the orders scan must not read o_totalprice
    read_schemas = [seg.split("\n", 1)[0] for seg in p.split("ReadSchema: ")[1:]]
    assert all("o_totalprice" not in rs for rs in read_schemas), read_schemas


def test_q3_broadcasts_dim_and_takes_ordered(spark):
    """tpch_q3_topk: the filtered customer dim must broadcast (never
    shuffle the orders fact for a dimension), and the top-10 must compile
    to TakeOrderedAndProject — a per-partition heap, not a global sort."""
    p = plan(spark, "tpch_q3_topk")
    assert "BroadcastHashJoin" in p, p
    assert "TakeOrderedAndProject" in p, f"top-k materialized a global sort:\n{p}"


def test_compaction_single_shuffle_each(spark):
    """compact_latest / scd2_intervals: exactly one Exchange — the keyed
    shuffle; a second one means the window re-partitioned needlessly."""
    for name in ("compact_latest", "scd2_intervals"):
        p = plan(spark, name)
        # "Exchange (" matches tree nodes only (details render as "(n) Exchange")
        assert p.count("Exchange (") == 1, f"{name}: expected 1 Exchange\n{p}"
    # the top-1 window prunes map-side BEFORE the shuffle (Partial
    # WindowGroupLimit) — at 100 TB the shuffle carries one row per
    # (key × input partition), not the full event history
    assert "WindowGroupLimit" in plan(spark, "compact_latest")


def test_merge_upsert_anti_join_has_no_aggregate(spark):
    """api.merge_upsert (the merge_upsert key's kernel): the anti join
    probes the delta's keys as they are — de-duplicating them first
    would only add HashAggregates under the join's build side."""
    from hyperswitch_data_backfill_spark import api

    base = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    delta = spark.createDataFrame([(2, "c"), (2, "d")], "k int, v string")
    buf = io.StringIO()
    with redirect_stdout(buf):
        api.merge_upsert(base, delta, "k").explain("formatted")
    p = buf.getvalue()
    assert "Anti" in p, p
    assert "HashAggregate" not in p, p


def test_quantize_has_no_shuffle_and_no_python(spark):
    """emb_quantize_int8 is per-row codegen: no Exchange, no Python worker."""
    p = plan(spark, "emb_quantize_int8")
    assert "Exchange" not in p, p
    assert "Python" not in p, p


def test_runtime_bloom_filter_join_injects(spark):
    """100 TB shuffle-join hygiene: with a selective dim filter, Spark's
    runtime Bloom-filter optimization must inject a might_contain probe
    on the fact side (rows drop BEFORE the shuffle). The fixture tables
    are far below the production applicationSideScanSizeThreshold, so
    the test lowers it to observe the mechanism; production clusters
    keep the default (10 GB) so the probe only appears where it pays."""
    import re

    from hyperswitch_data_backfill_spark.catalog import load_table
    from tests.conftest import SF_DIR

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    try:
        fact = load_table(spark, SF_DIR, "lineitem")
        dim = load_table(spark, SF_DIR, "orders").filter("o_orderstatus = 'F'")
        j = fact.join(dim, fact.l_orderkey == dim.o_orderkey)
        optimized = j._jdf.queryExecution().optimizedPlan().toString()
        assert re.search(r"(?i)bloom", optimized), "no runtime bloom filter injected"
        # and the result is unaffected by the probe (bloom FPs are re-checked)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            saved[
                "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
            ],
        )
        plain = fact.join(dim, fact.l_orderkey == dim.o_orderkey).count()
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        assert j.count() == plain
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_dynamic_partition_pruning_engages(spark, tmp_path):
    """Lake-layout payoff: joining a date-partitioned fact against a
    filtered dim must prune fact partitions at RUNTIME (DPP) — the scan
    carries a dynamicpruning subquery instead of reading every dir."""
    from pyspark.sql import functions as F

    from hyperswitch_data_backfill_spark.catalog import load_table
    from tests.conftest import SF_DIR

    fact_dir = str(tmp_path / "orders_by_status")
    load_table(spark, SF_DIR, "orders").write.partitionBy("o_orderstatus").mode(
        "overwrite"
    ).parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    # the dim filter must be on a NON-join column: a filter on the join
    # key itself is statically propagated (no DPP needed); DPP is for
    # partitions only discoverable by executing the dim side
    dim = (
        load_table(spark, SF_DIR, "orders")
        .select("o_orderstatus", "o_orderpriority")
        .distinct()
        .filter("o_orderpriority = '1-URGENT'")
        .select("o_orderstatus")
        .distinct()
    )
    j = fact.join(F.broadcast(dim), "o_orderstatus")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), "DPP did not engage on the partitioned scan"
    # every status carries urgent orders in the fixture, so DPP keeps all
    # partitions here — equality against the plain join proves no
    # over-pruning; the plan assertion above proves the mechanism
    assert j.count() == fact.join(dim, "o_orderstatus").count()


def test_sessioned_funnel_single_shuffle(spark):
    """groupBy(user_id, session_id) must reuse the session window's
    hashpartitioning(user_id) — clustered distribution over a superset
    key is satisfied, so exactly ONE exchange appears. A second exchange
    would mean the sessionize-then-aggregate composition pays double."""
    p = plan(spark, "seq_pattern_funnel_sessioned")
    n_ex = sum(
        1
        for line in p.splitlines()
        if line.strip().startswith("(") and "Exchange" in line and "Reused" not in line
    )
    assert n_ex == 1, f"expected 1 exchange, found {n_ex}\n{p}"


def test_unigram_logprob_single_corpus_scan(spark):
    """The tf stage is checkpointed precisely so the LM branch and the
    scoring probe share one corpus read: the post-checkpoint plan must
    contain ZERO parquet scans (all branches read the materialized tf)
    and no Python workers."""
    p = plan(spark, "text_unigram_logprob")
    assert "Scan parquet" not in p, f"corpus re-scan leaked past the checkpoint\n{p}"
    assert "Python" not in p


def test_vocab_oov_two_pass_broadcast_shape(spark):
    """Canonical two-pass vocabulary shape: exactly two corpus scans
    (one builds the vocab, one probes it), the vocab side reaching the
    probe as a BROADCAST join (never a shuffle join of occurrences),
    and the global rank window running AFTER the vocab-sized aggregate
    (Window above HashAggregate, never over raw token occurrences)."""
    p = plan(spark, "text_vocab_oov")
    body = p.split("\n\n")[0]  # tree section only; details repeat node names
    scans = sum("Scan parquet" in line for line in body.splitlines())
    assert scans == 2, f"expected 2 corpus scans, found {scans}\n{p}"
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    tree = body.splitlines()
    win_depth = next(i for i, l in enumerate(tree) if "Window" in l)
    agg_below = any("HashAggregate" in l for l in tree[win_depth:])
    assert agg_below, f"rank window must sit above the vocab aggregate\n{p}"


def _exec_plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_referential_audit_is_all_broadcast_no_shuffle(spark):
    """C9: every FK-edge check must be a broadcast LeftAnti — a shuffled
    anti join here means the dimension key set stopped broadcasting and
    the audit now pays 4 fact-table shuffles at 100 TB."""
    p = _exec_plan(spark, "dq_referential_integrity")
    assert p.count("BroadcastHashJoin") == 4
    assert "LeftAnti" in p
    assert "Exchange hashpartitioning" not in p
    assert "SortMergeJoin" not in p


def test_fx_asof_fact_side_is_broadcast_join(spark):
    """X5b: the rate map must broadcast; the only hash Exchanges
    allowed are the calendar-sized map build (distinct days + the
    per-ccy carry-forward sort). The r16 reshape resolves the as-of
    with a window — but ONLY over the calendar×currency frame inside
    the broadcast build side; a carry-forward window on the 3-valued
    currency key over the FACT table (what join_asof does on user_id)
    would sit above the BroadcastExchange and put a third of all
    orders in one partition — the skew trap this operator exists to
    avoid."""
    p = _exec_plan(spark, "money_convert_asof")
    assert p.count("BroadcastHashJoin") == 1
    assert p.count("Exchange hashpartitioning") <= 2
    assert p.count("Window") == 1
    # the window must live UNDER the broadcast build side, never over
    # the fact scan (tree dumps children below their parent, so the
    # build-side Window prints after the BroadcastExchange node)
    assert p.index("Window") > p.index("BroadcastExchange")
    assert "Python" not in p


def test_single_user_shuffle_window_agg_reuse(spark):
    """win_time_weighted_avg / attr_last_touch: ONE user_id Exchange —
    the aggregate/filter downstream must reuse the window's
    partitioning (the win_gap_islands shape)."""
    for name in ("win_time_weighted_avg", "attr_last_touch"):
        p = _exec_plan(spark, name)
        assert p.count("Exchange hashpartitioning") == 1, name
        assert "Python" not in p, name


def test_bm25_checkpointed_tf_bounds_exchanges(spark):
    """text_bm25: tf feeds three branches; the localCheckpoint must keep
    the plan at its 4-Exchange floor (tf, dl, query-df, score) instead
    of re-deriving the corpus scan per consumer (8 Exchanges without)."""
    p = _exec_plan(spark, "text_bm25")
    assert p.count("Exchange hashpartitioning") <= 4
    assert "TakeOrderedAndProject" in p


def test_pagerank_countmin_stay_jvm_side(spark):
    """G1/A13: the iterative PageRank rounds and the count-min grid are
    pure codegen joins/aggregates — a Python node appearing here means
    the integer fixed-point formulation regressed to a UDF."""
    for name in ("graph_pagerank", "agg_countmin", "agg_heavy_hitters"):
        p = _exec_plan(spark, name)
        assert "Python" not in p, name


def test_countmin_shuffle_is_grid_sized(spark):
    """A13's scale claim: the sketch shuffle carries O(d*w) partial
    counters keyed by grid cell — the only hash Exchanges allowed are
    the (d,w)-keyed aggregate and the per-key estimate join back; a
    per-distinct-key Window would break the bound."""
    p = _exec_plan(spark, "agg_countmin")
    assert "Window" not in p
    assert p.count("Exchange hashpartitioning") <= 4, p


def test_cosine_pair_kernel_shape(spark):
    """Round-11 pair kernel: the quadratic FLOPs live in ONE
    FlatMapGroupsInPandas per block — no join may appear below it (a
    join-based pairing is the O(block²)-rows plan this kernel
    replaced), the exact re-score is two id-keyed joins above it, and
    nothing is a cartesian product."""
    for name in ("neardup_cosine", "neardup_cosine_lsh"):
        p = _exec_plan(spark, name)
        assert p.count("FlatMapGroupsInPandas") == 1, name
        assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, name
        # exact re-score: exactly two equi-joins fetch the vectors,
        # both ABOVE the kernel (text before the FlatMapGroupsInPandas
        # node in the plan tree) — a join below it would mean pairing
        # regressed to a join-based formulation
        head, _, _below = p.partition("FlatMapGroupsInPandas")
        assert head.count("Join") == 2, f"{name}: re-score must be 2 joins\n{head}"


def test_posting_valve_is_in_plan(spark):
    """The r11 posting-list valve must be part of the PLAN (assert_true
    filter), not a separate probe job — uncapped jaccard/minhash plans
    carry the raise expression; capped plans don't."""
    from hyperswitch_data_backfill_spark.catalog import load_table
    from hyperswitch_data_backfill_spark.operators.dedup import (
        jaccard_pairs,
        minhash_band_pairs,
        minhash_signatures,
    )

    docs = load_table(spark, SF_DIR, "documents")
    for df in (jaccard_pairs(docs),
               minhash_band_pairs(minhash_signatures(docs))):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "assert_true" in plan or "raise_error" in plan, plan[:2000]
    capped = jaccard_pairs(docs, max_bucket_members=1000)
    plan = capped._jdf.queryExecution().optimizedPlan().toString()
    assert "assert_true" not in plan and "raise_error" not in plan


def test_lsh_pair_valve_plan_shape(spark):
    """r17 single-evaluation shape: the banding pandas UDF must appear
    EXACTLY ONCE (through r16 the bucket-size census re-derived the
    banded frame — two ArrowEvalPython nodes, every embedding crossing
    the Arrow boundary twice), the census window must ride the pairing
    shuffle (no exchange between Window and FlatMapGroupsInPandas —
    both keyed on tb), and the refuse mode must carry the in-plan
    assert_true raise, not a separate probe job."""
    from hyperswitch_data_backfill_spark.catalog import load_table
    from hyperswitch_data_backfill_spark.operators.similarity import (
        lsh_cosine_pairs,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    split_plan = (
        lsh_cosine_pairs(emb)._jdf.queryExecution().executedPlan().toString()
    )
    assert split_plan.count("ArrowEvalPython") == 1, split_plan[:3000]
    assert "CartesianProduct" not in split_plan
    # census shares the pairing exchange: between the pairing node and
    # the census window there must be NO exchange (hash(tb) satisfies
    # the (tb[, split]) clustering of the pandas groupBy)
    pairing_at = split_plan.find("FlatMapGroupsInPandas")
    window_at = split_plan.find("Window")
    assert 0 <= pairing_at < window_at, split_plan[:3000]
    pairing_to_window = split_plan[pairing_at:window_at]
    assert "Exchange" not in pairing_to_window, pairing_to_window
    refuse_logical = (
        lsh_cosine_pairs(emb, max_bucket=None)
        ._jdf.queryExecution().analyzed().toString()
    )
    assert "assert_true" in refuse_logical


def test_apply_changes_collapse_is_partial_agg_not_window(spark):
    """api.apply_changes' last-writer-wins collapse must be a map-side-
    combinable aggregate (partial_max before the Exchange), never a
    window — a window would sort-shuffle EVERY change row; the
    aggregate collapses each key's changes inside the map task (the
    skew-safe shape the registered cdc key pins)."""
    from hyperswitch_data_backfill_spark import api
    from hyperswitch_data_backfill_spark.catalog import load_table

    base = spark.createDataFrame([(1, 10)], "k int, v int")
    ch = spark.createDataFrame([(1, 1, "U", 11)], "k int, seq int, op string, v int")
    p = (
        api.apply_changes(base, ch, key_cols="k", order_cols="seq")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "partial_max" in p, p
    assert "Window" not in p, p


def test_wire_stream_tumbling_plan_shape(spark):
    """The streaming micro-batch plan's load-bearing properties
    (PLANS.md round-13 audit): exactly ONE exchange keyed for the
    stateful operator, a map-side partial aggregate BELOW it (shuffle
    volume is O(active windows), not O(rows)), watermark-bounded state
    (StateStoreRestore/Save), and the JSON decode in codegen — no
    Python except the source scan itself."""
    import time

    from hyperswitch_data_backfill_spark.sinks.kafka_wire import (
        WireBroker,
        produce_rows,
    )
    from hyperswitch_data_backfill_spark.streaming.pipeline import (
        decode_event_stream,
        read_kafka_wire_stream,
        tumbling_event_counts,
    )

    rows = [
        {"key": str(i),
         "value": ('{"ts":"2024-01-01 0%d:00:01.000000",'
                   '"event_type":"a","value":"1.0000"}' % (i % 8)),
         "topic": "plan_ev"}
        for i in range(40)
    ]
    with WireBroker() as b:
        produce_rows(iter(rows), "127.0.0.1", b.port)
        stream = read_kafka_wire_stream(spark, "127.0.0.1", b.port, "plan_ev")
        events = decode_event_stream(
            stream, "ts string, event_type string, value decimal(18,4)")
        q = (
            tumbling_event_counts(events)
            .writeStream.format("memory").queryName("plan_shape_probe")
            .outputMode("append")
            .trigger(processingTime="500 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 60
            while not q.recentProgress:
                assert q.exception() is None, q.exception()
                assert time.time() < deadline, "no batch completed"
                time.sleep(0.25)
            buf = io.StringIO()
            with redirect_stdout(buf):
                q.explain()
            text = buf.getvalue()
        finally:
            q.stop()
        q.awaitTermination(30)

    assert text.count("Exchange hashpartitioning") == 1
    assert "REQUIRED_BY_STATEFUL_OPERATOR" in text
    assert "StateStoreSave" in text and "StateStoreRestore" in text
    assert "EventTimeWatermark" in text
    # partial aggregation happens BELOW the exchange (map-side combine)
    exch = text.index("Exchange hashpartitioning")
    assert "partial_count" in text[exch:], "partial agg must feed the shuffle"
    # no Python evaluation nodes beyond the source scan
    assert "BatchEvalPython" not in text and "ArrowEvalPython" not in text
