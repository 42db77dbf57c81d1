"""Contract tests for the generic operator API (api.py).

Two layers, per the module's docstring:

1. EQUIVALENCE — the kernel call reproduces the registered key's
   driver-hashed/oracle-verified result row-for-row on the fixture
   tables. Where the key is an adapter over the kernel (the as-of,
   compaction, SCD-2, diff, top-k, session, histogram, split, BM25 and
   PageRank keys), the test pins the adapter's arguments and column
   renames; where the key keeps a body of its own, it pins the two
   implementations equal. The ANN top-k, incremental-dedup and
   clean-corpus keys are adapters too, with no equivalence test here:
   their oracle tests (sim_topk, rows-only: its r16 pair test and the
   recall floors) already run the kernel on the fixture rows.
2. LAWS — hypothesis properties on adversarial generated inputs
   (duplicate timestamps, empty sides, single keys): the algebraic
   contracts each kernel's docstring promises.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from hyperswitch_data_backfill_spark import api
from hyperswitch_data_backfill_spark.catalog import load_table

from .conftest import SF_DIR


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


# ---------------------------------------------------------------------------
# equivalence vs registered fixture ops
# ---------------------------------------------------------------------------

def _events_split(spark):
    ev = load_table(spark, SF_DIR, "events")
    left = ev.select("event_id", "user_id", "ts")
    right = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("p_val")
    )
    return ev, left, right


def test_asof_backward_equiv(spark):
    from hyperswitch_data_backfill_spark.operators.joins import join_asof

    _, left, right = _events_split(spark)
    got = api.asof_join(
        left, right, on="ts", by="user_id",
        value_cols=["p_val"], tiebreak="event_id",
    )
    cols = ["event_id", "user_id", "ts", "ts_asof", "p_val_asof"]
    want = join_asof(spark, SF_DIR)  # event_id user_id ts p_ts p_value
    assert _rows(got, cols) == _rows(
        want.withColumnsRenamed({"p_ts": "ts_asof", "p_value": "p_val_asof"}), cols
    )


def test_asof_forward_equiv(spark):
    from hyperswitch_data_backfill_spark.operators.joins import join_asof_forward

    _, left, right = _events_split(spark)
    got = api.asof_join(
        left, right, on="ts", by="user_id",
        value_cols=["p_val"], direction="forward", tiebreak="event_id",
    )
    cols = ["event_id", "user_id", "ts", "ts_asof", "p_val_asof"]
    want = join_asof_forward(spark, SF_DIR)  # … n_ts n_value
    assert _rows(got, cols) == _rows(
        want.withColumnsRenamed({"n_ts": "ts_asof", "n_value": "p_val_asof"}), cols
    )


def test_asof_tolerance_equiv(spark):
    from hyperswitch_data_backfill_spark.operators.joins import (
        ASOF_TOLERANCE_US,
        join_asof_tolerance,
    )

    _, left, right = _events_split(spark)
    got = api.asof_join(
        left, right, on="ts", by="user_id",
        value_cols=["p_val"], tolerance_us=ASOF_TOLERANCE_US, tiebreak="event_id",
    )
    cols = ["event_id", "user_id", "ts", "ts_asof", "p_val_asof"]
    want = join_asof_tolerance(spark, SF_DIR)
    assert _rows(got, cols) == _rows(
        want.withColumnsRenamed({"p_ts": "ts_asof", "p_value": "p_val_asof"}), cols
    )


def test_first_row_per_group_equiv_compact_latest(spark):
    from hyperswitch_data_backfill_spark.operators.compaction import compact_latest

    ev = load_table(spark, SF_DIR, "events").withColumn(
        "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    got = api.first_row_per_group(
        ev, "user_id", [F.col("ts_us").desc(), F.col("event_id").desc()]
    )
    cols = ["user_id", "event_id", "ts_us", "event_type", "value"]
    assert _rows(got, cols) == _rows(compact_latest(spark, SF_DIR), cols)


def test_topk_per_group_equiv(spark):
    from hyperswitch_data_backfill_spark.operators.ordering import topk_per_group

    orders = load_table(spark, SF_DIR, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    got = api.topk_per_group(
        orders, "o_custkey",
        [F.col("o_totalprice").desc(), F.col("o_orderkey")], 3, rank_col="rk",
    )
    cols = ["o_custkey", "o_orderkey", "o_totalprice", "rk"]
    assert _rows(got, cols) == _rows(topk_per_group(spark, SF_DIR), cols)


def test_merge_upsert_equiv(spark):
    from hyperswitch_data_backfill_spark.operators.compaction import (
        _MERGE_COLS,
        _MERGE_CUTOFF,
        merge_upsert,
    )

    orders = load_table(spark, SF_DIR, "orders")
    base = (
        orders.filter(F.col("o_orderstatus") == "F")
        .select(*_MERGE_COLS).withColumn("src", F.lit("base"))
    )
    delta = (
        orders.filter(F.col("o_orderdate") >= F.lit(_MERGE_CUTOFF).cast("timestamp"))
        .select(*_MERGE_COLS).withColumn("src", F.lit("delta"))
    )
    got = api.merge_upsert(base, delta, "o_orderkey")
    cols = list(_MERGE_COLS) + ["src"]
    assert _rows(got, cols) == _rows(merge_upsert(spark, SF_DIR), cols)


def _versioned_events(spark):
    return (
        load_table(spark, SF_DIR, "events")
        .withColumn("us", F.unix_micros(F.col("ts").cast("timestamp")))
        .select("user_id", "event_id", "event_type", "us")
    )


def test_scd2_build_equiv(spark):
    from hyperswitch_data_backfill_spark.operators.compaction import scd2_intervals

    got = api.scd2_build(
        _versioned_events(spark), "user_id", "us", ["event_id"],
        from_col="valid_from_us", to_col="valid_to_us",
    )
    cols = ["user_id", "event_id", "event_type", "valid_from_us", "valid_to_us"]
    assert _rows(got, cols) == _rows(scd2_intervals(spark, SF_DIR), cols)


def test_scd2_apply_equiv(spark):
    from hyperswitch_data_backfill_spark.operators.compaction import scd2_apply

    versioned = _versioned_events(spark)
    base = versioned.filter(F.col("event_id") % 2 == 0)
    delta = versioned.filter(F.col("event_id") % 2 == 1)
    snapshot = api.scd2_build(
        base, "user_id", "us", ["event_id"],
        from_col="valid_from_us", to_col="valid_to_us",
    )
    got = api.scd2_apply(
        snapshot, delta, "user_id", "us", ["event_id"],
        from_col="valid_from_us", to_col="valid_to_us",
    )
    cols = ["user_id", "event_id", "event_type", "valid_from_us", "valid_to_us"]
    assert _rows(got, cols) == _rows(scd2_apply(spark, SF_DIR), cols)


def test_sessionize_equiv_win_session(spark):
    from hyperswitch_data_backfill_spark.operators.windows import (
        SESSION_GAP_MIN,
        win_session,
    )

    ev = load_table(spark, SF_DIR, "events")
    got = (
        api.sessionize(
            ev, "user_id", "ts", SESSION_GAP_MIN * 60 * 1_000_000, ["event_id"]
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
            .alias("total_value"),
        )
    )
    cols = [
        "user_id", "session_id", "session_start", "session_end",
        "n_events", "total_value",
    ]
    assert _rows(got, cols) == _rows(win_session(spark, SF_DIR), cols)


def test_snapshot_diff_equiv(spark):
    from hyperswitch_data_backfill_spark.operators.compaction import cdc_snapshot_diff

    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = orders.filter(F.col("o_orderkey") % 10 != 0)
    new = orders.filter(F.col("o_orderkey") % 7 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")),
    )
    got = api.snapshot_diff(old, new, "o_orderkey")
    got = got.select(
        "o_orderkey", "op",
        F.col("new_o_orderstatus").alias("new_status"),
        F.col("new_o_totalprice").alias("new_price"),
        F.col("old_o_orderstatus").alias("old_status"),
        F.col("old_o_totalprice").alias("old_price"),
    )
    cols = ["o_orderkey", "op", "new_status", "new_price", "old_status", "old_price"]
    assert _rows(got, cols) == _rows(cdc_snapshot_diff(spark, SF_DIR), cols)


def test_histogram_equidepth_equiv(spark):
    from hyperswitch_data_backfill_spark.operators.aggregates import (
        EQUIDEPTH_BUCKETS,
        agg_equidepth_histogram,
    )

    orders = load_table(spark, SF_DIR, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        "o_orderkey",
    )
    got = api.histogram_equidepth(orders, "cents", EQUIDEPTH_BUCKETS, ["o_orderkey"])
    cols = ["bucket", "n", "lo", "hi"]
    want = agg_equidepth_histogram(spark, SF_DIR).withColumnsRenamed(
        {"lo_cents": "lo", "hi_cents": "hi"}
    )
    assert _rows(got, cols) == _rows(want, cols)


# ---------------------------------------------------------------------------
# hypothesis laws
# ---------------------------------------------------------------------------

_KEY = st.sampled_from(["a", "b"])


def test_asof_law(spark):
    """backward/forward match is the nearest earlier/later build row
    (strict by default, inclusive with allow_exact_matches), per key."""
    probe_s = st.lists(
        st.tuples(_KEY, st.integers(0, 20)), min_size=1, max_size=10
    )
    build_s = st.lists(
        st.tuples(_KEY, st.integers(0, 20), st.integers(0, 99)),
        min_size=0, max_size=10,
    )

    @settings(max_examples=6, deadline=None)
    @given(probe_s, build_s)
    def run(probes, builds):
        left = spark.createDataFrame(
            [(i, k, t) for i, (k, t) in enumerate(probes)],
            "pid long, k string, ts long",
        )
        right = spark.createDataFrame(
            [(1000 + i, k, t, v) for i, (k, t, v) in enumerate(builds)],
            "event_id long, k string, ts long, val long",
        )
        for direction, exact in (
            ("backward", False), ("backward", True), ("forward", False),
        ):
            got = api.asof_join(
                left, right, on="ts", by="k", value_cols=["val"],
                direction=direction, allow_exact_matches=exact,
                tiebreak="event_id",
            ).collect()
            assert len(got) == len(probes)
            for r in got:
                if direction == "backward":
                    # nearest earlier; equal-ts ties -> LARGEST tiebreak
                    cand = [
                        (t, i) for i, (k, t, _) in enumerate(builds)
                        if k == r["k"] and (t <= r["ts"] if exact else t < r["ts"])
                    ]
                    best = max(cand) if cand else None
                else:
                    # nearest later; equal-ts ties -> SMALLEST tiebreak
                    cand = [
                        (t, i) for i, (k, t, _) in enumerate(builds)
                        if k == r["k"] and t > r["ts"]
                    ]
                    best = min(cand) if cand else None
                if best is None:
                    assert r["ts_asof"] is None and r["val_asof"] is None
                else:
                    assert r["ts_asof"] == best[0]
                    assert r["val_asof"] == builds[best[1]][2]

    run()


def test_scd2_apply_is_rebuild(spark):
    """The incremental contract: apply(build(base), delta) must be
    indistinguishable from build(base ∪ delta) — including duplicate
    timestamps, keys only in the delta, and an empty base."""
    rows_s = st.lists(
        st.tuples(_KEY, st.integers(0, 10), st.integers(0, 99)),
        min_size=1, max_size=12,
    )
    mask_s = st.lists(st.booleans(), min_size=12, max_size=12)

    @settings(max_examples=6, deadline=None)
    @given(rows_s, mask_s)
    def run(rows, mask):
        data = [(i, k, t, v) for i, (k, t, v) in enumerate(rows)]
        schema = "rid long, k string, ts long, v long"
        full = spark.createDataFrame(data, schema)
        base = spark.createDataFrame(
            [r for i, r in enumerate(data) if mask[i]] or [], schema
        )
        delta = spark.createDataFrame(
            [r for i, r in enumerate(data) if not mask[i]] or [], schema
        )
        snapshot = api.scd2_build(base, "k", "ts", ["rid"])
        applied = api.scd2_apply(snapshot, delta, "k", "ts", ["rid"])
        rebuilt = api.scd2_build(full, "k", "ts", ["rid"])
        cols = ["rid", "k", "ts", "v", "valid_from", "valid_to"]
        assert _rows(applied, cols) == _rows(rebuilt, cols)

    run()


def test_scd2_intervals_chain(spark):
    """Per key, intervals chain exactly: sorted by (ts, rid), each
    valid_to equals the next valid_from and only the last is open."""
    rows_s = st.lists(
        st.tuples(_KEY, st.integers(0, 10)), min_size=1, max_size=12
    )

    @settings(max_examples=6, deadline=None)
    @given(rows_s)
    def run(rows):
        df = spark.createDataFrame(
            [(i, k, t) for i, (k, t) in enumerate(rows)], "rid long, k string, ts long"
        )
        got = api.scd2_build(df, "k", "ts", ["rid"]).collect()
        assert len(got) == len(rows)
        by_key: dict[str, list] = {}
        for r in sorted(got, key=lambda r: (r["k"], r["ts"], r["rid"])):
            by_key.setdefault(r["k"], []).append(r)
        for chain in by_key.values():
            for cur, nxt in zip(chain, chain[1:]):
                assert cur["valid_to"] == nxt["valid_from"]
            assert chain[-1]["valid_to"] is None
            for r in chain:
                assert r["valid_from"] == r["ts"]

    run()


def test_merge_upsert_laws(spark):
    """Key set is the union; delta rows win verbatim; idempotent."""
    side = st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 99)), min_size=0, max_size=8
    ).map(lambda kv: list({k: (k, v) for k, v in kv}.values()))  # unique keys

    @settings(max_examples=6, deadline=None)
    @given(side, side)
    def run(base_rows, delta_rows):
        schema = "k long, v long"
        base = spark.createDataFrame(base_rows or [], schema)
        delta = spark.createDataFrame(delta_rows or [], schema)
        once = api.merge_upsert(base, delta, "k")
        got = {r["k"]: r["v"] for r in once.collect()}
        want = {k: v for k, v in base_rows}
        want.update({k: v for k, v in delta_rows})
        assert got == want
        twice = api.merge_upsert(once, delta, "k")
        assert {r["k"]: r["v"] for r in twice.collect()} == want

    run()


def test_sessionize_gap_law(spark):
    """Within a session consecutive gaps are <= gap; the first event of
    every later session is > gap after the previous event; ids are
    contiguous from 1 per key."""
    rows_s = st.lists(
        st.tuples(_KEY, st.integers(0, 1000)), min_size=1, max_size=14
    )
    gap_s = st.integers(1, 300)

    @settings(max_examples=6, deadline=None)
    @given(rows_s, gap_s)
    def run(rows, gap):
        df = spark.createDataFrame(
            [(i, k, t) for i, (k, t) in enumerate(rows)],
            "rid long, k string, ts_raw long",
        ).select(
            "rid", "k", F.timestamp_micros(F.col("ts_raw")).alias("ts")
        )
        got = api.sessionize(df, "k", "ts", gap, ["rid"]).collect()
        by_key: dict[str, list] = {}
        for r in sorted(
            got, key=lambda r: (r["k"], r["ts"], r["rid"])
        ):
            by_key.setdefault(r["k"], []).append(r)
        for chain in by_key.values():
            assert chain[0]["session_id"] == 1
            for cur, nxt in zip(chain, chain[1:]):
                delta_us = int(
                    (nxt["ts"] - cur["ts"]).total_seconds() * 1_000_000
                )
                if delta_us > gap:
                    assert nxt["session_id"] == cur["session_id"] + 1
                else:
                    assert nxt["session_id"] == cur["session_id"]

    run()


def test_snapshot_diff_reconstructs(spark):
    """Applying the changelog to `old` reproduces `new` exactly, and op
    classes are consistent with side membership."""
    snap = st.lists(
        st.tuples(st.integers(0, 6), st.one_of(st.none(), st.integers(0, 3))),
        min_size=0, max_size=8,
    ).map(lambda kv: list({k: (k, v) for k, v in kv}.values()))

    @settings(max_examples=6, deadline=None)
    @given(snap, snap)
    def run(old_rows, new_rows):
        schema = "k long, v long"
        old = spark.createDataFrame(old_rows or [], schema)
        new = spark.createDataFrame(new_rows or [], schema)
        log = api.snapshot_diff(old, new, "k").collect()
        old_d = dict(old_rows)
        new_d = dict(new_rows)
        applied = dict(old_d)
        for r in log:
            if r["op"] == "delete":
                assert r["k"] in old_d and r["k"] not in new_d
                applied.pop(r["k"])
            elif r["op"] == "insert":
                assert r["k"] not in old_d and r["k"] in new_d
                applied[r["k"]] = r["new_v"]
            else:
                assert r["k"] in old_d and r["k"] in new_d
                assert old_d[r["k"]] != new_d[r["k"]]  # no spurious updates
                applied[r["k"]] = r["new_v"]
        assert applied == new_d

    run()


def test_snapshot_diff_null_keys_and_attrs(spark):
    """Side membership survives NULLs: a NULL key joins nothing, so its
    old row is a delete and its new row an insert, even when every
    attribute is NULL too; a keyed row whose attributes are all NULL is
    still present on its side. With two keys, one NULL key part is
    enough to keep a row from matching."""
    schema = "k long, a string, b long"
    old = spark.createDataFrame(
        [(None, None, None), (1, None, None), (2, None, None),
         (3, "x", None), (5, None, None)], schema,
    )
    new = spark.createDataFrame(
        [(None, None, None), (1, None, None), (3, None, None),
         (4, None, None), (5, "y", 1)], schema,
    )
    got = sorted(
        ((r["k"], r["op"], r["old_a"], r["old_b"], r["new_a"], r["new_b"])
         for r in api.snapshot_diff(old, new, "k").collect()),
        key=repr,
    )
    assert got == sorted([
        (None, "delete", None, None, None, None),
        (None, "insert", None, None, None, None),
        (2, "delete", None, None, None, None),
        (3, "update", "x", None, None, None),
        (4, "insert", None, None, None, None),
        (5, "update", None, None, "y", 1),
    ], key=repr)

    schema2 = "k1 long, k2 long, a string"
    old2 = spark.createDataFrame([(1, None, None), (2, 2, None)], schema2)
    new2 = spark.createDataFrame([(1, None, None), (2, 2, None)], schema2)
    got2 = sorted(
        (r["k1"], r["k2"], r["op"])
        for r in api.snapshot_diff(old2, new2, ["k1", "k2"]).collect()
    )
    assert got2 == [(1, None, "delete"), (1, None, "insert")]


def test_first_row_and_topk_laws(spark):
    """first_row_per_group returns exactly one row per key — the
    minimum under the (unique) ordering; topk returns the true top-k."""
    rows_s = st.lists(
        st.tuples(_KEY, st.integers(0, 50)), min_size=1, max_size=14
    )

    @settings(max_examples=6, deadline=None)
    @given(rows_s, st.integers(1, 4))
    def run(rows, k):
        df = spark.createDataFrame(
            [(i, kk, v) for i, (kk, v) in enumerate(rows)],
            "rid long, k string, v long",
        )
        first = api.first_row_per_group(df, "k", [F.col("v"), F.col("rid")])
        want_first = {}
        for i, (kk, v) in enumerate(rows):
            if kk not in want_first or (v, i) < want_first[kk]:
                want_first[kk] = (v, i)
        assert {r["k"]: (r["v"], r["rid"]) for r in first.collect()} == want_first

        top = api.topk_per_group(
            df, "k", [F.col("v").desc(), F.col("rid")], k, rank_col="rk"
        ).collect()
        by_key: dict[str, list] = {}
        for i, (kk, v) in enumerate(rows):
            by_key.setdefault(kk, []).append((-v, i))
        for kk, cand in by_key.items():
            want = sorted(cand)[:k]
            got = sorted(
                (-r["v"], r["rid"]) for r in top if r["k"] == kk
            )
            assert got == want
            ranks = sorted(r["rk"] for r in top if r["k"] == kk)
            assert ranks == list(range(1, len(want) + 1))

    run()


def test_histogram_equidepth_law(spark):
    """Bucket sizes differ by at most 1, cover every row, and bucket
    value ranges are non-overlapping under a unique total ordering."""
    vals_s = st.lists(st.integers(0, 30), min_size=1, max_size=25)

    @settings(max_examples=6, deadline=None)
    @given(vals_s, st.integers(1, 6))
    def run(vals, buckets):
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "rid long, v long"
        )
        got = api.histogram_equidepth(df, "v", buckets, ["rid"]).collect()
        sizes = [r["n"] for r in got]
        assert sum(sizes) == len(vals)
        assert max(sizes) - min(sizes) <= 1
        ordered = sorted(got, key=lambda r: r["bucket"])
        # ranges may touch at equal values but not invert
        for cur, nxt in zip(ordered, ordered[1:]):
            assert cur["hi"] <= nxt["lo"]

    run()


def test_ann_topk_laws(spark):
    """exact == numpy brute force (same rounding, same tie rule); the
    LSH subset carries correct scores, respects the k bound, and an
    exact-duplicate vector is ALWAYS found (identical vectors share
    every bucket in every table). The LSH collapse of multi-table
    collisions leaves each (q_id, vec_id) once and each query's ranks
    1..n without gaps."""
    import math
    from decimal import Decimal, ROUND_HALF_UP

    comp = st.integers(1, 5)
    vecs_s = st.lists(
        st.lists(comp, min_size=3, max_size=3), min_size=2, max_size=10
    )

    def cos6(a, b):
        d = sum(x * y for x, y in zip(a, b))
        c = d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))
        return float(Decimal(repr(c)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    @settings(max_examples=5, deadline=None)
    @given(vecs_s, st.integers(1, 4))
    def run(vecs, k):
        corpus = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<float>",
        )
        # query 0 = an exact duplicate of corpus vector 0, fresh id
        qvec = vecs[0]
        queries = spark.createDataFrame(
            [(1000, [float(x) for x in qvec])],
            "vec_id long, embedding array<float>",
        )
        exact = api.ann_topk(corpus, queries, k=k, method="exact").collect()
        # numpy/python brute force with the same rounding + tie rule
        # (array<float> storage truncates to float32 first)
        import numpy as np

        q32 = np.asarray(qvec, dtype=np.float32).tolist()
        scored = sorted(
            ((-cos6(q32, np.asarray(v, dtype=np.float32).tolist()), i)
             for i, v in enumerate(vecs)),
        )[:k]
        want = [(1000, i, -negc, rk + 1) for rk, (negc, i) in enumerate(scored)]
        got = sorted(
            ((r["q_id"], r["vec_id"], r["cos_sim"], r["rk"]) for r in exact),
            key=lambda t: t[3],
        )
        assert [t[1:] for t in got] == [t[1:] for t in want]

        # LSH leg: query 1000 duplicates corpus vector 0 and query 1001
        # the last one, so both collide with their twin in every table
        lsh_queries = spark.createDataFrame(
            [(1000 + j, [float(x) for x in vecs[i]])
             for j, i in enumerate((0, len(vecs) - 1))],
            "vec_id long, embedding array<float>",
        )
        lsh = api.ann_topk(
            corpus, lsh_queries, k=k, method="lsh", lsh_tables=4, lsh_bits=4
        ).collect()
        pairs = [(r["q_id"], r["vec_id"]) for r in lsh]
        assert len(pairs) == len(set(pairs)), pairs
        for j, twin in enumerate((0, len(vecs) - 1)):
            rows = [r for r in lsh if r["q_id"] == 1000 + j]
            assert len(rows) <= k
            assert sorted(r["rk"] for r in rows) == list(range(1, len(rows) + 1))
            qv = np.asarray(vecs[twin], dtype=np.float32).tolist()
            by_cos = {i: cos6(qv, np.asarray(v, dtype=np.float32).tolist())
                      for i, v in enumerate(vecs)}
            for r in rows:
                assert r["cos_sim"] == by_cos[r["vec_id"]]
            # the query's twin (cosine exactly 1.0) must always be a
            # candidate, and the rank-1 row carries cos 1.0
            top = [r for r in rows if r["rk"] == 1]
            assert len(top) == 1 and top[0]["cos_sim"] == 1.0
            assert any(
                r["vec_id"] == twin or by_cos[r["vec_id"]] == 1.0 for r in rows
            )

    run()


def test_neardup_pairs_equiv(spark):
    """All three near-dup tiers through the generic wrapper reproduce
    the registered ops on renamed columns."""
    from hyperswitch_data_backfill_spark.operators.dedup import (
        dedup_minhash,
        dedup_ngram_jaccard,
        dedup_simhash,
    )

    docs = load_table(spark, SF_DIR, "documents").select(
        F.col("doc_id").alias("my_id"), F.col("text").alias("body")
    )
    jac = api.neardup_pairs(docs, id_col="my_id", text_col="body")
    cols = ["id_a", "id_b", "inter", "n_a", "n_b", "jaccard"]
    assert _rows(jac, cols) == _rows(dedup_ngram_jaccard(spark, SF_DIR), cols)

    mh = api.neardup_pairs(docs, id_col="my_id", text_col="body", method="minhash")
    cols = ["id_a", "id_b", "est_jaccard"]
    assert _rows(mh, cols) == _rows(dedup_minhash(spark, SF_DIR), cols)

    sh = api.neardup_pairs(docs, id_col="my_id", text_col="body", method="simhash")
    cols = ["id_a", "id_b", "hamming"]
    assert _rows(sh, cols) == _rows(dedup_simhash(spark, SF_DIR), cols)


def test_neardup_pairs_tuning_law(spark):
    """Tuning knobs behave monotonically: a lower Jaccard threshold is a
    superset; a Hamming cap tightened to 0 returns only exact-fingerprint
    pairs; thresholds filter correctly on generated corpora."""
    token = st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"])
    doc = st.lists(token, min_size=4, max_size=12).map(" ".join)

    @settings(max_examples=5, deadline=None)
    @given(st.lists(doc, min_size=2, max_size=6))
    def run(texts):
        texts = texts + [texts[0]]  # force one exact duplicate pair
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "k long, body string"
        )
        lo = api.neardup_pairs(
            df, id_col="k", text_col="body", threshold=0.2
        ).collect()
        hi = api.neardup_pairs(
            df, id_col="k", text_col="body", threshold=0.8
        ).collect()
        lo_pairs = {(r["id_a"], r["id_b"]) for r in lo}
        hi_pairs = {(r["id_a"], r["id_b"]) for r in hi}
        assert hi_pairs <= lo_pairs
        assert all(r["jaccard"] >= 0.8 for r in hi)
        # the forced duplicate (jaccard 1.0) survives any threshold
        assert (0, len(texts) - 1) in hi_pairs

        exact_fp = api.neardup_pairs(
            df, id_col="k", text_col="body", method="simhash", max_hamming=0
        ).collect()
        assert all(r["hamming"] == 0 for r in exact_fp)
        assert any(
            {r["id_a"], r["id_b"]} == {0, len(texts) - 1} for r in exact_fp
        )

    run()


def test_stable_split_equiv(spark):
    from hyperswitch_data_backfill_spark.operators.aggregates import (
        sample_stable_split,
    )

    docs = load_table(spark, SF_DIR, "documents")
    got = api.stable_split(
        docs, "doc_id", {"train": 0.9, "eval": 0.1}
    ).select("doc_id", "lang", "split")
    cols = ["doc_id", "lang", "split"]
    assert _rows(got, cols) == _rows(sample_stable_split(spark, SF_DIR), cols)


def test_stable_split_laws(spark):
    """A row's split is a pure function of (id, salt): invariant under
    corpus membership changes; splits partition the frame; a different
    salt re-deals; bad weights are rejected."""
    ids_s = st.lists(st.integers(0, 10_000), min_size=1, max_size=40, unique=True)

    @settings(max_examples=5, deadline=None)
    @given(ids_s)
    def run(ids):
        df = spark.createDataFrame([(i,) for i in ids], "id long")
        splits = {"train": 0.8, "val": 0.1, "test": 0.1}
        full = {r["id"]: r["split"] for r in api.stable_split(df, "id", splits).collect()}
        assert set(full) == set(ids)
        # contamination-proofness: splitting any subset gives identical labels
        sub = df.filter(F.col("id") % 2 == 0)
        sub_labels = {
            r["id"]: r["split"] for r in api.stable_split(sub, "id", splits).collect()
        }
        assert all(full[i] == s for i, s in sub_labels.items())
        # salt derives an independent deal (some id moves, given enough ids)
        if len(ids) >= 20:
            salted = {
                r["id"]: r["split"]
                for r in api.stable_split(df, "id", splits, salt="v2").collect()
            }
            assert salted != full

    run()
    with pytest.raises(ValueError):
        api.stable_split(
            spark.createDataFrame([(1,)], "id long"), "id", {"a": 0.5, "b": 0.4}
        )
    with pytest.raises(ValueError):
        api.stable_split(
            spark.createDataFrame([(1,)], "id long"), "id",
            {"a": 0.001, "b": 0.999},
        )


def test_cluster_pairs_law(spark):
    """cluster_pairs == python union-find: identical partition, label =
    component minimum, on generated edge sets (self-loops, chains,
    disjoint cliques all arise)."""
    edges_s = st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1, max_size=20,
    )

    @settings(max_examples=6, deadline=None)
    @given(edges_s)
    def run(edges):
        df = spark.createDataFrame(edges, "a long, b long")
        got = {
            r["node"]: r["label"]
            for r in api.cluster_pairs(df, id_a="a", id_b="b").collect()
        }
        parent: dict[int, int] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        comp: dict[int, list[int]] = {}
        for n in parent:
            comp.setdefault(find(n), []).append(n)
        want = {n: min(members) for members in comp.values() for n in members}
        assert got == want

    run()


# ---------------------------------------------------------------------------
# physical-plan guards for the generic kernels (same discipline as
# test_plan_shape.py: the scale story is only real if plans keep shape)
# ---------------------------------------------------------------------------

def _plan(df) -> str:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_asof_join_is_one_shuffle_no_join(spark):
    """The union+window formulation must contain NO join operator and
    exactly one Exchange (the by-key window shuffle): the whole point
    over a range-join formulation at 100 TB."""
    _, left, right = _events_split(spark)
    p = _plan(
        api.asof_join(
            left, right, on="ts", by="user_id",
            value_cols=["p_val"], tiebreak="event_id",
        )
    )
    assert "Join" not in p, f"as-of degraded to a join:\n{p}"
    import re

    n_exchange = len(re.findall(r"^\(\d+\) Exchange", p, flags=re.M))
    assert n_exchange == 1, f"expected 1 keyed shuffle, saw {n_exchange}:\n{p}"


def test_ann_lsh_has_no_cartesian(spark):
    """LSH candidates meet in a bucket equi-join with the query side
    broadcast; the exact path is the only one allowed a (broadcast)
    cross join."""
    emb = load_table(spark, SF_DIR, "embeddings")
    p = _plan(
        api.ann_topk(
            emb, emb.filter(F.col("vec_id") < 4), k=5, method="lsh"
        )
    )
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "BroadcastHashJoin" in p, f"bucket join lost its broadcast:\n{p}"


def test_scd2_apply_probes_broadcast(spark):
    """The delta-key semi/anti probes must stay broadcast joins —
    O(affected keys) shipped, never a history-sized shuffle."""
    versioned = _versioned_events(spark)
    snapshot = api.scd2_build(
        versioned.filter(F.col("event_id") % 2 == 0), "user_id", "us", ["event_id"]
    )
    p = _plan(
        api.scd2_apply(
            snapshot, versioned.filter(F.col("event_id") % 2 == 1),
            "user_id", "us", ["event_id"],
        )
    )
    assert p.count("BroadcastHashJoin") >= 2, f"semi/anti probes not broadcast:\n{p}"


def test_dedup_incremental_fold_law(spark):
    """Folding ANY batch partition of a corpus through dedup_incremental
    accepts exactly one survivor per distinct text — the earliest-batch,
    then min-id occurrence — i.e. the same acceptance set a one-shot
    dedup of the whole corpus (processed in that batch order) keeps."""
    token = st.sampled_from(["x", "y", "z"])
    doc = st.lists(token, min_size=1, max_size=3).map(" ".join)
    rows_s = st.lists(
        st.tuples(doc, st.integers(0, 2)), min_size=1, max_size=12
    )

    @settings(max_examples=5, deadline=None)
    @given(rows_s)
    def run(rows):
        data = [(i, t, b) for i, (t, b) in enumerate(rows)]
        schema = "doc_id long, text string, batch long"
        seen = None
        accepted = []
        for b in range(3):
            batch_rows = [r for r in data if r[2] == b]
            batch = spark.createDataFrame(batch_rows or [], schema)
            survivors, seen = api.dedup_incremental(batch, seen)
            accepted += [
                (r["doc_id"], r["text"]) for r in survivors.collect()
            ]
        # expected: first occurrence per text in (batch, doc_id) order
        want = {}
        for i, (t, b) in enumerate(rows):
            key = t
            cand = (b, i)
            if key not in want or cand < want[key]:
                want[key] = cand
        assert sorted(accepted) == sorted(
            (i, t) for t, (b, i) in want.items()
        )
        # idempotence: replaying any batch against the final state
        # accepts nothing
        replay = spark.createDataFrame(
            [r for r in data if r[2] == 0] or [], schema
        )
        again, _ = api.dedup_incremental(replay, seen)
        assert again.count() == 0

    run()


def test_advice_r10_guards(spark):
    """Round-10 ADVICE regressions pinned: (1) a middle split slice whose
    width rounds to zero buckets must raise, not be silently empty;
    (2) simhash rejects a similarity threshold (int(0.9)=0 footgun) and
    takes max_hamming instead; (3) asof_join refuses left columns that
    collide with its suffixed output names; (4) dedup_incremental's
    fingerprint union carries no full-history Deduplicate."""
    import pytest

    docs = load_table(spark, SF_DIR, "documents")
    with pytest.raises(ValueError, match="empty bucket slice"):
        api.stable_split(
            docs, "doc_id", {"train": 0.9, "val": 0.004, "test": 0.096}
        )

    with pytest.raises(ValueError, match="max_hamming"):
        api.neardup_pairs(docs, method="simhash", threshold=0.9)
    with pytest.raises(ValueError, match="simhash"):
        api.neardup_pairs(docs, method="jaccard", max_hamming=2)

    ev = load_table(spark, SF_DIR, "events")
    left = ev.select("user_id", "ts", F.lit(1).alias("ts_asof"))
    with pytest.raises(ValueError, match="collide"):
        api.asof_join(left, ev.select("user_id", "ts", "event_id"),
                      on="ts", by="user_id")

    # seen stands in for the PERSISTED fingerprint table (already
    # distinct on disk) — a plain scan-shaped frame, so any
    # Deduplicate/Aggregate in the union plan would be the full-history
    # distinct this fix removed.
    seen = docs.select(F.md5("text").alias("fp"))
    _, new_fp = api.dedup_incremental(docs.limit(10), seen)
    plan = new_fp._jdf.queryExecution().optimizedPlan().toString()
    assert "Deduplicate" not in plan and "Aggregate" not in plan, plan


def test_clean_corpus_decontam_equiv(spark, tmp_path):
    """Decontam leg: clean_corpus always dedups exact texts and the
    registered decontam_ngram does not, so with the gate off and the
    fixture's stand-in benchmark slice the funnel keeps decontam_ngram's
    survivors reduced to the min doc_id per text. A crafted copy of a
    surviving text under a fresh id makes that reduction bite at every
    scale, not only where the fixture itself repeats a text."""
    from pyspark.sql.window import Window

    from hyperswitch_data_backfill_spark.operators.corpus import (
        DECONTAM_BENCH_MOD,
        decontam_ngram,
    )

    docs = load_table(spark, SF_DIR, "documents")
    keep_id = decontam_ngram(spark, SF_DIR).agg(F.min("doc_id")).first()[0]
    new_id = docs.agg(F.max("doc_id")).first()[0] + 1
    if new_id % DECONTAM_BENCH_MOD == 0:
        new_id += 1
    dup = docs.filter(F.col("doc_id") == keep_id).withColumn(
        "doc_id", F.lit(new_id).cast(dict(docs.dtypes)["doc_id"])
    )
    docs.unionByName(dup).write.parquet(str(tmp_path / "documents.parquet"))
    sf_dir = str(tmp_path)

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % DECONTAM_BENCH_MOD == 0)
    train = docs.filter(F.col("doc_id") % DECONTAM_BENCH_MOD != 0)
    got = api.clean_corpus(
        train, bench, min_chars=0, max_chars=10**9,
        min_tokens=0, min_unique_ratio=0.0,
    )
    survivors = decontam_ngram(spark, sf_dir).join(
        docs.select("doc_id", "text"), "doc_id"
    )
    want = survivors.withColumn(
        "rn", F.row_number().over(Window.partitionBy("text").orderBy("doc_id"))
    ).filter(F.col("rn") == 1)
    assert {keep_id, new_id} <= {r["doc_id"] for r in survivors.collect()}
    cols = ["doc_id", "source", "n_chars"]
    want_rows = _rows(want, cols)
    assert new_id not in {r[0] for r in want_rows}
    assert _rows(got.select(*cols), cols) == want_rows


def test_clean_corpus_laws(spark):
    """Funnel laws on generated corpora: (1) output texts are unique
    with the min-id survivor; (2) after decontamination no output doc
    shares an n-gram with the benchmark, and clean docs survive;
    (3) a stricter gate keeps a subset; (4) splits partition the
    output."""
    token = st.sampled_from(["aa", "bb", "cc", "dd", "ee"])
    doc = st.lists(token, min_size=3, max_size=10).map(" ".join)

    @settings(max_examples=5, deadline=None)
    @given(st.lists(doc, min_size=3, max_size=10), st.integers(0, 2))
    def run(texts, bench_idx):
        texts = texts + [texts[0]]  # force a duplicate
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        bench = spark.createDataFrame(
            [(0, texts[bench_idx % len(texts)])], "doc_id long, text string"
        )
        out = api.clean_corpus(
            df, bench, min_chars=0, max_chars=10**9,
            min_tokens=0, min_unique_ratio=0.0, decontam_n=3,
            splits={"a": 0.5, "b": 0.5},
        ).collect()

        # (1) unique texts, min-id survivor among gated rows
        seen_texts = [r["text"] for r in out]
        assert len(seen_texts) == len(set(seen_texts))
        first_of = {}
        for i, t in enumerate(texts):
            first_of.setdefault(t, i)
        for r in out:
            assert r["doc_id"] == first_of[r["text"]]

        # (2) decontam: no 3-gram overlap with the benchmark text
        def ngrams(t, n=3):
            ws = t.split()
            return {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}

        bg = ngrams(texts[bench_idx % len(texts)])
        for r in out:
            assert not (ngrams(r["text"]) & bg), r["text"]

        # (4) split column partitions the output
        assert all(r["split"] in ("a", "b") for r in out)

        # (3) monotone gate: stricter min_tokens keeps a subset
        loose = {r["doc_id"] for r in api.clean_corpus(
            df, min_chars=0, max_chars=10**9, min_tokens=0,
            min_unique_ratio=0.0,
        ).collect()}
        strict = {r["doc_id"] for r in api.clean_corpus(
            df, min_chars=0, max_chars=10**9, min_tokens=5,
            min_unique_ratio=0.0,
        ).collect()}
        assert strict <= loose

    run()


def test_neardup_embeddings_equiv(spark):
    """Both methods through the generic wrapper reproduce the
    registered cosine pair ops on renamed columns."""
    from hyperswitch_data_backfill_spark.operators.similarity import (
        neardup_cosine,
        neardup_cosine_lsh,
    )

    emb = load_table(spark, SF_DIR, "embeddings").select(
        F.col("vec_id").alias("my_id"),
        F.col("embedding").alias("vec"),
        "label",
    )
    cols = ["id_a", "id_b", "cos_sim"]
    got = api.neardup_embeddings(
        emb, id_col="my_id", vec_col="vec", method="block", block_col="label"
    )
    assert _rows(got, cols) == _rows(neardup_cosine(spark, SF_DIR), cols)

    got_lsh = api.neardup_embeddings(emb, id_col="my_id", vec_col="vec")
    assert _rows(got_lsh, cols) == _rows(neardup_cosine_lsh(spark, SF_DIR), cols)


def test_neardup_embeddings_guards_and_laws(spark):
    """Parameter validation; the block-size refusal; and the precision
    law (every emitted pair truly clears the threshold) on generated
    vectors of a non-fixture dimension."""
    import numpy as np

    emb = load_table(spark, SF_DIR, "embeddings")
    with pytest.raises(ValueError, match="block_col"):
        api.neardup_embeddings(emb, method="block")
    with pytest.raises(ValueError, match="lsh"):
        api.neardup_embeddings(emb, method="block", block_col="label", lsh_bits=4)
    with pytest.raises(ValueError, match="block_col"):
        api.neardup_embeddings(emb, method="lsh", block_col="label")
    with pytest.raises(ValueError, match="max_block"):
        api.neardup_embeddings(
            emb, method="block", block_col="label", max_block=10
        )

    # dim-16 generated vectors: kernel generalizes beyond the fixture
    # width; precision is exact by construction
    rng = np.random.default_rng(3)
    base = rng.standard_normal((10, 16)).astype(np.float32)
    rows = [(i, [float(x) for x in base[i % 10] + (i // 10) * 0.01], i % 2)
            for i in range(20)]
    df = spark.createDataFrame(rows, "id long, v array<float>, grp int")
    out = api.neardup_embeddings(
        df, id_col="id", vec_col="v", method="block", block_col="grp",
        threshold=0.95,
    ).collect()
    assert out, "planted near-identical replicas must pair"
    by_id = {i: np.asarray(v, dtype=np.float64) for i, v, _ in rows}
    for r in out:
        a, b = by_id[r["id_a"]], by_id[r["id_b"]]
        cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert cos >= 0.95 - 1e-6
        assert r["id_a"] < r["id_b"]
        assert (r["id_a"] - r["id_b"]) % 10 == 0 or cos >= 0.95  # replicas pair


def test_neardup_embeddings_id_and_cap_validation(spark):
    """Review findings pinned: non-integral ids are rejected up front
    (the kernel carries bigint ids — a float id would silently
    truncate), and max_block with method='lsh' raises instead of being
    silently unenforced."""
    emb = load_table(spark, SF_DIR, "embeddings")
    stringy = emb.select(
        F.col("vec_id").cast("string").alias("vec_id"), "embedding"
    )
    with pytest.raises(ValueError, match="integral"):
        api.neardup_embeddings(stringy)
    floaty = emb.select(
        F.col("vec_id").cast("double").alias("vec_id"), "embedding"
    )
    with pytest.raises(ValueError, match="integral"):
        api.neardup_embeddings(floaty)
    with pytest.raises(ValueError, match="max_block"):
        api.neardup_embeddings(emb, method="lsh", max_block=100)


# ---------------------------------------------------------------------------
# apply_changes (lakehouse.py cdc_apply_changes generalized — r11 item 7)
# ---------------------------------------------------------------------------

def test_apply_changes_equiv(spark):
    """The registered cdc_apply_changes key re-expressed through the
    generic kernel: base = customer snapshot in cents, changelog =
    orders replayed with full after-images (the registered op patches
    only the balance, so the after-image joins the untouched columns
    from base — insert keys get NULLs, exactly as the oracle's full
    outer join does)."""
    from hyperswitch_data_backfill_spark.operators.lakehouse import (
        cdc_apply_changes,
    )

    customer = load_table(spark, SF_DIR, "customer")
    orders = load_table(spark, SF_DIR, "orders")
    base = customer.select(
        "c_custkey", "c_name",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("acctbal_cents"),
        "c_mktsegment",
    )
    ch = orders.select(
        F.col("o_custkey").alias("c_custkey"),
        "o_orderdate", "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", F.lit("D"))
        .otherwise(F.lit("U")).alias("op"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("acbal"),
    ).join(
        base.select("c_custkey", "c_name", "c_mktsegment"), "c_custkey", "left"
    ).select(
        "c_custkey", "o_orderdate", "o_orderkey", "op", "c_name",
        F.col("acbal").alias("acctbal_cents"), "c_mktsegment",
    )
    got = api.apply_changes(
        base, ch, key_cols="c_custkey",
        order_cols=["o_orderdate", "o_orderkey"],
    )
    cols = ["c_custkey", "c_name", "acctbal_cents", "c_mktsegment", "last_op"]
    assert _rows(got, cols) == _rows(cdc_apply_changes(spark, SF_DIR), cols)


def _ac_base(spark):
    return spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k int, name string, v int"
    )


def _ac_changes(spark):
    return spark.createDataFrame(
        [
            (2, 1, "U", "b2", 21),
            (2, 2, "D", "x", 0),
            (4, 1, "U", "d", 40),
            (5, 1, "D", "zz", 0),
            (3, 1, "U", "c1", 31),
            (3, 2, "U", "c2", 32),
        ],
        "k int, seq int, op string, name string, v int",
    )


def test_apply_changes_laws(spark):
    out = api.apply_changes(
        _ac_base(spark), _ac_changes(spark), key_cols="k", order_cols="seq"
    )
    rows = {r.k: r for r in out.collect()}
    # tombstone removal: last op for k=2 is D
    assert 2 not in rows
    # tombstone for a key absent from base is a no-op, not an insert
    assert 5 not in rows
    # untouched-key passthrough, NULL provenance
    assert rows[1].name == "a" and rows[1].v == 10 and rows[1].last_op is None
    # insert (changed key absent from base)
    assert rows[4].name == "d" and rows[4].v == 40 and rows[4].last_op == "U"
    # last-writer-wins under order_cols
    assert rows[3].name == "c2" and rows[3].v == 32 and rows[3].last_op == "U"


def test_apply_changes_slicing_invariance(spark):
    """apply(apply(base, s1), s2) == apply(base, s1 ∪ s2) for any
    ts-ordered slicing — the batch-replay contract the streaming CDC
    maintainer pins on the registered key."""
    base, ch = _ac_base(spark), _ac_changes(spark)
    cols = ["k", "name", "v"]
    once = api.apply_changes(
        base, ch, key_cols="k", order_cols="seq", op_out=None
    )
    for cut in (0, 1, 2):
        s1 = ch.filter(F.col("seq") <= cut)
        s2 = ch.filter(F.col("seq") > cut)
        step = api.apply_changes(
            api.apply_changes(base, s1, key_cols="k", order_cols="seq", op_out=None),
            s2, key_cols="k", order_cols="seq", op_out=None,
        )
        assert _rows(step, cols) == _rows(once, cols), f"cut={cut}"


def test_apply_changes_validation(spark):
    base, ch = _ac_base(spark), _ac_changes(spark)
    with pytest.raises(ValueError, match="after-image"):
        api.apply_changes(
            base, ch.drop("name"), key_cols="k", order_cols="seq"
        )
    with pytest.raises(ValueError, match="op_out"):
        api.apply_changes(
            base, ch, key_cols="k", order_cols="seq", op_out="name"
        )


def test_apply_changes_rejects_null_op_rows(spark):
    """r12 ADVICE: a NULL-op change row must fail loudly in-plan, not
    alias the untouched-key passthrough (which emits all-NULL rows for
    keys absent from base); an empty delete_op marker is refused at
    construction for the same aliasing reason."""
    import pytest
    from pyspark.errors import SparkRuntimeException

    base = spark.createDataFrame([(1, "a")], "k bigint, v string")
    bad = spark.createDataFrame(
        [(2, None, 1, "x")], "k bigint, op string, seq bigint, v string"
    )
    with pytest.raises(SparkRuntimeException, match="NULL 'op'"):
        api.apply_changes(
            base, bad, key_cols="k", order_cols="seq"
        ).collect()
    with pytest.raises(ValueError, match="non-empty marker"):
        api.apply_changes(
            base, bad, key_cols="k", order_cols="seq", delete_op=""
        )


# ---------------------------------------------------------------------------
# pagerank / bm25 / neardup_images generic kernels (r12 verdict items 4/6)
# ---------------------------------------------------------------------------

def test_pagerank_equiv_to_registered_key(spark):
    """Feeding the fixture's mirrored co-purchase edge list through the
    generic kernel reproduces the driver-hashed graph_pagerank result
    row-for-row (the generic path inherits the oracle evidence)."""
    from pyspark.sql import functions as F

    from hyperswitch_data_backfill_spark.catalog import load_table
    from hyperswitch_data_backfill_spark.operators.graph import (
        PR_OFFSET,
        graph_pagerank,
    )

    orders = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.lit(PR_OFFSET) + F.col("l_partkey")).alias("dst"),
        )
        .distinct()
    )
    got = {(r.node, r.pr) for r in
           api.pagerank(edges, undirected=True).collect()}
    want = {(r.node, r.pr) for r in graph_pagerank(spark, SF_DIR).collect()}
    assert got == want and got


def test_pagerank_mass_and_teleport_laws(spark):
    """Conservation laws on an arbitrary directed graph: every rank
    >= the teleport floor, and total mass never exceeds n*base (floor
    truncation only LOSES micro-units, never invents them)."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1)], "src bigint, dst bigint"
    )
    base, damping = 1_000_000, 85
    ranks = api.pagerank(edges, base=base, damping_pct=damping).collect()
    n = len(ranks)
    assert n == 4  # every src node ranked
    floor = int(base * (100 - damping) / 100)
    assert all(r.pr >= floor for r in ranks)
    assert sum(r.pr for r in ranks) <= n * base


def test_pagerank_regular_graph_fixpoint(spark):
    """On a regular undirected graph (a cycle: deg 2 everywhere) the
    uniform rank is a FIXPOINT of the integer iteration when base is
    divisible by the degree — every node stays at exactly base."""
    n = 6
    edges = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], "src bigint, dst bigint"
    )
    ranks = api.pagerank(edges, undirected=True, base=1_000_000).collect()
    assert {r.pr for r in ranks} == {1_000_000} and len(ranks) == n


def test_pagerank_validation_and_empty_graph(spark):
    import pytest

    edges = spark.createDataFrame([], "src bigint, dst bigint")
    assert api.pagerank(edges).count() == 0  # empty in, empty out — no crash
    with pytest.raises(ValueError, match="damping_pct"):
        api.pagerank(edges, damping_pct=100)
    with pytest.raises(ValueError, match="iters"):
        api.pagerank(edges, iters=-1)


def test_bm25_equiv_to_registered_key(spark):
    """Same corpus, same query terms, same params → the generic kernel
    reproduces the driver-hashed text_bm25 top-50 row-for-row."""
    from hyperswitch_data_backfill_spark.catalog import load_table
    from hyperswitch_data_backfill_spark.operators.text import (
        BM25_QUERY_TERMS,
        text_bm25,
    )

    docs = load_table(spark, SF_DIR, "documents")
    got = {(r.doc_id, r.score, r.rk) for r in
           api.bm25(docs, BM25_QUERY_TERMS).collect()}
    want = {(r.doc_id, r.score, r.rk) for r in text_bm25(spark, SF_DIR).collect()}
    assert got == want and got


def test_bm25_idf_and_membership_laws(spark):
    """Retrieval laws on a constructed corpus: only docs containing a
    query term appear; equal-tf/equal-length docs rank rare-term doc
    above common-term doc (IDF monotonicity); ranks are dense from 1
    and ordered by score."""
    docs = spark.createDataFrame(
        [
            (1, "rare alpha beta gamma"),
            (2, "common alpha beta gamma"),
            (3, "common delta epsilon zeta"),
            (4, "common eta theta iota"),
            (5, "nothing to see here"),
        ],
        "doc_id bigint, text string",
    )
    rows = api.bm25(docs, ["rare", "common"], top_k=None).collect()
    ids = {r.doc_id for r in rows}
    assert 5 not in ids and ids == {1, 2, 3, 4}
    by_id = {r.doc_id: r for r in rows}
    assert by_id[1].score > by_id[2].score  # rare beats common at same tf/dl
    ranked = sorted(rows, key=lambda r: r.rk)
    assert [r.rk for r in ranked] == list(range(1, len(rows) + 1))
    assert all(
        ranked[i].score >= ranked[i + 1].score for i in range(len(ranked) - 1)
    )


def test_bm25_caller_columns_and_validation(spark):
    import pytest

    docs = spark.createDataFrame(
        [(10, "x y x"), (20, "y z")], "uid bigint, body string"
    )
    rows = api.bm25(docs, ["x"], id_col="uid", text_col="body",
                    top_k=1).collect()
    assert [r.uid for r in rows] == [10]
    assert set(rows[0].asDict()) == {"uid", "score", "rk"}
    with pytest.raises(ValueError, match="non-empty"):
        api.bm25(docs, [])
    with pytest.raises(ValueError, match="top_k"):
        api.bm25(docs, ["x"], top_k=0)


def test_neardup_images_generic_equiv_and_renamed_columns(spark):
    """The generic image kernel reproduces the driver-hashed
    dedup_image_dhash_pairs result, and caller column names map
    through."""
    from hyperswitch_data_backfill_spark.operators.perceptual import (
        dedup_image_dhash_pairs,
    )
    from hyperswitch_data_backfill_spark.operators.multimodal import doc_media

    media = doc_media(spark, SF_DIR)
    want = {(r.id_a, r.id_b, r.hamming) for r in
            dedup_image_dhash_pairs(spark, SF_DIR).collect()}
    got = {(r.id_a, r.id_b, r.hamming) for r in
           api.neardup_images(media).collect()}
    assert got == want and got
    renamed = media.selectExpr(
        "media_id AS img", "payload AS blob", "meta_json AS dims")
    got2 = {(r.id_a, r.id_b, r.hamming) for r in
            api.neardup_images(
                renamed, id_col="img", payload_col="blob", meta_col="dims"
            ).collect()}
    assert got2 == want


def test_neardup_audio_and_videos_generic_equiv(spark):
    """The audio/video generic kernels reproduce their driver-hashed
    fixture twins row-for-row through renamed caller columns."""
    from hyperswitch_data_backfill_spark.operators.multimodal import doc_media
    from hyperswitch_data_backfill_spark.operators.perceptual import (
        dedup_audio_ehash_pairs,
        dedup_video_vhash_pairs,
        doc_video,
    )

    media = doc_media(spark, SF_DIR).selectExpr(
        "media_id AS clip", "payload AS pcm")
    want_a = {(r.id_a, r.id_b, r.hamming) for r in
              dedup_audio_ehash_pairs(spark, SF_DIR).collect()}
    got_a = {(r.id_a, r.id_b, r.hamming) for r in
             api.neardup_audio(media, id_col="clip", payload_col="pcm").collect()}
    assert got_a == want_a and got_a

    vid = doc_video(spark, SF_DIR).selectExpr(
        "media_id AS clip", "payload AS blob", "meta_json AS dims")
    want_v = {(r.id_a, r.id_b, r.n_frame_matches) for r in
              dedup_video_vhash_pairs(spark, SF_DIR).collect()}
    got_v = {(r.id_a, r.id_b, r.n_frame_matches) for r in
             api.neardup_videos(
                 vid, id_col="clip", payload_col="blob", meta_col="dims",
                 sample_frames=2,
             ).collect()}
    assert got_v == want_v and got_v
