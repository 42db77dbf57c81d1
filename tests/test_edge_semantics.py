"""Boundary-exact semantics tests on CRAFTED fixtures.

The oracle gate proves operator ≡ DuckDB on the generated fixtures, but
the generated data may never land exactly ON a boundary (tie
timestamps, gap == threshold, age == tolerance). These tests write a
hand-built events.parquet into a tmp dir and drive the REGISTERED
functions on it (the fns take sf_dir, so the exact production code path
runs — no reimplementation), pinning each documented boundary rule:

- join_asof / join_asof_forward: strictly-earlier / strictly-later — a
  same-instant purchase is NOT visible;
- join_asof_tolerance: age == tolerance is a HIT (<=), +1 µs a miss;
- win_session: gap == threshold stays the SAME session (> starts new);
- attr_last_touch: lag == window is credited (<=), +1 µs is 'direct';
- stream_attribution_replay: the live stream reproduces the batch
  result on the same crafted boundary data.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from hyperswitch_data_backfill_spark.registry import REGISTRY, queries

queries()

T0 = datetime(2024, 3, 1, 12, 0, 0)
US = timedelta(microseconds=1)

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, "
    "event_type string, value double, props string"
)


def _events_dir(spark, tmp_path, rows):
    df = spark.createDataFrame(
        [(i, ts, uid, et, val, "{}") for i, (ts, uid, et, val) in enumerate(rows)],
        EVENTS_SCHEMA,
    )
    d = tmp_path / "crafted"
    df.coalesce(1).write.mode("overwrite").parquet(str(d / "events.parquet"))
    return str(d)


def test_asof_same_instant_purchase_is_invisible(spark, tmp_path):
    rows = [
        (T0, 1, "purchase", 10.0),          # id 0: build row at T0
        (T0, 1, "view", 1.0),               # id 1: probe at the SAME instant
        (T0 + US, 1, "view", 1.0),          # id 2: probe 1 µs later
    ]
    d = _events_dir(spark, tmp_path, rows)
    out = {r["event_id"]: r for r in REGISTRY["join_asof"].fn(spark, d).collect()}
    assert out[1]["p_ts"] is None, "strict <: same-instant purchase must not match"
    assert out[2]["p_ts"] == T0 and out[2]["p_value"] == 10.0
    # the purchase row itself (also a probe) must not see itself
    assert out[0]["p_ts"] is None

    # forward (strict >): the fixture's purchase timestamps never tie
    # within a user, so only crafted rows catch a flipped tie rule
    rows = [
        (T0, 1, "purchase", 10.0),          # id 0: build row at T0
        (T0, 1, "view", 1.0),               # id 1: probe at the SAME instant
        (T0 - US, 1, "view", 1.0),          # id 2: probe 1 µs earlier
    ]
    d = _events_dir(spark, tmp_path, rows)
    out = {
        r["event_id"]: r for r in REGISTRY["join_asof_forward"].fn(spark, d).collect()
    }
    assert out[1]["n_ts"] is None, "strict >: same-instant purchase must not match"
    assert out[2]["n_ts"] == T0 and out[2]["n_value"] == 10.0
    assert out[0]["n_ts"] is None


def test_asof_tolerance_boundary_inclusive(spark, tmp_path):
    from hyperswitch_data_backfill_spark.operators.joins import ASOF_TOLERANCE_US

    tol = timedelta(microseconds=ASOF_TOLERANCE_US)
    rows = [
        (T0, 1, "purchase", 10.0),
        (T0 + tol, 1, "view", 1.0),          # id 1: age == tolerance → hit
        (T0 + tol + US, 1, "view", 1.0),     # id 2: age == tolerance + 1µs → miss
    ]
    d = _events_dir(spark, tmp_path, rows)
    out = {r["event_id"]: r for r in REGISTRY["join_asof_tolerance"].fn(spark, d).collect()}
    assert out[1]["p_ts"] == T0 and out[1]["p_value"] == 10.0
    assert out[2]["p_ts"] is None and out[2]["p_value"] is None


def test_session_gap_boundary_stays_in_session(spark, tmp_path):
    from hyperswitch_data_backfill_spark.operators.windows import SESSION_GAP_MIN

    gap = timedelta(minutes=SESSION_GAP_MIN)
    rows = [
        (T0, 1, "view", 1.0),
        (T0 + gap, 1, "view", 1.0),               # gap == threshold → same session
        (T0 + gap + gap + US, 1, "view", 1.0),    # gap + 1 µs → NEW session
    ]
    d = _events_dir(spark, tmp_path, rows)
    sessions = {
        r["session_id"]: r for r in REGISTRY["win_session"].fn(spark, d).collect()
    }
    assert len(sessions) == 2
    assert sessions[1]["n_events"] == 2
    assert sessions[1]["session_end"] == T0 + gap
    assert sessions[2]["n_events"] == 1


def test_attribution_window_boundary_inclusive(spark, tmp_path):
    from hyperswitch_data_backfill_spark.operators.analytics import ATTR_WINDOW_US

    win = timedelta(microseconds=ATTR_WINDOW_US)
    rows = [
        (T0, 1, "click", 1.0),                 # id 0: the touch
        (T0 + win, 1, "purchase", 10.0),       # id 1: lag == window → credited
        (T0 + win + US, 1, "purchase", 10.0),  # id 2: lag == window + 1 µs → direct
    ]
    d = _events_dir(spark, tmp_path, rows)
    out = {
        r["purchase_event_id"]: r
        for r in REGISTRY["attr_last_touch"].fn(spark, d).collect()
    }
    assert out[1]["touch_event_id"] == 0 and out[1]["touch_type"] == "click"
    assert out[1]["lag_us"] == ATTR_WINDOW_US
    assert out[2]["touch_type"] == "direct" and out[2]["touch_event_id"] is None


def test_stream_replay_matches_batch_on_boundary_data(spark, tmp_path):
    """The live-stream key must agree with the batch key on the exact
    boundary rows above — not just on the generated fixtures."""
    from hyperswitch_data_backfill_spark.operators.analytics import ATTR_WINDOW_US

    win = timedelta(microseconds=ATTR_WINDOW_US)
    rows = [
        (T0, 1, "click", 1.0),
        (T0 + win, 1, "purchase", 10.0),
        (T0 + win + US, 1, "purchase", 10.0),
        (T0, 2, "purchase", 5.0),          # purchase with no prior touch
        (T0, 3, "email", 1.0),
        (T0 + US, 3, "purchase", 7.0),
    ]
    d = _events_dir(spark, tmp_path, rows)
    batch = {tuple(r) for r in REGISTRY["attr_last_touch"].fn(spark, d).collect()}
    stream = {
        tuple(r) for r in REGISTRY["stream_attribution_replay"].fn(spark, d).collect()
    }
    assert stream == batch
    assert len(batch) == 4


ORDERS_SCHEMA = (
    "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
)
CUSTOMER_SCHEMA = (
    "c_custkey bigint, c_name string, c_nationkey int, "
    "c_acctbal double, c_mktsegment string"
)


def _cdc_dir(spark, tmp_path):
    """Crafted star corner: same-date tie, tombstone, insert, passthrough."""
    customers = [
        (1, "alice", 0, 100.0, "BUILDING"),
        (2, "bob", 0, 200.0, "AUTOMOBILE"),
        (3, "carol", 0, 300.0, "MACHINERY"),
    ]
    day = T0
    orders = [
        # key 1: TWO changes on the same date — higher orderkey must win
        (100, 1, "O", 11.0, day, "1-URGENT"),
        (101, 1, "O", 22.0, day, "1-URGENT"),
        # key 2: last change (later date) is a tombstone (status F)
        (200, 2, "O", 33.0, day, "1-URGENT"),
        (201, 2, "F", 44.0, day + timedelta(days=1), "1-URGENT"),
        # key 10: change for a key NOT in the snapshot → insert
        (300, 10, "O", 55.0, day, "1-URGENT"),
        # key 3: no changes → passthrough
    ]
    d = tmp_path / "cdc"
    spark.createDataFrame(customers, CUSTOMER_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(d / "customer.parquet"))
    spark.createDataFrame(orders, ORDERS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(d / "orders.parquet"))
    return str(d)


def test_cdc_apply_changes_corner_cases(spark, tmp_path):
    d = _cdc_dir(spark, tmp_path)
    out = {r["c_custkey"]: r for r in REGISTRY["cdc_apply_changes"].fn(spark, d).collect()}
    assert set(out) == {1, 3, 10}, "tombstoned key 2 must vanish"
    # same-date tie: orderkey 101 (22.0) beats 100 (11.0)
    assert out[1]["acctbal_cents"] == 2200 and out[1]["last_op"] == "U"
    assert out[1]["c_name"] == "alice"
    # passthrough keeps the snapshot balance, no op provenance
    assert out[3]["acctbal_cents"] == 30000 and out[3]["last_op"] is None
    # insert: no snapshot columns to inherit
    assert out[10]["acctbal_cents"] == 5500 and out[10]["last_op"] == "U"
    assert out[10]["c_name"] is None and out[10]["c_mktsegment"] is None


def test_stream_cdc_maintainer_matches_batch_on_corner_cases(spark, tmp_path):
    """Slice-invariance must hold ON the tie rows too: the two same-date
    changes for key 1 land in DIFFERENT micro-batch slices (orderkey
    100 % 3 == 1, 101 % 3 == 2), so the tie is resolved across the
    state merge, not within one batch."""
    d = _cdc_dir(spark, tmp_path)
    batch = {tuple(r) for r in REGISTRY["cdc_apply_changes"].fn(spark, d).collect()}
    sliced = {
        tuple(r)
        for r in REGISTRY["stream_cdc_maintainer_batch"].fn(spark, d).collect()
    }
    assert sliced == batch and len(batch) == 3


def test_scd2_apply_equals_full_rebuild_on_tie_timestamps(spark, tmp_path):
    """The SCD2 apply contract on pathological input: three versions of
    one key at the SAME microsecond, split across the base (even ids)
    and delta (odd ids) halves. Interval ordering falls back to
    event_id, producing zero-length intervals — the incremental apply
    must still be indistinguishable from the full rebuild."""
    rows = [
        (T0, 1, "v0", 1.0),   # id 0 → base
        (T0, 1, "v1", 1.0),   # id 1 → delta
        (T0, 1, "v2", 1.0),   # id 2 → base
        (T0 + US, 2, "w0", 1.0),  # id 3 → untouched-key path (no odd ids)
        # id 4 → base again so user 2 has only-even ids (pure anti-join path)
        (T0 + 2 * US, 2, "w1", 1.0),
    ]
    d = _events_dir(spark, tmp_path, rows)
    full = {tuple(r) for r in REGISTRY["scd2_intervals"].fn(spark, d).collect()}
    applied = {tuple(r) for r in REGISTRY["scd2_apply"].fn(spark, d).collect()}
    assert applied == full
    # the tie triple chains 0 -> 1 -> 2 with zero-length intervals
    chain = sorted(
        (r for r in full if r[0] == 1), key=lambda r: (r[3], r[1])
    )
    assert [c[1] for c in chain] == [0, 1, 2]
    assert chain[0][4] == chain[0][3] and chain[1][4] == chain[1][3]
    assert chain[2][4] is None  # open-ended current version


def test_topk_per_group_tie_at_kth_place(spark, tmp_path):
    """row_number (not rank): a price tie at the k-th place keeps the
    lower orderkey and drops the higher — exactly 3 rows per group."""
    day = T0
    orders = [
        (1, 7, "O", 50.0, day, "1-URGENT"),
        (2, 7, "O", 40.0, day, "1-URGENT"),
        (3, 7, "O", 30.0, day, "1-URGENT"),   # tied with id 4 at rank 3
        (4, 7, "O", 30.0, day, "1-URGENT"),   # loses the tie (higher key)
        (5, 7, "O", 20.0, day, "1-URGENT"),
    ]
    d = tmp_path / "topk"
    spark.createDataFrame(orders, ORDERS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(d / "orders.parquet"))
    out = REGISTRY["topk_per_group"].fn(spark, str(d)).collect()
    assert sorted((r["o_orderkey"], r["rk"]) for r in out) == [(1, 1), (2, 2), (3, 3)]


def test_dedup_exact_survivor_is_lowest_doc_id(spark, tmp_path):
    docs = [
        (9, "same text", "en", "web", 9),
        (2, "same text", "en", "crawl", 9),   # survivor: lowest doc_id
        (5, "same text", "fr", "web", 9),
        (7, "unique", "en", "web", 6),
    ]
    d = tmp_path / "docs"
    spark.createDataFrame(
        docs, "doc_id bigint, text string, lang string, source string, n_chars int"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    out = {r["doc_id"]: r for r in REGISTRY["dedup_exact"].fn(spark, str(d)).collect()}
    assert set(out) == {2, 7}
    assert out[2]["source"] == "crawl", "survivor row must keep ITS OWN attributes"


def test_money_asof_quote_day_inclusive_and_null_before_first_quote(spark, tmp_path):
    """FX as-of boundary: an order exactly ON a quote day uses that
    day's rate (<= is inclusive); an order BEFORE the first quote in
    the book gets a NULL rate and NULL usd_cents (try_element_at on an
    empty eligible set), never a crash or a future rate."""
    from datetime import date

    from hyperswitch_data_backfill_spark.functions.money import (
        FX_N_CCY,
        FX_QUOTE_EVERY_DAYS,
        FX_RATE_BASE,
        FX_RATE_SPREAD,
    )

    # find a date whose epoch-day is on the quote grid
    base = date(2024, 1, 1)
    epoch_day = (base - date(1970, 1, 1)).days
    shift = (-epoch_day) % FX_QUOTE_EVERY_DAYS
    qdate = base + timedelta(days=shift)
    qday = epoch_day + shift
    custkey = 7
    ccy = custkey % FX_N_CCY
    mk = lambda d: datetime(d.year, d.month, d.day)
    orders = [
        (1, custkey, "O", 10.0, mk(qdate), "1-URGENT"),                 # ON the quote day
        (2, custkey, "O", 20.0, mk(qdate + timedelta(days=1)), "1-URGENT"),  # after
        (3, custkey, "O", 30.0, mk(qdate - timedelta(days=1)), "1-URGENT"),  # before ANY quote
    ]
    d = tmp_path / "fx"
    spark.createDataFrame(orders, ORDERS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(d / "orders.parquet"))
    out = {
        r["o_orderkey"]: r
        for r in REGISTRY["money_convert_asof"].fn(spark, str(d)).collect()
    }
    expected_rate = FX_RATE_BASE + (qday * 7919 + ccy * 104729) % FX_RATE_SPREAD
    assert out[1]["rate_micro"] == expected_rate
    assert out[1]["usd_cents"] == (1000 * expected_rate) // FX_RATE_BASE
    assert out[2]["rate_micro"] == expected_rate, "day after still sees the quote"
    assert out[3]["rate_micro"] is None and out[3]["usd_cents"] is None
