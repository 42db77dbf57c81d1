"""Self-tests for the benchmark's probes: record digest, counter deltas,
the steal filter and the event-log summary.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench.probes import (  # noqa: E402
    compare_records,
    counter_delta,
    digest,
    hash_records,
    record_hash,
    summarize_event_log,
    unstolen,
)

RECORDS = [("1:10", '{"a":1}'), ("1:11", '{"a":2}'), ("2:12", '{"a":3}')]


def test_hash_separates_key_value_boundary_and_null():
    assert record_hash(b"ab", b"c") != record_hash(b"a", b"bc")
    assert record_hash(None, b"x") != record_hash(b"", b"x")
    assert record_hash(b"k", None) != record_hash(b"k", b"")


def test_hash_records_accepts_str_and_bytes_alike():
    as_bytes = [(k.encode(), v.encode()) for k, v in RECORDS]
    assert hash_records(RECORDS).tolist() == hash_records(as_bytes).tolist()


def test_digest_ignores_order():
    h = hash_records(RECORDS)
    assert digest(h) == digest(h[::-1])
    assert digest(h) != digest(h[:2])


def test_compare_exact_match_in_any_order():
    h = hash_records(RECORDS)
    out = compare_records(h, h[[2, 0, 1]])
    assert out["match"]
    assert (out["missing"], out["unexpected"], out["duplicate"]) == (0, 0, 0)


def test_compare_counts_missing_unexpected_and_duplicates():
    expected = hash_records(RECORDS)
    got = hash_records([RECORDS[0], RECORDS[0], RECORDS[1], ("9:9", "{}")])
    out = compare_records(expected, got)
    assert not out["match"]
    assert out == {"expected": 3, "got": 4, "missing": 1, "unexpected": 1,
                   "duplicate": 1, "match": False}


def test_compare_keeps_expected_duplicates():
    expected = hash_records([RECORDS[0], RECORDS[0]])
    assert compare_records(expected, expected.copy())["match"]
    out = compare_records(expected, expected[:1])
    assert out["missing"] == 1 and not out["match"]


def test_compare_empty_sides():
    empty = np.array([], dtype=np.uint64)
    assert compare_records(empty, empty)["match"]
    out = compare_records(empty, hash_records(RECORDS))
    assert out["unexpected"] == 3 and out["missing"] == 0


def test_counter_delta_nested_and_new_counters():
    before = {"tables": {"orders": {"seq_scan": 2, "seq_tup_read": 100}},
              "sessions": 5}
    after = {"tables": {"orders": {"seq_scan": 10, "seq_tup_read": 500},
                        "lineitem": {"seq_scan": 4}},
             "sessions": 25}
    assert counter_delta(before, after) == {
        "tables": {"orders": {"seq_scan": 8, "seq_tup_read": 400},
                   "lineitem": {"seq_scan": 4}},
        "sessions": 20,
    }


def test_counter_delta_refuses_a_reset_counter():
    with pytest.raises(ValueError, match="went backwards"):
        counter_delta({"sessions": 7}, {"sessions": 3})


def test_unstolen_keeps_runs_below_the_steal_limit():
    runs = [{"steal_share": x} for x in (0.01, 0.20, 0.03, 0.06)]
    assert [r["steal_share"] for r in unstolen(runs)] == [0.01, 0.03]


def test_unstolen_keeps_every_run_when_too_few_are_clean():
    runs = [{"steal_share": x} for x in (0.01, 0.20, 0.09)]
    assert unstolen(runs) == runs
    assert unstolen(runs, least=1) == runs[:1]


def test_summarize_event_log_groups_stages_by_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [3, 4],
         "Properties": {"spark.jobGroup.id": "backfill:orders-events"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 3, "Number of Tasks": 4, "Submission Time": 1000,
            "Completion Time": 3500, "Accumulables": [
                {"Name": "internal.metrics.executorCpuTime", "Value": 2e9},
                {"Name": "internal.metrics.jvmGCTime", "Value": 40}]}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 9, "Number of Tasks": 1, "Accumulables": []}},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    out = summarize_event_log(str(path))
    assert list(out) == ["backfill:orders-events"]
    agg = out["backfill:orders-events"]
    assert (agg["jobs"], agg["stages"], agg["tasks"]) == (1, 1, 4)
    assert agg["run_s"] == pytest.approx(2.5)
    assert agg["cpu_s"] == pytest.approx(2.0)
    assert agg["gc_s"] == pytest.approx(0.04)
