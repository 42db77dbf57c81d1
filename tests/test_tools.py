"""Smoke tests for the repo tools that back operational claims:
tools/rotation.py (window-rotation policy is mechanical) and
tools/make_bigsf.py (the sf1 scale point is reproducible and
referential-integrity-preserving)."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parent.parent


def test_rotation_tool_suggests_valid_window():
    r = subprocess.run(
        [sys.executable, "tools/rotation.py"],
        capture_output=True, text=True, cwd=str(REPO), timeout=300,
    )
    assert r.returncode == 0, r.stderr[-1000:]
    out = r.stdout
    assert "_DRIVER_WINDOW = [" in out
    # the suggestion contains exactly 50 quoted keys, all registered
    from hyperswitch_data_backfill_spark import registry

    registry._load_all_operator_modules()
    body = out.split("_DRIVER_WINDOW = [", 1)[1]
    keys = [
        line.split('"')[1]
        for line in body.splitlines()
        if line.strip().startswith('"')
    ]
    assert len(keys) == 50
    unknown = set(keys) - set(registry.REGISTRY)
    assert not unknown, unknown
    # never-swept and ERR keys must come before any green key
    first_green = out.find(" green ")
    for marker in (" NEVER ", " ERR "):
        pos = out.find(marker)
        if pos != -1:
            assert pos < first_green


def test_no_tool_hard_codes_an_absolute_checkout_path():
    """A tool finds the package next to itself: one run from another
    checkout (a parent copy for a before/after plan dump) must import
    that checkout's code, not this one's. So no tool names this
    checkout's absolute path, and none puts an absolute literal on
    ``sys.path``."""
    import re

    literal_on_path = re.compile(r"sys\.path\.(insert|append)\([^)]*[\"']/")
    for tool in sorted((REPO / "tools").glob("*.py")):
        src = tool.read_text()
        assert str(REPO) not in src, tool.name
        assert not literal_on_path.search(src), tool.name


def test_make_bigsf_preserves_schema_and_integrity(tmp_path):
    dst = str(tmp_path / "sf2x")
    r = subprocess.run(
        [sys.executable, "tools/make_bigsf.py", "/root/testdata/sf0.001", dst, "2"],
        capture_output=True, text=True, cwd=str(REPO), timeout=300,
    )
    assert r.returncode == 0, r.stderr[-1000:]
    con = duckdb.connect()

    def count(path, t):
        return con.sql(f"SELECT COUNT(*) FROM read_parquet('{path}/{t}.parquet')").fetchone()[0]

    src = "/root/testdata/sf0.001"
    for t in ("customer", "orders", "lineitem", "events", "documents", "embeddings"):
        assert count(dst, t) == 2 * count(src, t), t
    for dim in ("region", "nation"):
        assert count(dst, dim) == count(src, dim), dim
    # schema identical (names + types) for a fact table
    s1 = con.sql(f"DESCRIBE SELECT * FROM read_parquet('{src}/orders.parquet')").fetchall()
    s2 = con.sql(f"DESCRIBE SELECT * FROM read_parquet('{dst}/orders.parquet')").fetchall()
    assert [(r[0], r[1]) for r in s1] == [(r[0], r[1]) for r in s2]
    # referential integrity survives the key shifts
    orphans = con.sql(
        f"SELECT COUNT(*) FROM read_parquet('{dst}/orders.parquet') o "
        f"WHERE NOT EXISTS (SELECT 1 FROM read_parquet('{dst}/customer.parquet') c "
        f"WHERE c.c_custkey = o.o_custkey)"
    ).fetchone()[0]
    assert orphans == 0
    # documents: replica tokens are salted (no cross-replica duplicate shingles)
    dup_texts = con.sql(
        f"SELECT COUNT(*) FROM (SELECT text, COUNT(*) c FROM "
        f"read_parquet('{dst}/documents.parquet') GROUP BY text HAVING COUNT(*) > "
        f"(SELECT MAX(c2) FROM (SELECT COUNT(*) c2 FROM read_parquet('{src}/documents.parquet') GROUP BY text)))"
    ).fetchone()[0]
    assert dup_texts == 0
    con.close()


def test_make_bigsf_is_deterministic(tmp_path):
    """r11 verdict item 3: the embedding jitter is hash-derived, so two
    regenerations produce the SAME bytes-level content — measured
    cosine pair sets / LSH recall figures at sf1 are re-checkable
    evidence, not one-shot rolls."""
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    for dst in (a, b):
        r = subprocess.run(
            [sys.executable, "tools/make_bigsf.py",
             "/root/testdata/sf0.001", dst, "2"],
            capture_output=True, text=True, cwd=str(REPO), timeout=300,
        )
        assert r.returncode == 0, r.stderr[-1000:]
    con = duckdb.connect()
    digest = (
        "SELECT md5(string_agg(CAST(vec_id AS VARCHAR) || ':' || "
        "array_to_string(embedding, ','), '|' ORDER BY vec_id)) "
        "FROM read_parquet('{d}/embeddings.parquet')"
    )
    ha = con.sql(digest.format(d=a)).fetchone()[0]
    hb = con.sql(digest.format(d=b)).fetchone()[0]
    con.close()
    assert ha == hb
    # and replicas really are jittered (not copies of the originals)
    con = duckdb.connect()
    n_distinct = con.sql(
        f"SELECT COUNT(DISTINCT array_to_string(embedding, ',')) "
        f"FROM read_parquet('{a}/embeddings.parquet')"
    ).fetchone()[0]
    n = con.sql(
        f"SELECT COUNT(*) FROM read_parquet('{a}/embeddings.parquet')"
    ).fetchone()[0]
    con.close()
    assert n_distinct == n


def test_check_workflow_passes_on_tree_and_catches_breakage(tmp_path):
    """tools/check_workflow.py (r6 verdict item 4): the shipped
    workflows lint clean, and the checker actually catches the failure
    classes it claims — bash typos, missing paths, pyspark/connector
    version skew, steps with neither run nor uses."""
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import check_workflow as cw

    repo = Path(__file__).resolve().parent.parent
    for wf in sorted((repo / ".github" / "workflows").glob("*.yml")):
        assert cw.check_workflow(wf) == [], wf

    broken = tmp_path / "broken.yml"
    broken.write_text(
        "name: x\n"
        "on: [push]\n"
        "jobs:\n"
        "  j:\n"
        "    runs-on: ubuntu-latest\n"
        "    steps:\n"
        "      - name: bad bash\n"
        "        run: |\n"
        "          if [ -f x ]; then echo hi\n"          # missing fi
        "      - name: missing path\n"
        "        run: python tools/does_not_exist.py\n"
        "      - name: neither\n"
        "        with: {x: 1}\n"
    )
    errs = cw.check_workflow(broken)
    assert any("bash syntax" in e for e in errs)
    assert any("does_not_exist" in e for e in errs)
    assert any("run/uses" in e for e in errs)

    skew = tmp_path / "skew.yml"
    skew.write_text(
        "name: x\n"
        "on: [push]\n"
        "jobs:\n"
        "  j:\n"
        "    runs-on: ubuntu-latest\n"
        "    env:\n"
        "      PYSPARK_SUBMIT_ARGS: --packages org.apache.spark:spark-sql-kafka-0-10_2.13:3.5.0 pyspark-shell\n"
        "    steps:\n"
        "      - name: install\n"
        "        run: pip install \"pyspark==4.1.2\"\n"
    )
    assert any("classpath mismatch" in e for e in cw.check_workflow(skew))

    # Pin/artifact matching is PER JOB (r7 advisory): a mismatch in job
    # `a` must be flagged even when a later job `b` carries a matching
    # pair (the old file-global last-write-wins variables masked this).
    masked = tmp_path / "masked.yml"
    masked.write_text(
        "name: x\n"
        "on: [push]\n"
        "jobs:\n"
        "  a:\n"
        "    runs-on: ubuntu-latest\n"
        "    env:\n"
        "      PYSPARK_SUBMIT_ARGS: --packages org.apache.spark:spark-sql-kafka-0-10_2.13:3.5.0 pyspark-shell\n"
        "    steps:\n"
        "      - name: install\n"
        "        run: pip install \"pyspark==4.1.2\"\n"
        "  b:\n"
        "    runs-on: ubuntu-latest\n"
        "    env:\n"
        "      PYSPARK_SUBMIT_ARGS: --packages org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2 pyspark-shell\n"
        "    steps:\n"
        "      - name: install\n"
        "        run: pip install \"pyspark==4.1.2\"\n"
    )
    errs = cw.check_workflow(masked)
    assert any("job a" in e and "classpath mismatch" in e for e in errs)
    assert not any("job b" in e for e in errs)
    # and a kafka-less job next to a kafka job must not cross-compare
    cross = tmp_path / "cross.yml"
    cross.write_text(
        "name: x\n"
        "on: [push]\n"
        "jobs:\n"
        "  dry:\n"
        "    runs-on: ubuntu-latest\n"
        "    steps:\n"
        "      - name: install\n"
        "        run: pip install \"pyspark==9.9.9\"\n"
        "  kafka:\n"
        "    runs-on: ubuntu-latest\n"
        "    env:\n"
        "      PYSPARK_SUBMIT_ARGS: --packages org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2 pyspark-shell\n"
        "    steps:\n"
        "      - name: install\n"
        "        run: pip install \"pyspark==4.1.2\"\n"
    )
    assert cw.check_workflow(cross) == []


def test_bench_reconcile_lists_speedup_movers(tmp_path, capsys):
    """tools/bench_reconcile.py (r7 advisory): improvement movers beyond
    the threshold are listed (a large unexplained speedup can mean a
    short-circuited plan), while only slowdowns are isolated."""
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import bench_reconcile as br

    old = tmp_path / "old.json"
    new = tmp_path / "new.json"
    old.write_text(json.dumps({"queries": {"q_fast": 1.0, "q_slow": 1.0, "q_flat": 1.0}}))
    new.write_text(json.dumps({"queries": {"q_fast": 0.5, "q_slow": 1.5, "q_flat": 1.02}}))
    argv = sys.argv
    sys.argv = ["bench_reconcile.py", str(old), str(new), "--no-isolate"]
    try:
        rc = br.main()
    finally:
        sys.argv = argv
    out = capsys.readouterr().out
    assert rc == 0
    assert "q_fast" in out and "-50%" in out      # speedup surfaced
    assert "q_slow" in out and "+50%" in out      # slowdown listed
    assert "q_flat" not in out                    # inside threshold


def test_bench_reconcile_mixed_run_keeps_exit_1(tmp_path, capsys, monkeypatch):
    """r10 ADVICE: a mixed run (one CONFIRMED regression + one
    isolate-harness failure) must exit 1 — not 2 — so bench.py keeps the
    confirmed rows; a pure-failure run still exits 2."""
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import bench_reconcile as br

    old = tmp_path / "old.json"
    new = tmp_path / "new.json"
    old.write_text(json.dumps({"queries": {"q_bad": 1.0, "q_err": 1.0}}))
    new.write_text(json.dumps({"queries": {"q_bad": 2.0, "q_err": 2.0}}))

    class FakeProc:
        def __init__(self, stdout):
            self.stdout = stdout
            self.stderr = ""

    def fake_run(cmd, **kw):
        q = cmd[2]
        if q == "q_bad":  # isolated min far above old → confirmed
            return FakeProc(json.dumps({"min_sec": 1.9}) + "\n")
        return FakeProc("not json\n")  # harness failure for q_err

    monkeypatch.setattr(br.subprocess, "run", fake_run)
    argv = sys.argv
    sys.argv = ["bench_reconcile.py", str(old), str(new), "--n", "1"]
    try:
        rc = br.main()
    finally:
        sys.argv = argv
    out = capsys.readouterr().out
    assert rc == 1, out
    assert "REGRESSION" in out and "isolate failed" in out
    assert "partial" in out

    # pure harness failure (no confirmed verdict) stays exit 2
    old.write_text(json.dumps({"queries": {"q_err": 1.0}}))
    new.write_text(json.dumps({"queries": {"q_err": 2.0}}))
    sys.argv = ["bench_reconcile.py", str(old), str(new), "--n", "1"]
    try:
        rc = br.main()
    finally:
        sys.argv = argv
    assert rc == 2


def test_ci_dry_run_job_steps_locally(tmp_path, capsys):
    """Local mirror of e2e.yml's container-free dry-run job: generate
    the CI fixture, boot the engine through the CLI exactly as the
    workflow step does, and assert both entity topics plus the
    consolidated feed report rows. (The ONLY delta the full e2e job
    adds is live Postgres+Kafka wiring.)"""
    import hyperswitch_data_backfill_spark.__main__ as cli

    repo = Path(__file__).resolve().parent.parent
    out = subprocess.run(
        [sys.executable, str(repo / "tools" / "gen_ci_fixture.py"), str(tmp_path)],
        capture_output=True, text=True,
    )
    assert out.returncode == 0, out.stderr
    rc = cli.main([
        "-f", str(repo / "examples" / "e2e" / "ci-dry-run.toml"),
        "-s", "1995-01-01", "-e", "2001-12-31",
        "--parquet-dir", str(tmp_path),
        "--dry-run",
    ])
    assert rc == 0
    lines = capsys.readouterr().out.strip().splitlines()
    by_topic = {ln.split("\t")[0]: int(ln.split("\t")[1]) for ln in lines}
    assert by_topic["orders-events"] == 1500
    assert by_topic["lineitem-events"] > 0
    assert by_topic["hyperswitch-consolidated-events"] == (
        by_topic["orders-events"] + by_topic["lineitem-events"]
    )



def test_bench_reconcile_disposition_contract():
    """bench.py's exit-code interpretation (review finding: a reconciler
    CRASH also exits 1 — it must not be recorded as a confirmed
    regression; only an exit 1 carrying the verdict table is)."""
    import bench as bench_mod

    d = bench_mod.reconcile_disposition
    table = (
        "| query | ... | verdict |\n| q | 1.0 | REGRESSION |\n"
        "END-OF-RECONCILE-REPORT"
    )
    assert d(1, table) == "confirmed"
    assert d(1, "3 slowdown mover(s):\nTraceback ...") == "crash"
    # r11 ADVICE: header-then-crash must read as crash, not confirmed —
    # only the end-of-report sentinel proves the verdict rows flushed
    assert d(1, "| query | ... | verdict |\n| q | 1.0 |\nTraceback") == "crash"
    assert d(0, "no slowdown movers") == "clean"
    assert d(2, table) == "partial"
    assert d(1, "") == "skip"
    assert d(0, "   \n") == "skip"


def test_bench_attach_isolated_contract(monkeypatch):
    """r12 verdict item 4: BENCH_r{N}.json itself carries the isolated
    block. Pins the mover rule (>10% vs newest committed), the rank-
    and-cap with no silent drops, value_adjusted substitution (only
    when the isolated min is lower), and the no-prior fallback."""
    import bench as bench_mod

    record = {"queries": {"a": 2.0, "b": 1.0, "c": 0.5, "d": 1.0},
              "value": 4.5, "sf": 0.1}

    # no committed prior: zero isolation, adjusted == raw
    monkeypatch.setattr(bench_mod, "_newest_committed_bench", lambda: None)
    r = dict(record)
    bench_mod._attach_isolated(r)
    assert r["isolated"] == {"basis": None, "n_runs": 5, "queries": {}}
    assert r["value_adjusted"] == 4.5

    # prior at a DIFFERENT sf: movers are apples-to-oranges — no
    # isolation, and the record says why (caught live on the first
    # sf1 bench after this feature shipped)
    monkeypatch.setattr(
        bench_mod, "_newest_committed_bench",
        lambda: ("BENCH_r99.json", {"a": 0.1}, 1.0),
    )
    r = dict(record)
    bench_mod._attach_isolated(r)
    assert r["isolated"]["queries"] == {} and "sf mismatch" in r["isolated"]["skipped"]
    assert r["value_adjusted"] == 4.5

    # prior: a regressed 2x (mover), b improved (not a mover), c new-ish
    # key absent from prior (not a mover), d unchanged
    monkeypatch.setattr(
        bench_mod, "_newest_committed_bench",
        lambda: ("BENCH_r99.json", {"a": 1.0, "b": 2.0, "d": 1.0}, 0.1),
    )
    calls = []

    class _Out:
        returncode = 0
        stdout = '{"query": "a", "min_sec": 1.05, "runs": [1.05]}'
        stderr = ""

    def fake_run(cmd, **kw):
        calls.append(cmd)
        return _Out()

    import subprocess
    monkeypatch.setattr(subprocess, "run", fake_run)
    r = dict(record)
    bench_mod._attach_isolated(r)
    assert len(calls) == 1 and "a" in calls[0]
    assert r["isolated"]["queries"] == {"a": 1.05}
    assert r["value_adjusted"] == round(1.05 + 1.0 + 0.5 + 1.0, 3)

    # the cap is logged, never silent
    monkeypatch.setattr(
        bench_mod, "_newest_committed_bench",
        lambda: ("BENCH_r99.json", {q: 0.1 for q in record["queries"]}, 0.1),
    )
    monkeypatch.setattr(bench_mod, "MAX_ISOLATED_MOVERS", 2)
    r = dict(record)
    bench_mod._attach_isolated(r)
    assert len(r["isolated"]["movers_not_isolated"]) == 2
