"""Real-PostgreSQL wire source (sources/pgwire.py).

Two layers:
- pure-codec units (SCRAM against the RFC 7677 §3 example exchange,
  COPY text escaping, filter→SQL compilation, JDBC-style slice math) —
  no server, no Spark;
- end-to-end against a REAL PostgreSQL 15 server (``PgServer``:
  initdb + pg_ctl in a throwaway dir): auth matrix (trust, scram-sha-256,
  md5, wrong-password refusal), typed simple queries, COPY in/out
  round-trip, executor-parallel write_pgwire → partitioned read_pgwire
  through Spark, predicate pushdown correctness, and the fixture key vs
  the DuckDB oracle.

Server-backed tests skip (not fail) when the container lacks the
PostgreSQL binaries — same gating stance as the optional-codec tests.
"""

from __future__ import annotations

import pytest

from hyperswitch_data_backfill_spark.sources.pgwire import (
    PgColumn,
    PgError,
    PgServer,
    PgServerUnavailable,
    PgWireReader,
    _copy_field,
    _filter_to_sql,
    _numeric_ddl,
    _scram_sha256_client,
    _sql_literal,
    pgwire_scan_orders,
    read_pgwire,
    write_pgwire,
)

# ---------------------------------------------------------------- units


class TestScram:
    def test_rfc7677_example_exchange(self):
        """Replay the published RFC 7677 §3 SCRAM-SHA-256 example
        byte-for-byte: user 'user', pass 'pencil', fixed nonces."""
        first_bare, cont, verify = _scram_sha256_client(
            "pencil", username="user", nonce="rOprNGfwEbeRWgbNEkqO")
        assert first_bare == "n=user,r=rOprNGfwEbeRWgbNEkqO"
        server_first = (
            "r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0,"
            "s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096")
        client_final = cont(server_first)
        assert client_final == (
            "c=biws,r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0,"
            "p=dHzbZapWIk4jUhN+Ute9ytag9zjfMHgsqmmiz7AndVQ=")
        verify("v=6rriTRBi23WpRR/wtup+mMhUZUn/dB5nLTJRsjl95G4=")

    def test_rejects_forged_server_signature(self):
        first_bare, cont, verify = _scram_sha256_client(
            "pencil", username="user", nonce="rOprNGfwEbeRWgbNEkqO")
        cont("r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0,"
             "s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096")
        with pytest.raises(Exception, match="signature mismatch"):
            verify("v=" + "A" * 43 + "=")

    def test_rejects_truncated_server_nonce(self):
        _bare, cont, _verify = _scram_sha256_client(
            "pencil", nonce="clientnonce")
        with pytest.raises(Exception, match="nonce"):
            cont("r=evilnonce,s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096")


class TestCopyEscaping:
    def test_null_and_scalars(self):
        assert _copy_field(None) == "\\N"
        assert _copy_field(True) == "t"
        assert _copy_field(False) == "f"
        assert _copy_field(42) == "42"
        assert _copy_field(1.5) == "1.5"

    def test_tab_newline_backslash(self):
        assert _copy_field("a\tb") == "a\\tb"
        assert _copy_field("a\nb") == "a\\nb"
        assert _copy_field("a\\b") == "a\\\\b"

    def test_bytes_hex(self):
        assert _copy_field(b"\x00\xff") == "\\\\x00ff"

    def test_datetime(self):
        from datetime import date, datetime

        assert _copy_field(date(2026, 1, 2)) == "2026-01-02"
        assert (_copy_field(datetime(2026, 1, 2, 3, 4, 5))
                == "2026-01-02 03:04:05")


class TestFilterSql:
    def test_supported_filters(self):
        from pyspark.sql.datasource import (
            EqualTo, GreaterThan, In, IsNotNull, LessThanOrEqual,
        )

        assert _filter_to_sql(EqualTo(("k",), 5)) == "k = 5"
        assert _filter_to_sql(GreaterThan(("k",), 5)) == "k > 5"
        assert _filter_to_sql(LessThanOrEqual(("k",), 5)) == "k <= 5"
        assert _filter_to_sql(In(("s",), ("a", "b"))) == "s IN ('a', 'b')"
        assert _filter_to_sql(IsNotNull(("s",))) == "s IS NOT NULL"

    def test_nested_attribute_not_pushed(self):
        from pyspark.sql.datasource import EqualTo

        assert _filter_to_sql(EqualTo(("a", "b"), 5)) is None

    def test_string_literal_quote_escaped(self):
        assert _sql_literal("O'Neil") == "'O''Neil'"


class TestSliceMath:
    def _reader(self, **opts):
        base = {"port": "1", "table": "t", "numPartitions": "4",
                "partitionColumn": "k", "lowerBound": "0",
                "upperBound": "100"}
        base.update(opts)
        return PgWireReader(None, base)

    def test_first_and_last_slice_open_ended(self):
        parts = self._reader().partitions()
        assert len(parts) == 4
        assert parts[0].sql.endswith("WHERE k < 25")
        assert "k >= 25" in parts[1].sql and "k < 50" in parts[1].sql
        assert parts[3].sql.endswith("WHERE k >= 75")

    def test_single_partition_no_bounds(self):
        parts = self._reader(numPartitions="1").partitions()
        assert len(parts) == 1
        assert "WHERE" not in parts[0].sql

    def test_narrow_range_caps_partitions(self):
        parts = self._reader(lowerBound="0", upperBound="2").partitions()
        assert len(parts) == 2

    def test_pushed_filter_lands_in_every_slice(self):
        r = self._reader()
        from pyspark.sql.datasource import EqualTo

        residual = list(r.pushFilters([EqualTo(("status",), "F")]))
        assert len(residual) == 1  # everything stays residual
        for p in r.partitions():
            assert "status = 'F'" in p.sql

    def test_bad_identifier_refused(self):
        with pytest.raises(ValueError, match="identifier"):
            self._reader(partitionColumn="k; DROP TABLE t").partitions()

    def test_numeric_typmod(self):
        assert _numeric_ddl((12 << 16 | 3) + 4) == "decimal(12,3)"
        assert _numeric_ddl(-1) == "decimal(38,18)"
        assert PgColumn("x", 1700, (12 << 16 | 3) + 4).spark_ddl_type() \
            == "decimal(12,3)"


# ------------------------------------------------------------ real server


@pytest.fixture(scope="module")
def pg():
    try:
        with PgServer() as server:
            yield server
    except PgServerUnavailable as exc:
        pytest.skip(f"no usable PostgreSQL server binaries: {exc}")


class TestRealServer:
    def test_typed_simple_query(self, pg):
        from datetime import date, datetime
        from decimal import Decimal

        with pg.connect() as conn:
            cols, rows = conn.query(
                "SELECT 1::int2 AS a, 2::int4 AS b, 3::int8 AS c,"
                " 1.5::float4 AS d, 2.5::float8 AS e, TRUE AS f,"
                " 'txt'::text AS g, 'vc'::varchar(5) AS h,"
                " 12.345::numeric(12,3) AS i, DATE '2026-01-02' AS j,"
                " TIMESTAMP '2026-01-02 03:04:05' AS k,"
                " '\\x00ff'::bytea AS l, NULL::int8 AS m")
        assert [c.name for c in cols] == list("abcdefghijklm")
        assert rows == [(
            1, 2, 3, 1.5, 2.5, True, "txt", "vc", Decimal("12.345"),
            date(2026, 1, 2), datetime(2026, 1, 2, 3, 4, 5),
            b"\x00\xff", None,
        )]

    def test_json_jsonb_uuid_decode(self, pg):
        """The reference's entity tables carry serde_json::Value
        metadata columns that land as json/jsonb in Postgres, plus
        uuid keys (SURVEY §1.2) — a real Hyperswitch scan hits these
        OIDs first (r14 verdict item 3). All three map to Spark
        strings; jsonb comes back in Postgres's canonical text form,
        uuid lowercased."""
        with pg.connect() as conn:
            cols, rows = conn.query(
                'SELECT \'{"a": 1}\'::json AS j,'
                ' \'{"b":  2,"a":1}\'::jsonb AS jb,'
                " 'A0EEBC99-9C0B-4EF8-BB6D-6BB9BD380A11'::uuid AS u,"
                " ARRAY['\"x\"'::jsonb, '7'::jsonb] AS jba")
        assert [c.spark_ddl_type() for c in cols] == [
            "string", "string", "string", "array<string>"]
        j, jb, u, jba = rows[0]
        assert j == '{"a": 1}'               # json stores text verbatim
        assert jb == '{"a": 1, "b": 2}'      # jsonb canonical form
        assert u == "a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11"
        assert jba == ['"x"', "7"]

    def test_numeric_decodes_exactly_no_float_transit(self, pg):
        """numeric → Decimal with NO double transit (SURVEY §1.4
        "never float for money"): a 38-digit literal whose value no
        float64 can represent must round-trip text-exact, and
        numeric[] (OID 1231, r15 verdict item 3) decodes each element
        the same way, carrying the column typmod."""
        from decimal import Decimal

        hp = "12345678901234567890.123456789012345678"  # > 2^53 digits
        with pg.connect() as conn:
            cols, rows = conn.query(
                f"SELECT {hp}::numeric(38,18) AS a,"
                " 0.10::numeric(12,2) AS b,"
                f" ARRAY[1.50, NULL, {hp}]::numeric(38,18)[] AS arr,"
                " ARRAY[2.25]::numeric(12,2)[] AS arr2")
        assert [c.spark_ddl_type() for c in cols] == [
            "decimal(38,18)", "decimal(12,2)",
            "array<decimal(38,18)>", "array<decimal(12,2)>"]
        a, b, arr, arr2 = rows[0]
        assert a == Decimal(hp) and str(a) == hp  # digit-exact
        assert float(Decimal(hp)) != Decimal(hp)  # float64 CAN'T hold it
        assert b == Decimal("0.10") and str(b) == "0.10"  # scale kept
        assert arr == [Decimal("1.500000000000000000"), None, Decimal(hp)]
        assert arr2 == [Decimal("2.25")]

    def test_numeric_spark_roundtrip_exact(self, pg, spark):
        """DecimalType(38,18) values survive write_pgwire (COPY text)
        → numeric(38,18) column → read_pgwire digit-exact — the money
        path a real Postgres analytics schema forces, beside the
        reference's own i64-minor-units stance."""
        from decimal import Decimal

        hp = Decimal("98765432109876543210.987654321098765432")
        vals = [(1, hp), (2, Decimal("-0.000000000000000001")),
                (3, None), (4, Decimal("42.000000000000000000"))]
        df = spark.createDataFrame(vals, "k bigint, amt decimal(38,18)")
        with pg.connect() as conn:
            conn.execute(
                "CREATE TABLE money_t (k bigint, amt numeric(38,18))")
        write_pgwire(df.repartition(2), pg.host, pg.port, "money_t",
                     user=pg.user, database=pg.database)
        back = read_pgwire(
            spark, pg.host, pg.port, "money_t",
            user=pg.user, database=pg.database)
        assert str(back.schema["amt"].dataType) == "DecimalType(38,18)"
        got = sorted((r["k"], r["amt"]) for r in back.collect())
        assert got == sorted(vals)  # Decimal == is value-exact

    def test_jsonb_metadata_spark_roundtrip(self, pg, spark):
        """A jsonb metadata column + uuid key through the Spark read
        path — the first real-schema shape a Hyperswitch table scan
        presents — lands as strings that get_json_object digests."""
        from pyspark.sql import functions as F

        with pg.connect() as conn:
            conn.execute(
                "CREATE TABLE meta_t (k bigint, id uuid, props jsonb)")
            conn.copy_in(
                "COPY meta_t (k, id, props) FROM STDIN",
                [
                    "1\ta0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11"
                    '\t{"plan": "pro", "n": 3}',
                    "2\tB0EEBC99-9C0B-4EF8-BB6D-6BB9BD380A11"
                    '\t{"plan": "free", "n": 1}',
                ])
        back = read_pgwire(spark, pg.host, pg.port, "meta_t",
                           user=pg.user)
        assert dict((f.name, f.dataType.simpleString())
                    for f in back.schema.fields) == {
            "k": "bigint", "id": "string", "props": "string"}
        got = sorted(
            tuple(r) for r in back.select(
                "k", "id",
                F.get_json_object("props", "$.plan").alias("plan"),
                F.get_json_object("props", "$.n").cast("int").alias("n"),
            ).collect())
        assert got == [
            (1, "a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11", "pro", 3),
            (2, "b0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11", "free", 1),
        ]
        with pg.connect() as conn:
            conn.execute("DROP TABLE meta_t")

    def test_error_response_and_session_reuse(self, pg):
        with pg.connect() as conn:
            with pytest.raises(PgError, match="does_not_exist"):
                conn.query("SELECT * FROM does_not_exist")
            _cols, rows = conn.query("SELECT 7 AS ok")
            assert rows == [(7,)]

    def test_copy_roundtrip_with_escapes(self, pg):
        with pg.connect() as conn:
            conn.execute(
                "CREATE TABLE copy_rt (k bigint, s text)")
            n = conn.copy_in(
                "COPY copy_rt (k, s) FROM STDIN",
                ["1\thello", "2\ta\\tb", "3\t\\N"])
            assert n == 3
            _cols, rows = conn.query("SELECT k, s FROM copy_rt ORDER BY k")
            assert rows == [(1, "hello"), (2, "a\tb"), (3, None)]
            out = list(conn.copy_out("COPY copy_rt TO STDOUT"))
            assert sorted(out) == ["1\thello", "2\ta\\tb", "3\t\\N"]
            conn.execute("DROP TABLE copy_rt")

    def test_scram_auth_real_exchange(self, pg):
        with pg.connect() as conn:
            conn.execute("SET password_encryption = 'scram-sha-256'")
            conn.execute(
                "CREATE ROLE scramuser LOGIN PASSWORD 'tops3cret'")
        pg.require_auth("scramuser", "scram-sha-256")
        with pg.connect(user="scramuser", password="tops3cret") as conn:
            _cols, rows = conn.query("SELECT current_user AS u")
            assert rows == [("scramuser",)]

    def test_scram_wrong_password_refused(self, pg):
        # depends on the role + hba rule from the scram test above
        with pg.connect() as conn:
            conn.execute("SELECT 1")  # server healthy
        with pytest.raises(PgError):
            pg.connect(user="scramuser", password="wrong").close()

    def test_md5_auth(self, pg):
        with pg.connect() as conn:
            conn.execute("SET password_encryption = 'md5'")
            conn.execute("CREATE ROLE md5user LOGIN PASSWORD 'legacy'")
        pg.require_auth("md5user", "md5")
        with pg.connect(user="md5user", password="legacy") as conn:
            _cols, rows = conn.query("SELECT current_user AS u")
            assert rows == [("md5user",)]

    def test_missing_password_clear_error(self, pg):
        with pytest.raises(PgError, match="no\\s+password was configured"):
            pg.connect(user="scramuser").close()


class TestSparkRoundtrip:
    @pytest.fixture(scope="class")
    def loaded(self, pg, spark):
        """events carve loaded into PG executor-parallel over the wire."""
        from pyspark.sql import functions as F

        with pg.connect() as conn:
            conn.execute(
                "CREATE TABLE ev (event_id bigint, user_id bigint,"
                " event_type text, amount numeric(12,3), ts timestamp)")
        import os

        sf_dir = os.environ.get(
            "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
        src = (
            spark.read.parquet(f"{sf_dir}/events.parquet")
            .where("event_id % 7 = 0")
            .select(
                "event_id", "user_id", "event_type",
                F.round(F.col("value"), 3).cast("decimal(12,3)")
                 .alias("amount"),
                F.col("ts").alias("ts"),
            )
        )
        write_pgwire(src.repartition(3), pg.host, pg.port, "ev",
                     user=pg.user, database=pg.database)
        return src

    def test_partitioned_read_roundtrips(self, pg, spark, loaded):
        back = read_pgwire(
            spark, pg.host, pg.port, "ev", user=pg.user,
            partition_column="event_id", num_partitions=4)
        assert back.rdd.getNumPartitions() == 4
        assert back.count() == loaded.count()
        # full-fidelity comparison including the numeric + timestamp legs
        src_rows = sorted(
            tuple(r) for r in loaded.withColumn(
                "ts", loaded["ts"].cast("timestamp_ntz")).collect())
        back_rows = sorted(tuple(r) for r in back.collect())
        assert back_rows == src_rows

    def test_schema_resolved_from_wire(self, pg, spark, loaded):
        back = read_pgwire(spark, pg.host, pg.port, "ev", user=pg.user)
        ddl = dict((f.name, f.dataType.simpleString())
                   for f in back.schema.fields)
        assert ddl == {
            "event_id": "bigint", "user_id": "bigint",
            "event_type": "string", "amount": "decimal(12,3)",
            "ts": "timestamp_ntz"}

    def test_filter_pushdown_correct(self, pg, spark, loaded):
        back = read_pgwire(
            spark, pg.host, pg.port, "ev", user=pg.user,
            partition_column="event_id", num_partitions=3)
        one_type = loaded.select("event_type").first()[0]
        got = back.where(back.event_type == one_type).count()
        want = loaded.where(loaded.event_type == one_type).count()
        assert got == want > 0

    def test_bounds_discovery(self, pg, spark, loaded):
        """read_pgwire with no explicit bounds probes MIN/MAX itself."""
        back = read_pgwire(
            spark, pg.host, pg.port, "ev", user=pg.user,
            partition_column="event_id", num_partitions=2)
        assert back.rdd.getNumPartitions() == 2
        assert back.count() == loaded.count()

    def test_query_option(self, pg, spark, loaded):
        back = read_pgwire(
            spark, pg.host, pg.port,
            query="SELECT event_type, COUNT(*) AS n FROM ev"
                  " GROUP BY event_type",
            user=pg.user)
        agg = {r["event_type"]: r["n"] for r in back.collect()}
        want = {r["event_type"]: r["count"] for r in
                loaded.groupBy("event_type").count().collect()}
        assert agg == want


def test_fixture_key_matches_oracle(spark, duck):
    try:
        df = pgwire_scan_orders(
            spark,
            __import__("os").environ.get(
                "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"))
    except PgServerUnavailable as exc:
        pytest.skip(f"no usable PostgreSQL server binaries: {exc}")
    from tests.conftest import assert_oracle_match

    from hyperswitch_data_backfill_spark.registry import REGISTRY

    assert_oracle_match(
        df, duck, REGISTRY["pgwire_scan_orders"].oracle,
        "pgwire_scan_orders")


# -------------------------------------- predicate slices + stream tail


class TestPredicateSlices:
    def test_one_partition_per_fragment(self, pg, spark):
        from hyperswitch_data_backfill_spark.sources.pgwire import (
            read_pgwire_predicates,
        )

        with pg.connect() as conn:
            conn.execute(
                "CREATE TABLE pred_t (k bigint, m text)")
            conn.copy_in(
                "COPY pred_t (k, m) FROM STDIN",
                (f"{i}\tm{i % 3}" for i in range(30)))
        df = read_pgwire_predicates(
            spark, pg.host, pg.port, "pred_t",
            ["m = 'm0'", "m = 'm1'", "m = 'm2'"], user=pg.user)
        assert df.rdd.getNumPartitions() == 3
        assert df.count() == 30
        with pg.connect() as conn:
            conn.execute("DROP TABLE pred_t")

    def test_predicates_exclusive_with_range(self):
        import json

        from hyperswitch_data_backfill_spark.sources.pgwire import (
            PgWireReader,
        )

        r = PgWireReader(None, {
            "port": "1", "table": "t",
            "predicates": json.dumps(["k < 5"]),
            "partitionColumn": "k", "lowerBound": "0",
            "upperBound": "10", "numPartitions": "2"})
        with pytest.raises(ValueError, match="mutually exclusive"):
            r.partitions()


class TestStreamReader:
    """Keyset-cursor tail semantics, driven directly (no Spark)."""

    @pytest.fixture()
    def tail_table(self, pg):
        with pg.connect() as conn:
            conn.execute("CREATE TABLE tailt (k bigint, v text)")
            conn.copy_in("COPY tailt (k, v) FROM STDIN",
                         (f"{i}\tv{i}" for i in range(1, 21)))
        yield "tailt"
        with pg.connect() as conn:
            conn.execute("DROP TABLE tailt")

    def _reader(self, pg, table, **extra):
        from hyperswitch_data_backfill_spark.sources.pgwire import (
            PgWireStreamReader,
        )

        opts = {"port": str(pg.port), "host": pg.host, "user": pg.user,
                "table": table, "keycolumn": "k"}
        opts.update(extra)
        return PgWireStreamReader(opts)

    def test_capped_batches_then_drain(self, pg, tail_table):
        r = self._reader(pg, tail_table, maxrowsperbatch="8")
        cur = r.initialOffset()
        assert cur == {"k": 0}            # MIN(k) - 1
        seen = []
        # a hit cap cuts back to the last COMPLETE key group (here keys
        # are unique, so exactly one boundary row is deferred): 7+7+6
        for want in (7, 7, 6):
            rows, cur = r.read(cur)
            rows = list(rows)
            assert len(rows) == want
            seen.extend(rows)
        assert [k for k, _v in seen] == list(range(1, 21))
        rows, cur2 = r.read(cur)
        assert list(rows) == [] and cur2 == cur  # idle tail: no-op batch

    def test_replay_is_deterministic(self, pg, tail_table):
        r = self._reader(pg, tail_table)
        a = list(r.readBetweenOffsets({"k": 5}, {"k": 12}))
        b = list(r.readBetweenOffsets({"k": 5}, {"k": 12}))
        assert a == b and [k for k, _ in a] == list(range(6, 13))
        assert list(r.readBetweenOffsets({"k": 9}, {"k": 9})) == []

    def test_new_rows_picked_up(self, pg, tail_table):
        r = self._reader(pg, tail_table)
        _rows, cur = r.read(r.initialOffset())
        with pg.connect() as conn:
            conn.copy_in("COPY tailt (k, v) FROM STDIN",
                         (f"{i}\tlate{i}" for i in range(21, 26)))
        rows, cur = r.read(cur)
        assert [k for k, _v in rows] == [21, 22, 23, 24, 25]

    def test_start_after_skips_history(self, pg, tail_table):
        r = self._reader(pg, tail_table, startafter="15")
        rows, _cur = r.read(r.initialOffset())
        assert [k for k, _v in list(rows)] == list(range(16, 21))

    def test_out_of_order_commit_no_loss(self, pg, tail_table):
        """The commit-visibility race, closed structurally (r15 found
        it LIVE at the sf1 scale point and pinned skip semantics; r16
        replaces the documented caveat with the snapshot fence): a
        writer whose transaction commits AFTER a higher key became
        visible must still be delivered, never stranded behind the
        cursor. The fence defers the higher key until the slow
        transaction resolves, then delivers both in key order."""
        r = self._reader(pg, tail_table)
        _rows, cur = r.read(r.initialOffset())      # consume keys 1..20
        a = pg.connect()                            # slow writer: open txn
        try:
            a.execute("BEGIN")
            a.execute("INSERT INTO tailt VALUES (21, 'slow')")
            with pg.connect() as b:                 # fast writer commits 22
                b.execute("INSERT INTO tailt VALUES (22, 'fast')")
            rows, cur = r.read(cur)
            assert list(rows) == []                 # fence holds 22 back:
            # a's in-flight txn could still commit key 21 below it
            a.execute("COMMIT")                     # 21 lands — NOT too late
        finally:
            a.close()
        rows, cur = r.read(cur)
        assert [k for k, _v in rows] == [21, 22]    # zero loss, key order
        rows, cur2 = r.read(cur)
        assert list(rows) == [] and cur2 == cur     # idle tail again
        assert [k for k, _v in r.readBetweenOffsets({"k": 20}, cur)] == [
            21, 22]

    def test_out_of_order_commit_skips_when_fence_off(self, pg, tail_table):
        """commitFence=off restores the legacy unfenced cursor and its
        documented at-most-once caveat — the pre-r16 semantics, kept
        for writer-serialized sources that want zero fence latency."""
        r = self._reader(pg, tail_table, commitfence="off")
        _rows, cur = r.read(r.initialOffset())      # consume keys 1..20
        a = pg.connect()                            # slow writer: open txn
        try:
            a.execute("BEGIN")
            a.execute("INSERT INTO tailt VALUES (21, 'slow')")
            with pg.connect() as b:                 # fast writer commits 22
                b.execute("INSERT INTO tailt VALUES (22, 'fast')")
            rows, cur = r.read(cur)
            assert [k for k, _v in rows] == [22]    # cursor advances to 22
            a.execute("COMMIT")                     # 21 visible — too late
        finally:
            a.close()
        rows, cur2 = r.read(cur)
        assert list(rows) == [] and cur2 == cur     # 21 skipped (legacy)

    def test_fence_accepts_legacy_checkpoint_offset(self, pg, tail_table):
        """A checkpoint written by the pre-fence reader ({"k": n} with
        no fence fields) must resume cleanly under the fenced reader."""
        r = self._reader(pg, tail_table)
        rows, cur = r.read({"k": 15})               # legacy offset shape
        assert [k for k, _v in rows] == [16, 17, 18, 19, 20]
        assert cur["k"] == 20 and cur["f"] >= 20 and cur["p"] == []

    def test_missing_key_column_refused(self, pg):
        with pytest.raises(ValueError, match="keyColumn"):
            self._reader(pg, "tailt", keycolumn="")

    def test_key_must_be_selected(self, pg, tail_table):
        r = self._reader(pg, tail_table, columns="v")
        with pytest.raises(ValueError, match="keyColumn"):
            rows, _ = r.read({"k": 0})
            list(rows)


def test_stream_fixture_matches_oracle(spark, duck):
    from hyperswitch_data_backfill_spark.sources.pgwire import (
        stream_pgwire_tail,
    )

    try:
        df = stream_pgwire_tail(
            spark,
            __import__("os").environ.get(
                "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"))
    except PgServerUnavailable as exc:
        pytest.skip(f"no usable PostgreSQL server binaries: {exc}")
    from tests.conftest import assert_oracle_match

    from hyperswitch_data_backfill_spark.registry import REGISTRY

    assert_oracle_match(
        df, duck, REGISTRY["stream_pgwire_tail"].oracle,
        "stream_pgwire_tail")


def test_pipeline_pg_to_kafka_matches_oracle(spark, duck):
    """The reference's whole job on real infra: PG replica scan ->
    event projection -> TCP Kafka produce -> fetch-back, hash-equal."""
    from hyperswitch_data_backfill_spark.sources.pgwire import (
        pipeline_pg_to_kafka,
    )

    try:
        df = pipeline_pg_to_kafka(
            spark,
            __import__("os").environ.get(
                "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"))
    except PgServerUnavailable as exc:
        pytest.skip(f"no usable PostgreSQL server binaries: {exc}")
    from tests.conftest import assert_oracle_match

    from hyperswitch_data_backfill_spark.registry import REGISTRY

    assert_oracle_match(
        df, duck, REGISTRY["pipeline_pg_to_kafka"].oracle,
        "pipeline_pg_to_kafka")


# ---------------------------------------------- r14 review-fix pins


def test_null_bearing_in_filter_declines_pushdown():
    """In(col, (1, None)) must go residual-only, never crash planning."""
    from pyspark.sql.datasource import EqualTo, In

    assert _filter_to_sql(In(("x",), (1, None))) is None
    assert _filter_to_sql(EqualTo(("x",), None)) is None
    r = PgWireReader(None, {"port": "1", "table": "t"})
    residual = list(r.pushFilters([In(("x",), (1, None))]))
    assert len(residual) == 1  # still re-applied by Spark
    assert r._pushed == []     # nothing compiled into the slice SQL


def test_non_finite_float_filter_declines_pushdown():
    """repr(nan/inf) would compile to bare 'nan'/'inf' — invalid SQL
    that fails the scan at read time. The filter must stay
    residual-only instead, like NULL-bearing filters (r14 ADVICE)."""
    from pyspark.sql.datasource import EqualTo, GreaterThan, In

    assert _filter_to_sql(EqualTo(("x",), float("nan"))) is None
    assert _filter_to_sql(GreaterThan(("x",), float("inf"))) is None
    assert _filter_to_sql(EqualTo(("x",), float("-inf"))) is None
    assert _filter_to_sql(In(("x",), (1.0, float("nan")))) is None
    # finite floats still compile
    assert _filter_to_sql(EqualTo(("x",), 1.5)) == "x = 1.5"


class TestEqualKeyCap:
    """The admission cap must never split a run of equal key values."""

    def test_cap_cuts_back_to_complete_key_group(self, pg):
        from hyperswitch_data_backfill_spark.sources.pgwire import (
            PgWireStreamReader,
        )

        with pg.connect() as conn:
            conn.execute("CREATE TABLE eqk (k bigint, v text)")
            # keys: 1 x3, 2 x3, 3 x4 — monotone, not unique
            conn.copy_in(
                "COPY eqk (k, v) FROM STDIN",
                [f"{k}\tv{k}-{i}" for k in (1, 2, 3)
                 for i in range({1: 3, 2: 3, 3: 4}[k])])
        r = PgWireStreamReader(
            {"port": str(pg.port), "host": pg.host, "user": pg.user,
             "table": "eqk", "keycolumn": "k", "maxrowsperbatch": "4"})
        cur = r.initialOffset()
        rows, cur = r.read(cur)          # cap=4 lands inside the k=2 run
        rows = list(rows)
        assert [k for k, _v in rows] == [1, 1, 1]   # complete groups only
        assert cur == {"k": 1, "f": 3, "p": []}  # fence settled instantly
        rows, cur = r.read(cur)          # cap lands inside k=3's run
        assert [k for k, _v in list(rows)] == [2, 2, 2]
        assert cur == {"k": 2, "f": 3, "p": []}
        rows, cur = r.read(cur)          # k=3 group (4 rows) > cap:
        assert [k for k, _v in list(rows)] == [3, 3, 3, 3]  # whole group
        assert cur == {"k": 3, "f": 3, "p": []}
        rows, cur2 = r.read(cur)
        assert list(rows) == [] and cur2 == cur
        with pg.connect() as conn:
            conn.execute("DROP TABLE eqk")


class TestUpsertWriter:
    """write_pgwire_upsert: effectively exactly-once for keyed rows."""

    @pytest.fixture()
    def target(self, pg):
        with pg.connect() as conn:
            conn.execute(
                "CREATE TABLE ups (k bigint PRIMARY KEY,"
                " v text, n bigint)")
        yield "ups"
        with pg.connect() as conn:
            conn.execute("DROP TABLE ups")

    def _rows(self, pg):
        with pg.connect() as conn:
            _c, rows = conn.query("SELECT k, v, n FROM ups ORDER BY k")
        return rows

    def test_idempotent_under_retry(self, pg, spark, target):
        from hyperswitch_data_backfill_spark.sources.pgwire import (
            write_pgwire_upsert,
        )

        df = spark.createDataFrame(
            [(i, f"v{i}", i * 10) for i in range(8)],
            "k bigint, v string, n bigint")
        for _attempt in range(2):  # a retried task re-lands identically
            write_pgwire_upsert(df.repartition(3), pg.host, pg.port,
                                "ups", ["k"], user=pg.user)
        assert self._rows(pg) == [(i, f"v{i}", i * 10) for i in range(8)]

    def test_update_semantics_and_dupe_collapse(self, pg, spark, target):
        from hyperswitch_data_backfill_spark.sources.pgwire import (
            write_pgwire_upsert,
        )

        base = spark.createDataFrame(
            [(1, "old", 1), (2, "old", 2)], "k bigint, v string, n bigint")
        write_pgwire_upsert(base, pg.host, pg.port, "ups", ["k"],
                            user=pg.user)
        # changed values win; an intra-partition duplicate key must not
        # crash the ON CONFLICT statement
        upd = spark.createDataFrame(
            [(2, "new", 20), (2, "new", 20), (3, "new", 30)],
            "k bigint, v string, n bigint").coalesce(1)
        write_pgwire_upsert(upd, pg.host, pg.port, "ups", ["k"],
                            user=pg.user)
        assert self._rows(pg) == [
            (1, "old", 1), (2, "new", 20), (3, "new", 30)]

    def test_key_must_be_in_frame(self, pg, spark, target):
        from hyperswitch_data_backfill_spark.sources.pgwire import (
            write_pgwire_upsert,
        )

        df = spark.createDataFrame([(1, "a", 1)],
                                   "k bigint, v string, n bigint")
        with pytest.raises(ValueError, match="key columns"):
            write_pgwire_upsert(df, pg.host, pg.port, "ups",
                                ["nope"], user=pg.user)


class TestTls:
    """SSLRequest preamble + TLS session against a cert-enabled real
    server (sslmode=require and verify-ca, libpq semantics)."""

    @pytest.fixture(scope="class")
    def pg_ssl(self):
        try:
            with PgServer(ssl=True) as server:
                yield server
        except PgServerUnavailable as exc:
            pytest.skip(f"no TLS-capable server: {exc}")

    def test_require_mode_roundtrip(self, pg_ssl):
        with pg_ssl.connect(ssl_mode="require") as conn:
            assert conn.query("SELECT ssl FROM pg_stat_ssl WHERE pid ="
                              " pg_backend_pid()")[1] == [(True,)]
            _c, rows = conn.query("SELECT 42 AS x")
            assert rows == [(42,)]

    def test_verify_ca_with_server_cert(self, pg_ssl):
        with pg_ssl.connect(ssl_mode="verify-ca",
                            ssl_root_cert=pg_ssl.cert_path) as conn:
            assert conn.query("SELECT 1 AS ok")[1] == [(1,)]

    def test_verify_ca_wrong_root_refused(self, pg_ssl, tmp_path):
        import ssl as _ssl
        import subprocess

        other = tmp_path / "other.crt"
        subprocess.run(
            ["openssl", "req", "-new", "-x509", "-days", "1", "-nodes",
             "-subj", "/CN=evil", "-keyout", str(tmp_path / "k.key"),
             "-out", str(other)], capture_output=True, check=True)
        with pytest.raises(_ssl.SSLError):
            pg_ssl.connect(ssl_mode="verify-ca",
                           ssl_root_cert=str(other)).close()

    def test_plaintext_still_works_alongside(self, pg_ssl):
        with pg_ssl.connect() as conn:  # ssl=on servers accept both
            assert conn.query("SELECT 1 AS ok")[1] == [(1,)]

    def test_require_against_non_ssl_server_refused(self, pg):
        with pytest.raises(PgError, match="refused SSL"):
            pg.connect(ssl_mode="require").close()

    def test_spark_read_over_tls(self, pg_ssl, spark):
        from hyperswitch_data_backfill_spark.sources.pgwire import (
            write_pgwire,
        )

        with pg_ssl.connect() as conn:
            conn.execute("CREATE TABLE tls_t (k bigint, v text)")
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(12)], "k bigint, v string")
        write_pgwire(df.repartition(2), pg_ssl.host, pg_ssl.port,
                     "tls_t", user=pg_ssl.user, ssl_mode="require")
        back = read_pgwire(
            spark, pg_ssl.host, pg_ssl.port, "tls_t", user=pg_ssl.user,
            partition_column="k", num_partitions=3, ssl_mode="require")
        assert sorted(tuple(r) for r in back.collect()) == [
            (i, f"v{i}") for i in range(12)]


# ------------------------------------------------------ Arrow batch reads

# One table carrying every _OID_SPARK type (record and void ride the
# query as expressions: no column can store them) and the edge values
# the per-value decoders handle: NULL, empty text, tab/newline/non-ASCII
# text, NaN/±Infinity, float4 widening, fractional seconds, timestamptz
# offsets, numeric typmods and NaN, arrays.
_EVERY_DDL = """CREATE TABLE every_t (
    k bigint, b boolean, by bytea, i2 smallint, i4 int, t text,
    ch "char", nm name, o oid, js json, jb jsonb, u uuid, l pg_lsn,
    f4 real, f8 double precision, bp char(5), vc varchar(20), d date,
    ts timestamp, tz timestamptz, n numeric, n2 numeric(12,2),
    ab boolean[], ai2 smallint[], ai4 int[], ai8 bigint[], af4 real[],
    af8 float8[], at text[], avc varchar[], abp char(2)[], ad date[],
    ats timestamp[], ajs json[], ajb jsonb[], au uuid[],
    an numeric(10,3)[])"""
_EVERY_ROWS = [
    "(1, true, '\\x00ff', -32768, 2147483647, E'tab\\there\\nnl é ☃',"
    " 'x', 'nm1', 4294967295, '{\"a\": 1}', '{\"b\": [1,2]}',"
    " 'A0EEBC99-9C0B-4EF8-BB6D-6BB9BD380A11', '16/B374D848', 'NaN',"
    " 'Infinity', 'ab', 'vc', '2024-02-29', '2024-01-02 03:04:05.123456',"
    " '2024-01-02 03:04:05.5+05:30', 'NaN', 12.5, '{t,f,NULL}', '{1,-2}',"
    " '{3,NULL}', '{9223372036854775807}', '{0.1,NaN,-Infinity}',"
    " '{1e300,-0}', ARRAY['a,b', 'q\"x', NULL, ''], '{x}', '{ab,c}',"
    " '{2020-01-01}', '{\"2020-01-01 00:00:00.000001\"}',"
    " ARRAY['{\"k\":1}'::json], ARRAY['[1]'::jsonb],"
    " ARRAY['a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11'::uuid], '{1.5,NULL}')",
    "(2, false, '\\x', 0, 0, '', '', '', 0, 'null', 'null',"
    " '00000000-0000-0000-0000-000000000000', '0/0', '-Infinity',"
    " '-Infinity', '', '', '0099-01-01', '1999-12-31 23:59:59.000001',"
    " '1970-01-01 00:00:00-08', 123456789012345678.123456789, -0.01,"
    " '{}', '{}', '{}', '{}', '{}', '{}', '{}', '{}', '{}', '{}', '{}',"
    " '{}', '{}', '{}', '{}')",
    "(3, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,"
    " NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,"
    " NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,"
    " NULL, NULL, NULL)",
    "(4, NULL, '\\xdeadbeef', 7, 8, 'plain', 'y', 'n', 1, '[]', '{}',"
    " NULL, NULL, 0.1, 0.1, 'abcde', 'x y', '2024-06-01',"
    " '2024-06-01 00:00:00', '2024-06-01 00:00:00.25-03', 1e-5, 99.99,"
    " NULL, NULL, NULL, NULL, '{3.4028235e38}', NULL,"
    " ARRAY['back\\\\slash', '{}'],"
    " NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)",
]
_EVERY_SQL = ("SELECT *, pg_sleep(0) AS vd, ROW(k, t) AS rec"
              " FROM every_t ORDER BY k")


def _same_value(arrow, row):
    """Arrow-path value vs the row path's decoded value: NaN equals
    NaN, and numeric NaN is NULL (Spark maps Decimal('NaN') to NULL
    for every Python value a reader yields)."""
    import math
    from decimal import Decimal

    if isinstance(row, list):
        return (isinstance(arrow, list) and len(arrow) == len(row)
                and all(map(_same_value, arrow, row)))
    if isinstance(row, float) and math.isnan(row):
        return isinstance(arrow, float) and math.isnan(arrow)
    if isinstance(row, Decimal) and row.is_nan():
        return arrow is None
    return arrow == row and type(arrow) is type(row)


@pytest.fixture(scope="module")
def every_type(pg):
    with pg.connect() as conn:
        conn.execute(_EVERY_DDL)
        conn.execute("INSERT INTO every_t VALUES " + ", ".join(_EVERY_ROWS))
        cols, rows = conn.query(_EVERY_SQL)
    yield cols, rows
    with pg.connect() as conn:
        conn.execute("DROP TABLE every_t")


def _arrow_read(pg, cols, sql, spark):
    from pyspark.sql.types import StructType

    from hyperswitch_data_backfill_spark.sources.pgwire import (
        PgWirePartition,
    )

    # StructType.fromDDL needs a live session (the spark fixture)
    schema = StructType.fromDDL(", ".join(
        f"{c.name} {c.spark_ddl_type()}" for c in cols))
    reader = PgWireReader(schema, {
        "host": pg.host, "port": str(pg.port), "user": pg.user,
        "database": pg.database, "table": "every_t"})
    return schema, list(reader.read(PgWirePartition(sql)))


class TestArrowBatches:
    def test_every_oid_matches_row_path(self, pg, every_type, spark):
        """The reader's RecordBatches carry exactly the values
        query_stream decodes, for every type OID the source maps."""
        from hyperswitch_data_backfill_spark.sources.pgwire import (
            _OID_NUMERIC,
            _OID_NUMERIC_ARRAY,
            _OID_SPARK,
        )

        cols, rows = every_type
        assert {c.type_oid for c in cols} == (
            set(_OID_SPARK) | {_OID_NUMERIC, _OID_NUMERIC_ARRAY})
        _schema, batches = _arrow_read(pg, cols, _EVERY_SQL, spark)
        got = [tuple(r.values()) for b in batches for r in b.to_pylist()]
        assert len(got) == len(rows) == 4
        for g, want in zip(got, rows):
            for c, a, w in zip(cols, g, want):
                assert _same_value(a, w), (c.name, a, w)

    def test_batch_schema_is_to_arrow_schema(self, pg, every_type, spark,
                                             monkeypatch):
        """Every batch has Spark's own Arrow schema for the source
        schema, and batches are cut at _ARROW_BATCH_ROWS rows."""
        from pyspark.sql.pandas.types import to_arrow_schema

        from hyperswitch_data_backfill_spark.sources import pgwire

        monkeypatch.setattr(pgwire, "_ARROW_BATCH_ROWS", 3)
        cols, _rows = every_type
        schema, batches = _arrow_read(pg, cols, _EVERY_SQL, spark)
        assert [b.num_rows for b in batches] == [3, 1]
        for b in batches:
            assert b.schema == to_arrow_schema(schema)

    def test_schema_wider_than_slice_refused(self, pg, every_type, spark):
        from hyperswitch_data_backfill_spark.sources.pgwire import (
            PgProtocolError,
        )

        cols, _rows = every_type
        with pytest.raises(PgProtocolError, match="columns"):
            _arrow_read(pg, cols, "SELECT k FROM every_t", spark)


def _backend_message(mtype: bytes, payload: bytes) -> bytes:
    import struct

    return mtype + struct.pack(">i", len(payload) + 4) + payload


def _data_row(values) -> bytes:
    import struct

    out = struct.pack(">h", len(values))
    for v in values:
        out += struct.pack(">i", -1) if v is None else (
            struct.pack(">i", len(v)) + v)
    return _backend_message(b"D", out)


class _OneByteSocket:
    """The wrapped socket, except that every read returns at most one
    byte."""

    def __init__(self, sock):
        self._sock = sock

    def recv_into(self, view):
        return self._sock.recv_into(view[:1])

    def __getattr__(self, name):
        return getattr(self._sock, name)


def test_message_reader_one_byte_reads_and_row_over_buffer():
    """The buffered reader reassembles messages delivered one byte per
    recv, and a DataRow larger than its buffer grows the buffer rather
    than failing; the columnar cut reproduces every value."""
    import socket
    import threading

    from hyperswitch_data_backfill_spark.sources.pgwire import (
        _RECV_BYTES,
        _MessageReader,
        _split_columns,
        _text_array,
    )

    big = "é☃x".encode() * _RECV_BYTES  # ~2.7x the initial buffer
    stream = (
        _backend_message(b"N", b"\x00")
        + _data_row([b"1", big, b""])
        + _data_row([b"2", None, "tab\tnl\n".encode()])
        + _data_row([None, b"v", None])
        + _backend_message(b"C", b"SELECT 3\x00")
        + _backend_message(b"Z", b"I"))
    a, b = socket.socketpair()
    sender = threading.Thread(target=a.sendall, args=(stream,))
    sender.start()
    try:
        reader = _MessageReader(_OneByteSocket(b))
        assert reader.message() == (b"N", b"\x00")
        region, starts, ends = reader.data_rows(2)
        assert len(starts) == 2  # the limit cuts the batch
        rest = reader.data_rows(10)
        assert len(rest[1]) == 1
        assert reader.data_rows(10) is None  # CommandComplete is next
        assert reader.message() == (b"C", b"SELECT 3\x00")
        assert reader.message() == (b"Z", b"I")
        assert reader.buffered() == 0
    finally:
        sender.join(timeout=30)
        a.close()
        b.close()
    assert not sender.is_alive()
    cols = [_text_array(region, *c).to_pylist()
            for c in _split_columns(region, starts, ends, 3)]
    assert cols == [[b"1", b"2"], [big, None], [b"", b"tab\tnl\n"]]
    cols = [_text_array(rest[0], *c).to_pylist()
            for c in _split_columns(*rest, 3)]
    assert cols == [[None], [b"v"], [None]]


def test_split_columns_refuses_malformed_rows():
    """A DataRow whose field headers disagree with its length or the
    RowDescription fails loudly instead of decoding garbage."""
    import numpy as np

    from hyperswitch_data_backfill_spark.sources.pgwire import (
        PgProtocolError,
        _split_columns,
    )

    def cut(body: bytes, ncols: int):
        region = np.frombuffer(body, np.uint8)
        _split_columns(region, np.array([0]), np.array([len(body)]), ncols)

    good = _data_row([b"ab", None])[5:]
    cut(good, 2)
    with pytest.raises(PgProtocolError, match="field count"):
        cut(good, 3)
    with pytest.raises(PgProtocolError, match="fill"):
        cut(good + b"x", 2)
    with pytest.raises(PgProtocolError, match="header"):
        cut(good[:-2], 2)
    with pytest.raises(PgProtocolError, match="negative"):
        cut(b"\x00\x01\xff\xff\xff\xfe", 1)


def test_connection_and_reader_over_one_byte_reads(monkeypatch, spark):
    """Startup, query_stream and the Arrow read path all go through the
    connection's one buffered reader: a backend double whose bytes
    arrive one per recv yields the same rows on every path."""
    import socket
    import struct
    import threading

    from pyspark.sql.types import StructType

    from hyperswitch_data_backfill_spark.sources import pgwire

    def field(name, oid):
        return name.encode() + b"\x00" + struct.pack(">ihihih", 0, 0, oid,
                                                       -1, -1, 0)

    big = b"y" * (3 * pgwire._RECV_BYTES)
    result = (
        _backend_message(b"T", struct.pack(">h", 2) + field("k", 20)
                         + field("v", 25))
        + b"".join(_data_row([str(i).encode(), big if i == 2 else None])
                   for i in range(5))
        + _backend_message(b"C", b"SELECT 5\x00")
        + _backend_message(b"Z", b"I"))
    ready = (_backend_message(b"R", struct.pack(">i", 0))
             + _backend_message(b"Z", b"I"))
    listener = socket.create_server(("127.0.0.1", 0))

    def serve():
        for _ in range(2):  # query_stream's session, then the reader's
            conn, _addr = listener.accept()
            with conn:
                f = conn.makefile("rb")
                (n,) = struct.unpack(">i", f.read(4))
                f.read(n - 4)  # StartupMessage
                conn.sendall(ready)
                while True:
                    mtype = f.read(1)
                    (n,) = struct.unpack(">i", f.read(4))
                    f.read(n - 4)
                    if mtype != b"Q":
                        break  # Terminate
                    conn.sendall(result)

    server = threading.Thread(target=serve, daemon=True)
    server.start()
    real = socket.create_connection
    monkeypatch.setattr(
        pgwire.socket, "create_connection",
        lambda *a, **kw: _OneByteSocket(real(*a, **kw)))
    port = listener.getsockname()[1]
    try:
        with pgwire.PgConnection("127.0.0.1", port, user="u",
                                 database="d") as conn:
            cols, rows = conn.query("SELECT k, v FROM t")
        reader = pgwire.PgWireReader(
            StructType.fromDDL("k bigint, v string"),
            {"host": "127.0.0.1", "port": str(port), "table": "t"})
        batches = list(reader.read(pgwire.PgWirePartition("SELECT k, v")))
    finally:
        server.join(timeout=60)
        listener.close()
    assert not server.is_alive()
    assert [c.name for c in cols] == ["k", "v"]
    want = [(i, big.decode() if i == 2 else None) for i in range(5)]
    assert rows == want
    assert [tuple(r.values()) for b in batches
            for r in b.to_pylist()] == want



class TestArrays:
    def test_array_literal_and_parse_units(self):
        from hyperswitch_data_backfill_spark.sources.pgwire import (
            _array_literal,
            _parse_pg_array,
        )

        assert _array_literal([1, None, 3]) == "{1,NULL,3}"
        assert _array_literal(['a"b', "c\\d", "e,f"]) == \
            '{"a\\"b","c\\\\d","e,f"}'
        assert _parse_pg_array("{1,NULL,3}", int) == [1, None, 3]
        assert _parse_pg_array('{"a\\"b","c\\\\d","e,f"}', str) == \
            ['a"b', "c\\d", "e,f"]
        assert _parse_pg_array("{}", int) == []

    def test_float4_widening_exact(self):
        """'0.1'::float4 must decode to the float64 WIDENING of the
        float32, not float64('0.1')."""
        import numpy as np

        from hyperswitch_data_backfill_spark.sources.pgwire import (
            _decode_float4,
        )

        assert _decode_float4("0.1") == float(np.float32("0.1"))
        assert _decode_float4("0.1") != 0.1

    def test_array_roundtrip_real_server(self, pg):
        from hyperswitch_data_backfill_spark.sources.pgwire import (
            _copy_field,
        )

        with pg.connect() as conn:
            conn.execute(
                "CREATE TABLE arr_t (k bigint, f float4[], s text[],"
                " i bigint[])")
            conn.copy_in(
                "COPY arr_t (k, f, s, i) FROM STDIN",
                ["\t".join([
                    "1",
                    _copy_field([0.1, 2.5, None]),
                    _copy_field(['a"b', "c\\d", None, "e,f"]),
                    _copy_field([7, None]),
                ])])
            cols, rows = conn.query(
                "SELECT k, f, s, i FROM arr_t")
            assert [c.spark_ddl_type() for c in cols] == [
                "bigint", "array<float>", "array<string>",
                "array<bigint>"]
            import numpy as np

            k, f, s, i = rows[0]
            assert f == [float(np.float32("0.1")), 2.5, None]
            assert s == ['a"b', "c\\d", None, "e,f"]
            assert i == [7, None]
            conn.execute("DROP TABLE arr_t")


def test_embeddings_fixture_matches_oracle(spark, duck):
    from hyperswitch_data_backfill_spark.sources.pgwire import (
        pgwire_scan_embeddings,
    )

    try:
        df = pgwire_scan_embeddings(
            spark,
            __import__("os").environ.get(
                "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"))
    except PgServerUnavailable as exc:
        pytest.skip(f"no usable PostgreSQL server binaries: {exc}")
    from tests.conftest import assert_oracle_match

    from hyperswitch_data_backfill_spark.registry import REGISTRY

    assert_oracle_match(
        df, duck, REGISTRY["pgwire_scan_embeddings"].oracle,
        "pgwire_scan_embeddings")


def test_props_fixture_matches_oracle(spark, duck):
    from hyperswitch_data_backfill_spark.sources.pgwire import (
        pgwire_scan_props,
    )

    try:
        df = pgwire_scan_props(
            spark,
            __import__("os").environ.get(
                "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"))
    except PgServerUnavailable as exc:
        pytest.skip(f"no usable PostgreSQL server binaries: {exc}")
    from tests.conftest import assert_oracle_match

    from hyperswitch_data_backfill_spark.registry import REGISTRY

    assert_oracle_match(
        df, duck, REGISTRY["pgwire_scan_props"].oracle,
        "pgwire_scan_props")


def test_stream_kafka_to_postgres_exactly_once(spark, pg, tmp_path):
    """The production exactly-once pattern end to end on REAL systems
    both sides: a kafkawire stream (admission-capped micro-batches)
    lands in PostgreSQL through foreachBatch + the idempotent upsert
    writer; a mid-stream kill-and-resume replays the in-flight batch
    and the upsert absorbs it — the final table holds every produced
    key exactly once."""
    import time
    import uuid

    from hyperswitch_data_backfill_spark.sinks.kafka_wire import (
        WireBroker,
        produce_rows,
    )
    from hyperswitch_data_backfill_spark.sources.pgwire import (
        write_pgwire_upsert,
    )
    from hyperswitch_data_backfill_spark.streaming.pipeline import (
        read_kafka_wire_stream,
    )

    with pg.connect() as conn:
        conn.execute(
            "CREATE TABLE kafka_sink (k text PRIMARY KEY, v text)")
    ckpt = str(tmp_path / f"ckpt_{uuid.uuid4().hex[:6]}")
    host = "127.0.0.1"

    def sink(batch_df, _batch_id):
        rows = batch_df.selectExpr(
            "cast(key as string) AS k", "cast(value as string) AS v")
        write_pgwire_upsert(rows, pg.host, pg.port, "kafka_sink",
                            ["k"], user=pg.user)

    def pg_count():
        with pg.connect() as conn:
            return conn.query("SELECT COUNT(*) FROM kafka_sink")[1][0][0]

    def start_query(port):
        stream = read_kafka_wire_stream(
            spark, host, port, "ev", max_records_per_batch=16)
        return (stream.writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .trigger(processingTime="250 milliseconds").start())

    with WireBroker() as b:
        produce_rows(
            iter([{"key": f"k{i}", "value": f"v{i}", "topic": "ev"}
                  for i in range(60)]), host, b.port, batch_size=20)
        q = start_query(b.port)
        try:
            deadline = time.time() + 120
            while pg_count() < 16:  # at least one batch landed
                assert q.exception() is None, q.exception()
                assert time.time() < deadline, "first batch never landed"
                time.sleep(0.2)
        finally:
            q.stop()  # kill mid-drain: in-flight batch will replay
        q.awaitTermination(30)
        q2 = start_query(b.port)
        try:
            deadline = time.time() + 120
            while pg_count() < 60:
                assert q2.exception() is None, q2.exception()
                assert time.time() < deadline, "resume never drained"
                time.sleep(0.2)
            # a second produce wave through the SAME checkpointed query
            produce_rows(
                iter([{"key": f"k{i}", "value": f"v{i}", "topic": "ev"}
                      for i in range(60, 80)]), host, b.port,
                batch_size=20)
            deadline = time.time() + 120
            while pg_count() < 80:
                assert q2.exception() is None, q2.exception()
                assert time.time() < deadline, "wave 2 never drained"
                time.sleep(0.2)
        finally:
            q2.stop()
        q2.awaitTermination(30)
    with pg.connect() as conn:
        _c, rows = conn.query(
            "SELECT COUNT(*), COUNT(DISTINCT k) FROM kafka_sink")
        total, distinct = rows[0]
        _c, sample = conn.query(
            "SELECT v FROM kafka_sink WHERE k = 'k42'")
    assert total == distinct == 80   # exactly-once: no duplicate keys
    assert sample == [("v42",)]
    with pg.connect() as conn:
        conn.execute("DROP TABLE kafka_sink")
