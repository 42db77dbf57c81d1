"""Config bootstrap (S5 parity) + whole-job compile + CLI entry.

Covers the reference's settings/secret path (``encryption.rs:11-186``,
``main.rs:62-80``) as re-expressed in config.py, the whole-main loop
(``main.rs:190-313``) as compile_job, and the clap CLI (``main.rs:33-57``)
as ``python -m hyperswitch_data_backfill_spark``.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR

SAMPLE_TOML = """
[replica_database]
username = "db_user"
password = "db_pass"
host = "replica.internal"
port = 5433
dbname = "hyperswitch_db"
pool_size = 5

[secrets]
admin_api_key = "test_admin"
master_enc_key = "73ad7bbbbc640c845a150f67d058b279849370cd2c1f3c67c4dd6c869213e13a"
jwt_secret = "secret"

[events]
source = "kafka"

[events.kafka]
brokers = ["broker1:9092", "broker2:9092"]
intent_analytics_topic = "hyperswitch-payment-intent-events"
attempt_analytics_topic = "hyperswitch-payment-attempt-events"
refund_analytics_topic = "hyperswitch-refund-events"
consolidated_events_topic = "hyperswitch-consolidated-events"
"""


@pytest.fixture()
def config_path(tmp_path):
    p = tmp_path / "config.toml"
    p.write_text(SAMPLE_TOML)
    return str(p)


def test_load_config_roundtrip(config_path):
    from hyperswitch_data_backfill_spark.config import load_config

    cfg = load_config(config_path, table="payment_intent", tenant_id="t1",
                      batch_size=5000)
    assert cfg.replica_database.url == "jdbc:postgresql://replica.internal:5433/hyperswitch_db"
    assert cfg.replica_database.user == "db_user"
    assert cfg.replica_database.password == "db_pass"
    assert cfg.replica_database.fetchsize == 5000
    assert cfg.replica_database.table == "payment_intent"
    assert cfg.kafka.bootstrap_servers == "broker1:9092,broker2:9092"
    assert cfg.kafka.topics["intent"] == "hyperswitch-payment-intent-events"
    assert cfg.kafka.topics["attempt"] == "hyperswitch-payment-attempt-events"
    assert cfg.kafka.consolidated_topic == "hyperswitch-consolidated-events"
    assert cfg.kafka.tenant_id == "t1"
    assert cfg.master_enc_key.startswith("73ad7b")


def test_secret_resolver_hook_and_env(config_path, monkeypatch):
    from hyperswitch_data_backfill_spark.config import load_config

    # custom hook sees (section, key, value) for every secret key
    seen = []

    def hook(section, key, value):
        seen.append((section, key))
        return f"resolved:{value}"

    cfg = load_config(config_path, resolver=hook)
    assert cfg.replica_database.password == "resolved:db_pass"
    assert cfg.master_enc_key == "resolved:" + "73ad7bbbbc640c845a150f67d058b279849370cd2c1f3c67c4dd6c869213e13a"
    assert ("replica_database", "password") in seen
    assert ("secrets", "master_enc_key") in seen

    # default env resolver: HYPERSWITCH_SECRET_<SECTION>_<KEY> wins
    monkeypatch.setenv("HYPERSWITCH_SECRET_REPLICA_DATABASE_PASSWORD", "from_env")
    cfg2 = load_config(config_path)
    assert cfg2.replica_database.password == "from_env"


def test_redact_masks_secrets(config_path):
    from hyperswitch_data_backfill_spark.config import load_config

    red = load_config(config_path).redact()
    assert red["replica_database"]["password"] == "***"
    assert red["secrets"]["master_enc_key"] == "***"
    assert red["secrets"]["jwt_secret"] == "***"
    assert red["replica_database"]["username"] == "db_user"  # not a secret


def test_encrypted_value_resolver_roundtrip(tmp_path):
    """Second resolver backend (r4 verdict item 6): a config file whose
    secret sections hold ``enc:<hex>`` ciphertext loads end-to-end —
    the shape of encryption.rs's decrypt-every-section boot walk with a
    real cipher (AES-GCM here; XOR keystream fallback shares the code
    path). Wrong master key must fail loudly at load time."""
    from hyperswitch_data_backfill_spark.config import (
        encrypt_secret_value,
        encrypted_value_resolver,
        load_config,
    )
    from hyperswitch_data_backfill_spark.functions.crypto import HAVE_AES

    master = bytes.fromhex(
        "73ad7bbbbc640c845a150f67d058b279849370cd2c1f3c67c4dd6c869213e13a"
    )
    enc_pass = encrypt_secret_value("db_pass", master)
    enc_master = encrypt_secret_value("deadbeef" * 8, master)
    enc_jwt = encrypt_secret_value("jwt-secret-token", master)
    toml = SAMPLE_TOML.replace('password = "db_pass"', f'password = "{enc_pass}"')
    toml = toml.replace(
        'master_enc_key = "73ad7bbbbc640c845a150f67d058b279849370cd2c1f3c67c4dd6c869213e13a"',
        f'master_enc_key = "{enc_master}"',
    )
    toml = toml.replace('jwt_secret = "secret"', f'jwt_secret = "{enc_jwt}"')
    p = tmp_path / "enc_config.toml"
    p.write_text(toml)

    cfg = load_config(str(p), resolver=encrypted_value_resolver(master))
    assert cfg.replica_database.password == "db_pass"
    assert cfg.master_enc_key == "deadbeef" * 8
    assert cfg.raw["secrets"]["jwt_secret"] == "jwt-secret-token"
    # plaintext secrets in the same file pass through unchanged
    assert cfg.raw["secrets"]["admin_api_key"] == "test_admin"
    # redaction still masks the now-decrypted values
    assert cfg.redact()["replica_database"]["password"] == "***"

    # distinct nonces: encrypting the same plaintext twice differs
    assert encrypt_secret_value("db_pass", master) != enc_pass

    if HAVE_AES:
        wrong = bytes(32)
        with pytest.raises(ValueError, match="decryption failed"):
            load_config(str(p), resolver=encrypted_value_resolver(wrong))


def test_compile_job_two_entities_plus_consolidated(spark):
    from hyperswitch_data_backfill_spark.catalog import load_table
    from hyperswitch_data_backfill_spark.plans.spec import _JOB, compile_job

    tables = {
        "orders": load_table(spark, SF_DIR, "orders"),
        "lineitem": load_table(spark, SF_DIR, "lineitem"),
    }
    frames = compile_job(tables, _JOB, consolidated_topic="consolidated-events")
    assert set(frames) == {"*"}
    records = frames["*"]
    by_topic = {
        r["topic"]: r["count"] for r in records.groupBy("topic").count().collect()
    }
    assert set(by_topic) == {"orders-events", "lineitem-events", "consolidated-events"}
    n_orders = by_topic["orders-events"]
    n_lineitem = by_topic["lineitem-events"]
    assert n_orders > 0 and n_lineitem > 0
    # consolidated = exact union of the entity rows, topic rewritten
    assert by_topic["consolidated-events"] == n_orders + n_lineitem
    consolidated = records.filter("topic = 'consolidated-events'")
    entity = records.filter("topic != 'consolidated-events'")
    assert sorted(consolidated.select("key", "value").collect()) == sorted(
        entity.select("key", "value").collect()
    )
    # entity rows keep their own topic and the kafka record shape
    row = records.filter("topic = 'orders-events'").limit(1).collect()[0]
    assert set(row.asDict()) == {"key", "value", "topic"}
    assert row["topic"] == "orders-events"
    assert '"tenant_id":"default"' in row["value"]


def test_cli_dry_run_on_fixtures(config_path, capsys, spark):
    import hyperswitch_data_backfill_spark.__main__ as cli

    rc = cli.main([
        "-f", config_path,
        "-s", "1996-01-01",
        "-e", "1997-12-31 23:59:59",
        "--parquet-dir", SF_DIR,
        "--dry-run",
    ], spark=spark)
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()
    by_topic = {line.split("\t")[0]: line.split("\t") for line in out}
    assert set(by_topic) == {
        "orders-events", "lineitem-events", "hyperswitch-consolidated-events"
    }
    n = {t: int(v[1]) for t, v in by_topic.items()}
    assert n["hyperswitch-consolidated-events"] == n["orders-events"] + n["lineitem-events"]
    assert "entity_id" in by_topic["orders-events"][2]


def test_cli_leaves_an_active_session_running(config_path, capsys, spark):
    """Without ``spark=``, main() reuses the process's active session
    (get_spark is getOrCreate) and must not stop it on the way out."""
    import hyperswitch_data_backfill_spark.__main__ as cli

    rc = cli.main([
        "-f", config_path,
        "-s", "1996-01-01",
        "-e", "1996-01-31",
        "--parquet-dir", SF_DIR,
        "--dry-run",
    ])
    assert rc == 0
    capsys.readouterr()
    assert spark.range(3).count() == 3


def test_cli_jdbc_path_without_merchants_uses_bounded_read(
    tmp_path, capsys, spark, monkeypatch
):
    """The CLI's real-JDBC branch with NO merchant allow-list — the
    read_jdbc_bounded path (previously an untested import: round 5
    caught a NameError here). Embedded Derby stands in for Postgres via
    the new [replica_database] url/driver override; the dry run must
    count every seeded row inside the window."""
    import hyperswitch_data_backfill_spark.__main__ as cli

    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(
        "jdbc:derby:memory:clitest;create=true"
    )
    st = conn.createStatement()
    st.execute(
        "CREATE TABLE ORDERS_CLI (ORDER_NUM INT PRIMARY KEY, "
        "MERCHANT_NUM INT, AMOUNT BIGINT, CREATED_AT TIMESTAMP)"
    )
    ps = conn.prepareStatement("INSERT INTO ORDERS_CLI VALUES (?, ?, ?, ?)")
    ts = jvm.java.sql.Timestamp
    for i in range(60):
        ps.setInt(1, i)
        ps.setInt(2, i % 5)
        ps.setLong(3, 10 * i)
        ps.setTimestamp(4, ts.valueOf(f"2024-02-{1 + i % 20:02d} 09:00:00"))
        ps.addBatch()
    ps.executeBatch()
    ps.close()
    st.close()
    conn.close()

    (tmp_path / "cli_entities.py").write_text(
        "from hyperswitch_data_backfill_spark.plans.spec import EntitySpec\n"
        "ENTITIES = (EntitySpec(table='ORDERS_CLI', merchant_col='MERCHANT_NUM',\n"
        "    time_col='CREATED_AT', key_cols=('MERCHANT_NUM', 'ORDER_NUM'),\n"
        "    topic='orders-cli-events',\n"
        "    remap={'ORDER_NUM': 'entity_id', 'MERCHANT_NUM': 'merchant_id',\n"
        "           'AMOUNT': 'amount'}),)\n"
    )
    monkeypatch.syspath_prepend(str(tmp_path))
    cfg = tmp_path / "cli_config.toml"
    cfg.write_text(
        '[replica_database]\nurl = "jdbc:derby:memory:clitest"\n'
        'driver = "org.apache.derby.jdbc.EmbeddedDriver"\n'
        "\n[events.kafka]\nbrokers = [\"b:9092\"]\n"
        'consolidated_events_topic = "cli-consolidated"\n'
    )
    rc = cli.main([
        "-f", str(cfg),
        "-s", "2024-02-01",
        "-e", "2024-02-10 23:59:59",
        "-p", "3",
        "--entities-module", "cli_entities",
        "--dry-run",
    ], spark=spark)
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()
    by_topic = {line.split("\t")[0]: line.split("\t") for line in out}
    expected = sum(1 for i in range(60) if 1 + i % 20 <= 10)
    assert int(by_topic["orders-cli-events"][1]) == expected
    assert int(by_topic["cli-consolidated"][1]) == expected
    assert '"entity_id"' in by_topic["orders-cli-events"][2]


def test_cli_encrypted_config_boot(tmp_path, capsys, spark):
    """--master-key-env: the CLI decrypts enc:<hex> config values at
    boot (≙ the reference resolving every secret section before any
    query, main.rs:62-80) and the job then runs normally."""
    import hyperswitch_data_backfill_spark.__main__ as cli
    from hyperswitch_data_backfill_spark.config import encrypt_secret_value

    master = bytes.fromhex("9f" * 32)
    enc = encrypt_secret_value("sekrit", master)
    cfg = tmp_path / "enc_cli.toml"
    cfg.write_text(
        f'[replica_database]\npassword = "{enc}"\n'
        "\n[events.kafka]\nbrokers = [\"b:9092\"]\n"
        'consolidated_events_topic = "cli-consolidated"\n'
    )
    import os

    os.environ["CLI_TEST_MASTER_KEY"] = master.hex()
    try:
        rc = cli.main([
            "-f", str(cfg),
            "-s", "1996-01-01",
            "-e", "1997-12-31 23:59:59",
            "--parquet-dir", SF_DIR,
            "--master-key-env", "CLI_TEST_MASTER_KEY",
            "--dry-run",
        ], spark=spark)
    finally:
        del os.environ["CLI_TEST_MASTER_KEY"]
    assert rc == 0
    assert "cli-consolidated" in capsys.readouterr().out
    # unset env var → clean error, not a stack trace
    rc2 = cli.main(["-f", str(cfg), "--master-key-env", "NOPE_UNSET"], spark=spark)
    assert rc2 == 2


def test_cli_master_key_validation(tmp_path, capsys, spark):
    """Malformed / wrong-length master keys get the same clean rc=2 as
    the unset case — no uncaught ValueError from bytes.fromhex and no
    late cryptic AES key-size error."""
    import os

    import hyperswitch_data_backfill_spark.__main__ as cli

    cfg = tmp_path / "any.toml"
    cfg.write_text("[replica_database]\n\n[events.kafka]\nbrokers = []\n")
    for bad, msg in [("not-hex!!", "not valid hex"), ("abcd", "16/24/32 bytes")]:
        os.environ["CLI_TEST_BAD_KEY"] = bad
        try:
            rc = cli.main(["-f", str(cfg), "--master-key-env", "CLI_TEST_BAD_KEY"],
                          spark=spark)
        finally:
            del os.environ["CLI_TEST_BAD_KEY"]
        assert rc == 2
        assert msg in capsys.readouterr().err


def test_cli_date_parsing_matches_reference_formats():
    # utility.rs:6-31 accepts seconds, subseconds, and date-only
    import argparse

    from hyperswitch_data_backfill_spark.__main__ import parse_datetime_arg

    assert parse_datetime_arg("2024-06-26 02:06:05.123456") == "2024-06-26 02:06:05.123456"
    assert parse_datetime_arg("2024-06-26 02:06:05") == "2024-06-26 02:06:05"
    assert parse_datetime_arg("2024-06-26") == "2024-06-26 00:00:00"
    with pytest.raises(argparse.ArgumentTypeError):
        parse_datetime_arg("26/06/2024")


def test_reencrypt_legacy_value_migration(tmp_path):
    """r6 advisory #4: pre-scheme-tag 'enc:<hex>' blobs (rounds 1-5)
    have a decrypt path again — the one-shot migration helper decrypts
    them under an EXPLICIT legacy_scheme flag and re-emits the
    scheme-tagged format the resolver accepts. Idempotent on
    already-tagged values; wrong-scheme opt-in fails loudly for gcm."""
    import os as _os

    from hyperswitch_data_backfill_spark.config import (
        ENC_PREFIX,
        _NONCE_LEN,
        encrypted_value_resolver,
        reencrypt_legacy_value,
    )
    from hyperswitch_data_backfill_spark.functions import crypto

    master = bytes(range(32))
    resolver = encrypted_value_resolver(master)
    nonce = _os.urandom(_NONCE_LEN)

    # legacy xor blob: nonce || xor-ct, NO mac, NO scheme tag
    legacy_xor = ENC_PREFIX + (
        nonce + crypto.xor_cipher(b"legacy-pass", master + nonce)
    ).hex()
    # the current resolver rejects it...
    with pytest.raises(ValueError, match="legacy"):
        resolver("replica_database", "password", legacy_xor)
    # ...the migration helper revives it
    migrated = reencrypt_legacy_value(legacy_xor, master, legacy_scheme="xor")
    assert resolver("replica_database", "password", migrated) == "legacy-pass"
    # idempotent: an already-tagged value passes through unchanged
    assert reencrypt_legacy_value(migrated, master, legacy_scheme="xor") == migrated

    if crypto.HAVE_AES:
        legacy_gcm = ENC_PREFIX + (
            nonce + crypto.aes_gcm_encrypt(b"legacy-gcm", master, nonce)
        ).hex()
        migrated_gcm = reencrypt_legacy_value(legacy_gcm, master, legacy_scheme="gcm")
        assert resolver("secrets", "master_enc_key", migrated_gcm) == "legacy-gcm"
        # declaring the wrong legacy scheme for a gcm blob fails loudly
        # (auth tag mismatch), never emits garbage
        with pytest.raises(ValueError):
            reencrypt_legacy_value(legacy_gcm, master, legacy_scheme="gcm",
                                   scheme="nope")
        with pytest.raises(ValueError, match="decryption failed"):
            reencrypt_legacy_value(
                ENC_PREFIX + (nonce + crypto.aes_gcm_encrypt(b"x", b"\x00" * 32, nonce)).hex(),
                master, legacy_scheme="gcm",
            )


def test_reencrypt_config_tool_walks_file(tmp_path, monkeypatch):
    """tools/reencrypt_config.py migrates every legacy blob in a TOML
    file in place, preserving comments and plaintext values."""
    import os as _os
    import subprocess
    import sys as _sys
    from pathlib import Path as _Path

    from hyperswitch_data_backfill_spark.config import (
        ENC_PREFIX,
        _NONCE_LEN,
        encrypted_value_resolver,
    )
    from hyperswitch_data_backfill_spark.functions import crypto

    master = bytes(range(32))
    nonce = _os.urandom(_NONCE_LEN)
    legacy = ENC_PREFIX + (nonce + crypto.xor_cipher(b"pw-1", master + nonce)).hex()
    cfg = tmp_path / "legacy.toml"
    cfg.write_text(
        "# a comment that must survive\n"
        "[replica_database]\n"
        f'password = "{legacy}"\n'
        'username = "app"\n'
    )
    repo = _Path(__file__).resolve().parent.parent
    out = subprocess.run(
        [_sys.executable, str(repo / "tools" / "reencrypt_config.py"),
         "--legacy-scheme", "xor", str(cfg)],
        capture_output=True, text=True,
        env={**_os.environ, "MASTER_KEY_HEX": master.hex()},
    )
    assert out.returncode == 0, out.stderr
    text = cfg.read_text()
    assert "# a comment that must survive" in text
    assert 'username = "app"' in text
    assert legacy not in text
    import re as _re

    new_val = _re.search(r'password = "(enc:[^"]+)"', text).group(1)
    resolver = encrypted_value_resolver(master)
    assert resolver("replica_database", "password", new_val) == "pw-1"
