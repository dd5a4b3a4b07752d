"""End-to-end incremental load pipeline (the reference's headline
source→warehouse sync loop) against embedded Derby:

run 1: full load (no watermark) → warehouse = latest-per-key snapshot;
run 2: no new rows → no-op, watermark unchanged;
run 3: late updates + a brand-new key → exactly those rows merged,
       updated keys overwritten once, nothing duplicated;
re-run of 3's merge: idempotent (at-least-once extract + idempotent
merge = exactly-once warehouse state).
"""

from __future__ import annotations

import datetime as dt

import pytest

from salesforce_postgresql_etl_spark.pipeline import (
    latest_per_key,
    run_incremental_load,
)
from salesforce_postgresql_etl_spark.sources.incremental import WatermarkStore

URL = "jdbc:derby:memory:pipedb;create=true"
PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
SCHEMA = "account_id bigint, name string, amount double, modstamp timestamp_ntz"


def _ts(day: int, hour: int = 0):
    return dt.datetime(2024, 1, day, hour)


def _warehouse(spark, table: str):
    df = (
        spark.read.format("jdbc")
        .option("url", URL)
        .option("dbtable", table)
        .options(**PROPS)
        .load()
    )
    return {r.account_id: (r.name, r.amount) for r in df.collect()}


def test_latest_per_key_picks_newest(spark):
    df = spark.createDataFrame(
        [
            (1, "a-v1", 10.0, _ts(1)),
            (1, "a-v2", 11.0, _ts(2)),
            (2, "b-v1", 20.0, _ts(1)),
        ],
        SCHEMA,
    )
    got = {
        r.account_id: r.name
        for r in latest_per_key(df, ["account_id"], "modstamp").collect()
    }
    assert got == {1: "a-v2", 2: "b-v1"}


def test_incremental_load_lifecycle(spark, tmp_path):
    store = WatermarkStore(str(tmp_path / "wm.json"))
    table = "accounts_sync"

    # Run 1 — initial full load: v1+v2 of key 1 arrive together; the
    # warehouse must hold only the latest per key.
    src1 = spark.createDataFrame(
        [
            (1, "alice-v1", 10.0, _ts(1)),
            (1, "alice-v2", 11.0, _ts(3)),
            (2, "bob-v1", 20.0, _ts(2)),
        ],
        SCHEMA,
    )
    r1 = run_incremental_load(
        src1, "modstamp", ["account_id"], store, table, URL, PROPS,
        dialect="ansi", create_target=True,
    )
    assert (r1.rows_extracted, r1.rows_loaded) == (3, 2)
    assert r1.watermark == "2024-01-03 00:00:00"
    assert _warehouse(spark, table) == {1: ("alice-v2", 11.0), 2: ("bob-v1", 20.0)}

    # Run 2 — same source, nothing newer than the watermark: no-op.
    r2 = run_incremental_load(
        src1, "modstamp", ["account_id"], store, table, URL, PROPS, dialect="ansi"
    )
    assert (r2.rows_extracted, r2.rows_loaded) == (0, 0)
    assert r2.watermark == r1.watermark

    # Run 3 — an update to key 2 and a new key 3 arrive.
    src2 = spark.createDataFrame(
        [
            (1, "alice-v1", 10.0, _ts(1)),  # old — filtered by watermark
            (1, "alice-v2", 11.0, _ts(3)),  # old
            (2, "bob-v1", 20.0, _ts(2)),  # old
            (2, "bob-v2", 21.0, _ts(4)),  # update
            (3, "carol-v1", 30.0, _ts(5)),  # insert
        ],
        SCHEMA,
    )
    r3 = run_incremental_load(
        src2, "modstamp", ["account_id"], store, table, URL, PROPS, dialect="ansi"
    )
    assert (r3.rows_extracted, r3.rows_loaded) == (2, 2)
    assert r3.watermark == "2024-01-05 00:00:00"
    assert _warehouse(spark, table) == {
        1: ("alice-v2", 11.0),
        2: ("bob-v2", 21.0),
        3: ("carol-v1", 30.0),
    }

    # Idempotency under retry: wind the watermark back (simulating a
    # crash after load but before the watermark commit) and re-run —
    # the same delta re-merges without duplicating anything.
    store.set(table, "2024-01-03 00:00:00")
    r4 = run_incremental_load(
        src2, "modstamp", ["account_id"], store, table, URL, PROPS, dialect="ansi"
    )
    assert r4.rows_loaded == 2
    assert _warehouse(spark, table) == {
        1: ("alice-v2", 11.0),
        2: ("bob-v2", 21.0),
        3: ("carol-v1", 30.0),
    }


def test_watermark_predicate_pushes_to_native_ts_scan(spark, tmp_path):
    """On a source with a NATIVE timestamp column the incremental
    filter must reach the parquet reader as a PushedFilter — at 100 TB
    this is what turns 'read the table' into 'read the delta'. (The
    events fixture rebuilds ts from raw nanos, so its filter stays
    post-scan; this test uses a natively-typed source instead.)"""
    from salesforce_postgresql_etl_spark.sources.incremental import (
        incremental_extract,
    )

    src = str(tmp_path / "native_ts")
    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1)), (2, dt.datetime(2024, 1, 9))],
        "id bigint, modstamp timestamp_ntz",
    ).write.parquet(src)

    store = WatermarkStore(str(tmp_path / "wm2.json"))
    store.set("t", "2024-01-05 00:00:00")
    df = incremental_extract(spark.read.parquet(src), "modstamp", store, "t")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(modstamp), GreaterThan(modstamp" in plan
    assert df.count() == 1


# ---------------------------------------------------------------------
# The provisioned target is keyed; string keys work with default props;
# upsert never strands its staging table.

SF_SCHEMA = "Id string, Name string, SystemModstamp timestamp"


def _derby_rows(spark, sql: str) -> list[tuple]:
    """Run a catalog query on the in-memory Derby warehouse; every
    column comes back as its string form."""
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(URL)
    try:
        rs = conn.createStatement().executeQuery(sql)
        n = rs.getMetaData().getColumnCount()
        out = []
        while rs.next():
            out.append(tuple(str(rs.getObject(i)) for i in range(1, n + 1)))
        return out
    finally:
        conn.close()


def _indexes(spark, table: str) -> list[tuple]:
    return _derby_rows(
        spark,
        "SELECT c.CONGLOMERATENAME, c.DESCRIPTOR FROM SYS.SYSCONGLOMERATES c "
        "JOIN SYS.SYSTABLES t ON c.TABLEID = t.TABLEID "
        f"WHERE t.TABLENAME = '{table.upper()}' AND c.ISINDEX",
    )


def _tables_ending(spark, suffix: str) -> list[str]:
    return [
        r[0]
        for r in _derby_rows(spark, "SELECT TABLENAME FROM SYS.SYSTABLES")
        if r[0].endswith(suffix)
    ]


def test_create_target_adds_unique_key_index(spark, tmp_path):
    store = WatermarkStore(str(tmp_path / "wm.json"))
    src = spark.createDataFrame(
        [(7, "x", 1.0, _ts(1)), (8, "y", 2.0, _ts(2))], SCHEMA
    )
    run_incremental_load(
        src, "modstamp", ["account_id"], store, "keyed_sync", URL, PROPS,
        dialect="ansi", create_target=True,
    )
    idx = _indexes(spark, "keyed_sync")
    # one unique B-tree index, on column 1 (account_id)
    assert idx == [("KEYED_SYNC__KEY", "UNIQUE BTREE (1)")]


def test_string_key_sync_with_default_props(spark, tmp_path):
    """Spark types string columns CLOB on Derby, which can neither be
    compared in the MERGE join nor indexed: a string key is declared
    VARCHAR in the provisioned target and in the staging table."""
    store = WatermarkStore(str(tmp_path / "wm.json"))
    table = "sf_opportunity"
    src1 = spark.createDataFrame(
        [
            ("006A", "a-v1", _ts(1)),
            ("006A", "a-v2", _ts(3)),
            ("006B", "b-v1", _ts(2)),
        ],
        SF_SCHEMA,
    )
    r1 = run_incremental_load(
        src1, "SystemModstamp", ["Id"], store, table, URL, PROPS,
        dialect="ansi", create_target=True,
    )
    assert (r1.rows_extracted, r1.rows_loaded) == (3, 2)
    assert [d for _, d in _indexes(spark, table)] == ["UNIQUE BTREE (1)"]
    src2 = spark.createDataFrame(
        [("006B", "b-v2", _ts(4)), ("006C", "c-v1", _ts(5))], SF_SCHEMA
    )
    r2 = run_incremental_load(
        src1.unionByName(src2), "SystemModstamp", ["Id"], store, table, URL, PROPS,
        dialect="ansi",
    )
    assert (r2.rows_extracted, r2.rows_loaded) == (2, 2)
    got = spark.read.format("jdbc").option("url", URL).option(
        "dbtable", table
    ).options(**PROPS).load()
    assert sorted((r.Id, r.Name) for r in got.collect()) == [
        ("006A", "a-v2"), ("006B", "b-v2"), ("006C", "c-v1"),
    ]
    assert _tables_ending(spark, "__STAGING") == []


def test_string_key_upsert_after_keyed_write_full(spark):
    """The library-level form of the same path, with a caller type for
    a non-key column that must survive the merge of DDL types."""
    from salesforce_postgresql_etl_spark.sources.jdbc import upsert, write_full

    df = spark.createDataFrame(
        [("001A", "alpha"), ("001B", "beta")], "Id string, Name string"
    )
    props = {**PROPS, "createTableColumnTypes": "Name VARCHAR(40)"}
    write_full(df.limit(0), URL, "sf_account", props, key_cols=["Id"])
    upsert(df, URL, "sf_account", ["Id"], PROPS, dialect="ansi")
    upsert(df, URL, "sf_account", ["Id"], PROPS, dialect="ansi")  # idempotent
    cols = _derby_rows(
        spark,
        "SELECT c.COLUMNNAME, c.COLUMNDATATYPE FROM SYS.SYSCOLUMNS c "
        "JOIN SYS.SYSTABLES t ON c.REFERENCEID = t.TABLEID "
        "WHERE t.TABLENAME = 'SF_ACCOUNT' ORDER BY c.COLUMNNUMBER",
    )
    assert cols == [("Id", "VARCHAR(255)"), ("Name", "VARCHAR(40)")]
    assert _derby_rows(spark, 'SELECT COUNT(*) FROM sf_account') == [("2",)]


def test_failed_merge_drops_staging_table(spark):
    """A MERGE that fails (here: the target does not exist) still drops
    <table>__staging, and the MERGE's own error is what propagates."""
    from salesforce_postgresql_etl_spark.sources.jdbc import upsert

    df = spark.createDataFrame([(1, "a")], "id bigint, name string")
    with pytest.raises(Exception, match="NO_SUCH_TARGET"):
        upsert(df, URL, "no_such_target", ["id"], PROPS, dialect="ansi")
    assert _tables_ending(spark, "__STAGING") == []
