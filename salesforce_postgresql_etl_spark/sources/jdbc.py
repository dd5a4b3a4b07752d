"""JDBC source/sink + server-side upsert (SURVEY.md §2.1 S4/S5, §2.9 T8).

The code paths are the standard production shapes:

- full load: ``df.write.jdbc`` with mode=overwrite (Spark emits the
  DDL from df.schema; partitioned writes parallelize the inserts).
- incremental upsert: Spark has no MERGE for JDBC, so write the batch
  to a staging table, then execute ONE server-side statement —
  ``INSERT ... ON CONFLICT (key) DO UPDATE`` on PostgreSQL, ANSI
  ``MERGE INTO`` elsewhere — idempotent, single round-trip, and the
  only scalable shape (per-row upserts from executors would serialize
  on row locks).
- streaming: ``foreachBatch(upsert_microbatch)`` reuses the same path
  per micro-batch (T8).

Integration coverage: the PostgreSQL dialect is environment-gated (no
PG server in this container; tests/test_sources.py::test_jdbc_roundtrip
stays skipped), but the full write→read→upsert cycle IS exercised
against embedded Derby — Spark bundles the Derby jars — using the ANSI
MERGE dialect (test_jdbc_derby_roundtrip). Identifiers are quoted in
the generated SQL because Spark's JDBC writer creates case-sensitive
lowercase column names.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# Type given to string key columns in generated DDL. Spark's JDBC writer
# otherwise emits CLOB on Derby, which Derby can neither compare (ERROR
# 42818 in the MERGE join) nor index; PostgreSQL's TEXT would do, and
# VARCHAR(255) is equally valid there.
_STRING_KEY_TYPE = "VARCHAR(255)"


def jdbc_available(spark) -> bool:
    """True if a postgresql JDBC driver is on the Spark classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.postgresql.Driver")
        return True
    except Exception:
        return False


def write_full(
    df: DataFrame,
    url: str,
    table: str,
    props: dict,
    key_cols: list[str] | None = None,
) -> None:
    """S4: full (re)load — DDL derived from df.schema.

    With ``key_cols`` the table is created keyed: string key columns
    are declared ``VARCHAR(255)`` (unless ``createTableColumnTypes``
    already types them) and a unique index on ``key_cols`` is added, so
    an ANSI MERGE probes the index instead of scanning the table and
    PostgreSQL's ``ON CONFLICT (key)`` has the unique index it requires.
    """
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .options(**(_with_string_keys(df, key_cols, props) if key_cols else props))
        .mode("overwrite")
        .save()
    )
    if key_cols:
        _execute(df.sparkSession, url, props, [_unique_index_sql(table, key_cols)])


def _q(ident: str) -> str:
    return '"' + ident.replace('"', '""') + '"'


def _with_string_keys(df: DataFrame, key_cols: list[str], props: dict) -> dict:
    """``props`` with each string key column added to
    ``createTableColumnTypes`` as ``VARCHAR(255)`` — merged into the
    caller's value, never overriding a column it already types."""
    opt = next(
        (k for k in props if k.lower() == "createtablecolumntypes"),
        "createTableColumnTypes",
    )
    given = props.get(opt, "").strip()
    typed = (
        {n.lower() for n in T.StructType.fromDDL(given).fieldNames()} if given else set()
    )
    strings = {f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)}
    extra = [
        "`" + c.replace("`", "``") + "` " + _STRING_KEY_TYPE
        for c in key_cols
        if c in strings and c.lower() not in typed
    ]
    if not extra:
        return props
    return {**props, opt: ", ".join([given, *extra] if given else extra)}


def _unique_index_sql(table: str, key_cols: list[str]) -> str:
    """Unique index on the key. The index name is derived from the
    UNQUALIFIED table name: PostgreSQL rejects a schema-qualified index
    name (the index always lives in its table's schema)."""
    name = _validate_table(table).rsplit(".", 1)[-1] + "__key"
    keys = ", ".join(_q(c) for c in key_cols)
    return f"CREATE UNIQUE INDEX {name} ON {table} ({keys})"


def _execute(spark, url: str, props: dict, statements: list[str], cleanup=()) -> None:
    """Run ``statements`` in order on one JDBC connection (via the JVM
    DriverManager), then every ``cleanup`` statement whatever happened.
    A cleanup failure is ignored (e.g. dropping a table whose CREATE was
    what failed), so the first real error is the one that propagates."""
    jvm = spark._jvm
    jprops = jvm.java.util.Properties()
    for k, v in props.items():
        jprops.setProperty(k, v)
    conn = jvm.java.sql.DriverManager.getConnection(url, jprops)
    try:
        stmt = conn.createStatement()
        try:
            for sql in statements:
                stmt.execute(sql)
        finally:
            for sql in cleanup:
                try:
                    stmt.execute(sql)
                except Exception:
                    pass
            stmt.close()
    finally:
        conn.close()


_TABLE_IDENT = __import__("re").compile(r"^[A-Za-z_][A-Za-z0-9_.]*$")


def _validate_table(table: str) -> str:
    """Reject table names that are not plain (possibly schema-qualified)
    identifiers before interpolating them into server-side SQL (r6,
    advisor). Quoting is not an option here: Spark's JDBC writer creates
    the staging table from the UNQUOTED dbtable option, so quoting only
    our statements would split resolution between the two paths."""
    if not _TABLE_IDENT.match(table):
        raise ValueError(f"invalid table identifier: {table!r}")
    return table


def _upsert_sql(table: str, staging: str, cols: list[str], key_cols: list[str]) -> str:
    """PostgreSQL dialect: INSERT ... ON CONFLICT DO UPDATE.

    All-key tables (pure relationship rows) have nothing to update on
    conflict — emit DO NOTHING, which is also the idempotent semantics
    (a re-seen key row is a no-op, not invalid SQL)."""
    collist = ", ".join(_q(c) for c in cols)
    keylist = ", ".join(_q(c) for c in key_cols)
    sets = ", ".join(f"{_q(c)} = EXCLUDED.{_q(c)}" for c in cols if c not in key_cols)
    action = f"DO UPDATE SET {sets}" if sets else "DO NOTHING"
    return (
        f"INSERT INTO {table} ({collist}) SELECT {collist} FROM {staging} "
        f"ON CONFLICT ({keylist}) {action}"
    )


def _merge_sql(table: str, staging: str, cols: list[str], key_cols: list[str]) -> str:
    """ANSI MERGE dialect (Derby, SQL Server, Oracle, DB2...).

    With cols == key_cols the WHEN MATCHED clause is omitted entirely
    (an empty UPDATE SET list is invalid SQL; matched rows need no
    change)."""
    on = " AND ".join(f"t.{_q(c)} = s.{_q(c)}" for c in key_cols)
    sets = ", ".join(f"{_q(c)} = s.{_q(c)}" for c in cols if c not in key_cols)
    collist = ", ".join(_q(c) for c in cols)
    vals = ", ".join(f"s.{_q(c)}" for c in cols)
    matched = f"WHEN MATCHED THEN UPDATE SET {sets} " if sets else ""
    return (
        f"MERGE INTO {table} t USING {staging} s ON {on} "
        f"{matched}"
        f"WHEN NOT MATCHED THEN INSERT ({collist}) VALUES ({vals})"
    )


def upsert(
    df: DataFrame,
    url: str,
    table: str,
    key_cols: list[str],
    props: dict,
    dialect: str = "postgresql",
) -> None:
    """S5: staging table + one server-side merge (idempotent load).

    ``dialect``: ``postgresql`` → ON CONFLICT; ``ansi`` → MERGE INTO.
    String key columns are staged as ``VARCHAR(255)`` unless
    ``createTableColumnTypes`` types them (see ``write_full``). The
    staging table is dropped whether or not the merge succeeds.
    """
    if dialect == "postgresql":
        merge_stmt = _upsert_sql
    elif dialect == "ansi":
        merge_stmt = _merge_sql
    else:
        raise ValueError(f"unknown dialect: {dialect!r}")
    staging = f"{_validate_table(table)}__staging"
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", staging)
        .options(**_with_string_keys(df, key_cols, props))
        .mode("overwrite")
        .save()
    )
    # One server-side MERGE statement; the staging table goes either way.
    _execute(
        df.sparkSession, url, props,
        [merge_stmt(table, staging, df.columns, key_cols)],
        cleanup=[f"DROP TABLE {staging}"],
    )


def read_partitioned(
    spark,
    url: str,
    table: str,
    partition_col: str,
    props: dict,
    num_partitions: int = 8,
    lower=None,
    upper=None,
) -> DataFrame:
    """S4 read side: partitioned PARALLEL JDBC scan (r6, VERDICT r5 #7).

    A bare ``spark.read.jdbc`` is one task pulling the whole table
    through one connection — a non-starter for a large source extract.
    With ``partitionColumn`` + bounds + ``numPartitions``, each task
    issues its own range-predicated SELECT, so the scan parallelizes
    across executors (the standard production shape for a full or
    initial load; incremental loads go through sources/incremental.py).

    When bounds aren't supplied, ONE tiny server-side aggregate
    (``SELECT MIN(col), MAX(col)``) fetches them — a 1-row round-trip,
    never a table scan client-side. Spark quotes the partition column
    via the JDBC dialect itself, so pass the bare name; stride skew
    (a dense key range split evenly regardless of value distribution)
    is inherent to range partitioning — pick a roughly uniform key,
    same guidance as the reference tool class's chunked extracts.
    """
    if num_partitions < 1:
        raise ValueError("num_partitions must be >= 1")
    table = _validate_table(table)  # all three read paths below interpolate it
    if lower is None or upper is None:
        bounds_q = (
            f"(SELECT MIN({_q(partition_col)}) AS mn, "
            f"MAX({_q(partition_col)}) AS mx "
            f"FROM {table}) AS bounds"
        )
        row = (
            spark.read.format("jdbc")
            .option("url", url)
            .option("dbtable", bounds_q)
            .options(**props)
            .load()
            .collect()[0]
        )
        if row[0] is None:  # empty table — no range to split
            return (
                spark.read.format("jdbc")
                .option("url", url)
                .option("dbtable", table)
                .options(**props)
                .load()
            )
        lower = row[0] if lower is None else lower
        upper = row[1] if upper is None else upper
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("partitionColumn", partition_col)
        .option("lowerBound", str(lower))
        .option("upperBound", str(upper))
        .option("numPartitions", str(num_partitions))
        .options(**props)
        .load()
    )


def upsert_microbatch(
    url: str,
    table: str,
    key_cols: list[str],
    props: dict,
    dialect: str = "postgresql",
):
    """T8: foreachBatch hook — ``writeStream.foreachBatch(fn)``."""

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        upsert(batch_df, url, table, key_cols, props, dialect=dialect)

    return fn


def apply_cdc(
    changes: DataFrame,
    url: str,
    table: str,
    key_cols: list[str],
    props: dict,
    dialect: str = "postgresql",
) -> None:
    """Apply a snapshot-diff change feed to a JDBC mirror — the sync
    write path the reference runs nightly, completed with DELETE
    propagation (S5's upsert covers insert/update only; soft-deleted
    source rows must also leave the warehouse, SURVEY §3.1.2).

    ``changes`` is ``operators.cdc.snapshot_diff(include_values=True)``
    output: key columns + ``change_type`` + the new-side payload. Two
    server-side statements from ONE staged table: a keyed DELETE for
    delete rows, then the dialect merge for insert/update rows —
    idempotent (re-applying the same feed is a no-op), and the network
    cost is the CHANGE SET, never the table.
    """
    if dialect == "postgresql":
        merge_stmt = _upsert_sql
    elif dialect == "ansi":
        merge_stmt = _merge_sql
    else:
        raise ValueError(f"unknown dialect: {dialect!r}")
    payload_cols = [c for c in changes.columns if c != "change_type"]
    staging = f"{_validate_table(table)}__cdc_staging"
    (
        changes.write.format("jdbc")
        .option("url", url)
        .option("dbtable", staging)
        .options(**props)
        .mode("overwrite")
        .save()
    )
    # no DELETE alias (Derby rejects one) — qualify with the table name
    on = " AND ".join(f"{table}.{_q(c)} = s.{_q(c)}" for c in key_cols)
    # Spark's JDBC writer quotes lowercase names, and maps StringType to
    # CLOB on Derby — CLOB won't compare to a literal, so cast first.
    ct = f"CAST({_q('change_type')} AS VARCHAR(16))"
    delete_stmt = (
        f"DELETE FROM {table} WHERE EXISTS (SELECT 1 FROM {staging} s "
        f"WHERE {on} AND CAST(s.{_q('change_type')} AS VARCHAR(16)) = 'delete')"
    )
    upsert_view = (
        f"SELECT {', '.join(_q(c) for c in payload_cols)} FROM {staging} "
        f"WHERE {ct} IN ('insert', 'update')"
    )
    # stage the insert/update subset under a second name so the dialect
    # merge templates (table FROM table) apply unchanged; Derby's CTAS
    # only supports WITH NO DATA, so ansi populates with a separate INSERT
    if dialect == "ansi":
        stage_iu = [
            f"CREATE TABLE {staging}__iu AS {upsert_view} WITH NO DATA",
            f"INSERT INTO {staging}__iu {upsert_view}",
        ]
    else:
        stage_iu = [f"CREATE TABLE {staging}__iu AS {upsert_view}"]
    # Always clear both staging tables: a failure mid-sequence must not
    # strand __iu — the next run's CREATE would fail outright.
    _execute(
        changes.sparkSession, url, props,
        [
            delete_stmt,
            *stage_iu,
            merge_stmt(table, f"{staging}__iu", payload_cols, key_cols),
        ],
        cleanup=[f"DROP TABLE {staging}__iu", f"DROP TABLE {staging}"],
    )
