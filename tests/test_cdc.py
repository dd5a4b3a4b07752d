"""Operator tests for snapshot-diff CDC (operators/cdc.py). The
registered query's driver-strict differential is in
test_differential.py; these pin the change-typing contract, the
fingerprint-vs-exact equivalence, and the edge cases fixtures can't
express (NULL transitions, schema drift, map columns)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from salesforce_postgresql_etl_spark.operators.cdc import snapshot_diff


def _frame(spark, rows, schema="id long, a string, b double"):
    return spark.createDataFrame(rows, schema)


def _diff_map(df):
    return {r["id"]: r["change_type"] for r in df.collect()}


class TestSnapshotDiff:
    def test_all_change_types(self, spark):
        old = _frame(spark, [(1, "x", 1.0), (2, "y", 2.0), (3, "z", 3.0)])
        new = _frame(spark, [(2, "y", 2.0), (3, "Z", 3.0), (4, "w", 4.0)])
        got = _diff_map(snapshot_diff(old, new, ["id"]))
        assert got == {1: "delete", 3: "update", 4: "insert"}

    def test_unchanged_suppressed_by_default(self, spark):
        old = _frame(spark, [(1, "x", 1.0)])
        new = _frame(spark, [(1, "x", 1.0)])
        assert snapshot_diff(old, new, ["id"]).count() == 0
        rows = snapshot_diff(
            old, new, ["id"], include_unchanged=True
        ).collect()
        assert [(r["id"], r["change_type"]) for r in rows] == [(1, "unchanged")]

    def test_null_transitions_are_updates(self, spark):
        # NULL -> value and value -> NULL must both read as updates;
        # xxhash64 folds NULL deterministically, and the exact path uses
        # null-safe inequality.
        old = _frame(spark, [(1, None, 1.0), (2, "y", 2.0)])
        new = _frame(spark, [(1, "x", 1.0), (2, None, 2.0)])
        for exact in (False, True):
            got = _diff_map(snapshot_diff(old, new, ["id"], exact=exact))
            assert got == {1: "update", 2: "update"}, f"exact={exact}"

    def test_null_position_swap_is_update(self, spark):
        # (r6, advisor) xxhash64 skips NULL args, so without per-column
        # null markers old=(NULL,'x') vs new=('x',NULL) hashed identical
        # and the update was silently dropped. Deterministic, not a
        # 2^-64 collision — pinned here against both paths.
        schema = "id long, a string, b string"
        old = spark.createDataFrame([(1, None, "x"), (2, "p", None)], schema)
        new = spark.createDataFrame([(1, "x", None), (2, None, "p")], schema)
        for exact in (False, True):
            got = _diff_map(snapshot_diff(old, new, ["id"], exact=exact))
            assert got == {1: "update", 2: "update"}, f"exact={exact}"

    def test_fingerprint_equals_exact(self, spark):
        old = _frame(
            spark, [(i, f"v{i}", float(i)) for i in range(50)]
        )
        new = _frame(
            spark,
            [(i, f"v{i}" if i % 3 else "CHANGED", float(i)) for i in range(5, 55)],
        )
        fp = _diff_map(snapshot_diff(old, new, ["id"]))
        exact = _diff_map(snapshot_diff(old, new, ["id"], exact=True))
        assert fp == exact

    def test_schema_drift_ignores_private_columns(self, spark):
        # A column present on only one side must not poison the diff.
        old = _frame(spark, [(1, "x", 1.0)]).withColumn("old_only", F.lit(9))
        new = _frame(spark, [(1, "x", 1.0)]).withColumn("new_only", F.lit(7))
        assert snapshot_diff(old, new, ["id"]).count() == 0

    def test_compare_cols_subset(self, spark):
        # Restricting compare_cols makes out-of-scope changes invisible.
        old = _frame(spark, [(1, "x", 1.0)])
        new = _frame(spark, [(1, "x", 99.0)])
        assert snapshot_diff(old, new, ["id"], ["a"]).count() == 0
        assert _diff_map(snapshot_diff(old, new, ["id"], ["b"])) == {1: "update"}

    def test_empty_key_cols_rejected(self, spark):
        df = _frame(spark, [(1, "x", 1.0)])
        with pytest.raises(ValueError, match="key_cols"):
            snapshot_diff(df, df, [])

    def test_composite_key(self, spark):
        schema = "k1 long, k2 string, v double"
        old = spark.createDataFrame([(1, "a", 1.0), (1, "b", 2.0)], schema)
        new = spark.createDataFrame([(1, "a", 5.0), (2, "a", 3.0)], schema)
        rows = {
            (r["k1"], r["k2"]): r["change_type"]
            for r in snapshot_diff(old, new, ["k1", "k2"]).collect()
        }
        assert rows == {
            (1, "a"): "update",
            (1, "b"): "delete",
            (2, "a"): "insert",
        }


class TestSfId18:
    """Independent check of functions/sfid.py: a pure-Python
    reimplementation of the public checksum algorithm must agree with
    the JVM expression tree (the DuckDB oracle is the third engine,
    via test_differential q_sfid18)."""

    @staticmethod
    def _py_18(id15: str) -> str:
        alpha = "ABCDEFGHIJKLMNOPQRSTUVWXYZ012345"
        out = id15
        for chunk in range(3):
            bits = 0
            for j in range(5):
                if id15[5 * chunk + j].isupper():
                    bits |= 1 << j
            out += alpha[bits]
        return out

    def test_matches_python_reference(self, spark):
        from salesforce_postgresql_etl_spark.functions.sfid import (  # noqa: PLC0415
            sf_id_15_to_18,
        )

        samples = [
            "001xxAAAxxxxxxx",   # scattered uppercase
            "ABCDEFGHIJKLMNO",   # all uppercase -> suffix "555"-region
            "abcdefghijklmno",   # none -> "AAA"
            "0123456789abcde",   # digits are not uppercase
            "aAaAaAaAaAaAaAa",   # alternating
        ]
        df = spark.createDataFrame([(s,) for s in samples], "id15 string")
        got = {
            r["id15"]: r["id18"]
            for r in df.select("id15", sf_id_15_to_18("id15").alias("id18")).collect()
        }
        for s in samples:
            assert got[s] == self._py_18(s), s

    def test_contract_lengths(self, spark):
        from salesforce_postgresql_etl_spark.functions.sfid import (  # noqa: PLC0415
            sf_id_15_to_18,
        )

        df = spark.createDataFrame(
            [("shortid",), ("ABCDEFGHIJKLMNOPQR",), (None,)], "id15 string"
        )
        rows = {
            r["id15"]: r["id18"]
            for r in df.select("id15", sf_id_15_to_18("id15").alias("id18")).collect()
        }
        assert rows["shortid"] is None          # malformed -> NULL
        assert rows["ABCDEFGHIJKLMNOPQR"] == "ABCDEFGHIJKLMNOPQR"  # 18 passthrough
        assert rows[None] is None


class TestApplyChanges:
    """The CDC roundtrip law: apply_changes(old, diff(old, new)) == new."""

    def test_roundtrip_on_fixture_snapshots(self, spark, sf_dir):
        from salesforce_postgresql_etl_spark.operators.cdc import (  # noqa: PLC0415
            apply_changes,
        )
        from salesforce_postgresql_etl_spark.queries.cdc_q import (  # noqa: PLC0415
            _COLS,
            _snapshots,
        )

        old, new = _snapshots(spark, sf_dir)
        feed = snapshot_diff(
            old, new, ["o_orderkey"], list(_COLS), include_values=True
        )
        rebuilt = apply_changes(old, feed, ["o_orderkey"])
        a = sorted(tuple(r) for r in rebuilt.collect())
        b = sorted(tuple(r) for r in new.collect())
        assert a == b

    def test_roundtrip_with_nulls_and_all_change_types(self, spark):
        from salesforce_postgresql_etl_spark.operators.cdc import (  # noqa: PLC0415
            apply_changes,
        )

        old = _frame(spark, [(1, "x", 1.0), (2, None, 2.0), (3, "z", 3.0)])
        new = _frame(spark, [(2, "y", 2.0), (3, None, 3.0), (4, "w", None)])
        feed = snapshot_diff(old, new, ["id"], include_values=True)
        rebuilt = apply_changes(old, feed, ["id"])
        assert sorted(tuple(r) for r in rebuilt.collect()) == sorted(
            tuple(r) for r in new.collect()
        )

    def test_self_diff_applies_to_identity(self, spark):
        from salesforce_postgresql_etl_spark.operators.cdc import (  # noqa: PLC0415
            apply_changes,
        )

        old = _frame(spark, [(1, "x", 1.0), (2, "y", 2.0)])
        feed = snapshot_diff(old, old, ["id"], include_values=True)
        assert feed.count() == 0
        rebuilt = apply_changes(old, feed, ["id"])
        assert sorted(tuple(r) for r in rebuilt.collect()) == sorted(
            tuple(r) for r in old.collect()
        )

    def test_missing_payload_rejected(self, spark):
        from salesforce_postgresql_etl_spark.operators.cdc import (  # noqa: PLC0415
            apply_changes,
        )

        old = _frame(spark, [(1, "x", 1.0)])
        new = _frame(spark, [(1, "x", 2.0)])
        feed = snapshot_diff(old, new, ["id"])  # no values carried
        import pytest as _pytest  # noqa: PLC0415

        with _pytest.raises(ValueError, match="payload"):
            apply_changes(old, feed, ["id"])


class TestApplyCdcJdbc:
    """CDC feed -> JDBC mirror against embedded Derby: the reference's
    nightly sync write path with DELETE propagation (S5's upsert alone
    cannot remove soft-deleted rows)."""

    URL = "jdbc:derby:memory:cdcdb;create=true"
    PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    def _mirror(self, spark, table):
        df = (
            spark.read.format("jdbc")
            .option("url", self.URL)
            .option("dbtable", table)
            .options(**self.PROPS)
            .load()
        )
        return {r["id"]: (r["a"], r["b"]) for r in df.collect()}

    def test_feed_applies_with_deletes(self, spark):
        from salesforce_postgresql_etl_spark.sources.jdbc import (  # noqa: PLC0415
            apply_cdc,
            write_full,
        )

        old = _frame(spark, [(1, "x", 1.0), (2, "y", 2.0), (3, "z", 3.0)])
        new = _frame(spark, [(2, "y", 2.0), (3, "Z", 9.0), (4, "w", 4.0)])
        write_full(old, self.URL, "mirror_t", self.PROPS)

        feed = snapshot_diff(old, new, ["id"], include_values=True)
        apply_cdc(feed, self.URL, "mirror_t", ["id"], self.PROPS, dialect="ansi")
        assert self._mirror(spark, "mirror_t") == {
            2: ("y", 2.0),
            3: ("Z", 9.0),
            4: ("w", 4.0),
        }

        # idempotency: re-applying the same feed changes nothing
        apply_cdc(feed, self.URL, "mirror_t", ["id"], self.PROPS, dialect="ansi")
        assert self._mirror(spark, "mirror_t") == {
            2: ("y", 2.0),
            3: ("Z", 9.0),
            4: ("w", 4.0),
        }

    def test_invalid_table_identifier_rejected(self, spark):
        from salesforce_postgresql_etl_spark.sources.jdbc import (  # noqa: PLC0415
            apply_cdc,
            upsert,
        )

        df = _frame(spark, [(1, "x", 1.0)])
        feed = df.withColumn("change_type", F.lit("insert"))
        for bad in ('mirror"; DROP TABLE t --', "a b", "t;x"):
            with pytest.raises(ValueError, match="identifier"):
                apply_cdc(feed, self.URL, bad, ["id"], self.PROPS, dialect="ansi")
            with pytest.raises(ValueError, match="identifier"):
                upsert(df, self.URL, bad, ["id"], self.PROPS, dialect="ansi")

    def test_failed_apply_cleans_staging(self, spark):
        # (r6, advisor) a mid-sequence failure must drop BOTH staging
        # tables, else the next run's CREATE TABLE __iu fails outright.
        from salesforce_postgresql_etl_spark.sources.jdbc import (  # noqa: PLC0415
            apply_cdc,
            write_full,
        )

        old = _frame(spark, [(1, "x", 1.0), (2, "y", 2.0)])
        new = _frame(spark, [(1, "X", 1.0), (2, "y", 2.0), (3, "z", 3.0)])
        write_full(old, self.URL, "mirror_f", self.PROPS)

        feed = snapshot_diff(old, new, ["id"], include_values=True)
        # Induce a server-side failure AFTER staging is written: a key
        # column absent from the mirror makes the MERGE's ON clause fail.
        bad = feed.withColumn("ghost", F.lit(1))
        with pytest.raises(Exception, match="(?i)ghost|column|syntax"):
            apply_cdc(
                bad, self.URL, "mirror_f", ["id", "ghost"], self.PROPS,
                dialect="ansi",
            )
        # The failed run must not strand __cdc_staging/__iu: the good
        # feed applies cleanly right after.
        apply_cdc(feed, self.URL, "mirror_f", ["id"], self.PROPS, dialect="ansi")
        assert self._mirror(spark, "mirror_f") == {
            1: ("X", 1.0),
            2: ("y", 2.0),
            3: ("z", 3.0),
        }

    def test_empty_feed_noop(self, spark):
        from salesforce_postgresql_etl_spark.sources.jdbc import (  # noqa: PLC0415
            apply_cdc,
            write_full,
        )

        old = _frame(spark, [(1, "x", 1.0)])
        write_full(old, self.URL, "mirror_e", self.PROPS)
        feed = snapshot_diff(old, old, ["id"], include_values=True)
        apply_cdc(feed, self.URL, "mirror_e", ["id"], self.PROPS, dialect="ansi")
        assert self._mirror(spark, "mirror_e") == {1: ("x", 1.0)}

    @pytest.mark.parametrize("fn", ["upsert", "apply_cdc"])
    def test_unknown_dialect_rejected_before_staging(self, spark, fn):
        from salesforce_postgresql_etl_spark.sources import jdbc  # noqa: PLC0415

        df = _frame(spark, [(1, "x", 1.0)])
        table = f"mirror_bogus_{fn}"
        jdbc.write_full(df, self.URL, table, self.PROPS)
        arg = df.withColumn("change_type", F.lit("insert")) if fn == "apply_cdc" else df
        with pytest.raises(ValueError, match="unknown dialect: 'bogus'"):
            getattr(jdbc, fn)(arg, self.URL, table, ["id"], self.PROPS, dialect="bogus")

        conn = spark._jvm.java.sql.DriverManager.getConnection(self.URL)
        try:
            rs = conn.createStatement().executeQuery(
                "SELECT TABLENAME FROM SYS.SYSTABLES "
                f"WHERE TABLENAME LIKE '{table.upper()}%'"
            )
            tables = []
            while rs.next():
                tables.append(rs.getString(1))
        finally:
            conn.close()
        assert tables == [table.upper()]
        assert self._mirror(spark, table) == {1: ("x", 1.0)}
