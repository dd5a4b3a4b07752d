"""Registered-output contract sweep (VERDICT r2 "Next round" #2).

Two failure classes took down otherwise-correct queries in round 2's
driver check, both living in the comparison surface rather than the
query semantics:

1. array/struct/map-typed output columns — the driver's pandas
   canonicalizer crashes (``sort_values`` → ``unhashable type: 'list'``);
2. int-vs-float (and decimal-scale) dtype skew between the Spark result
   and the DuckDB oracle — values equal, hashes differ.

This module asserts both contracts mechanically for EVERY registered
query, cheaply (schema/plan inspection only — no data is moved):

- every output column of every registered query is an atomic scalar
  type (rows-only queries included: the driver's weaker check still
  renders them through pandas);
- for every oracled query, Spark's output dtypes and DuckDB's oracle
  dtypes land on the same point of a common type lattice (ints with
  ints, floats with floats, decimals scale-exact, temporal kind exact).
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from salesforce_postgresql_etl_spark.queries import registry

from .conftest import SF_DIR

_REG = registry()
_ALL = sorted(_REG)
_SQL = sorted(n for n, q in _REG.items() if q.oracle is not None)

_ATOMIC_SPARK = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
    T.StringType,
    T.BooleanType,
    T.DateType,
    T.TimestampType,
    T.TimestampNTZType,
    T.BinaryType,
)


def _spark_lattice(dt: T.DataType) -> str:
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.DecimalType):
        return f"decimal(s={dt.scale})"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(dt, T.BinaryType):
        return "bytes"
    return f"OTHER:{dt.simpleString()}"


def _duck_lattice(type_str: str) -> str:
    s = type_str.upper()
    if s in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if s in ("FLOAT", "DOUBLE", "REAL"):
        return "float"
    if s.startswith("DECIMAL"):
        scale = s.rstrip(")").split(",")[-1].strip()
        return f"decimal(s={scale})"
    if s == "VARCHAR":
        return "str"
    if s == "BOOLEAN":
        return "bool"
    if s == "DATE":
        return "date"
    if s.startswith("TIMESTAMP"):
        return "timestamp"
    if s == "BLOB":
        return "bytes"
    return f"OTHER:{type_str}"


@pytest.mark.parametrize("name", _ALL)
def test_no_decimal_typed_outputs(name, spark):
    """Decimal sums are the internal determinism mechanism, but decimal
    OUTPUT columns are a comparison hazard: Spark's pandas conversion
    keeps scale-bearing Decimal objects while DuckDB's lands float64 —
    same value, different canonical forms. Outputs convert to double."""
    df = _REG[name].fn(spark, SF_DIR)
    bad = [
        f.name for f in df.schema.fields if isinstance(f.dataType, T.DecimalType)
    ]
    assert not bad, (
        f"[{name}] decimal-typed registered outputs {bad} — wrap with "
        "dec_to_double (functions/determinism.py) before registering"
    )


@pytest.mark.parametrize("name", _ALL)
def test_output_columns_are_scalar(name, spark):
    df = _REG[name].fn(spark, SF_DIR)
    bad = [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in df.schema.fields
        if not isinstance(f.dataType, _ATOMIC_SPARK)
    ]
    assert not bad, (
        f"[{name}] non-scalar registered output columns {bad} — the "
        "driver's pandas canonicalizer crashes on these; serialize with "
        "array_join / to_json"
    )


@pytest.mark.parametrize("name", _SQL)
def test_dtype_lattice_matches_oracle(name, spark, duck):
    q = _REG[name]
    df = q.fn(spark, SF_DIR)
    s_types = {
        f.name.lower(): _spark_lattice(f.dataType) for f in df.schema.fields
    }
    rel = duck.sql(q.oracle)
    d_types = {
        c.lower(): _duck_lattice(str(t)) for c, t in zip(rel.columns, rel.types)
    }
    assert set(s_types) == set(d_types), (
        f"[{name}] column sets differ: {sorted(s_types)} vs {sorted(d_types)}"
    )
    skew = {
        c: (s_types[c], d_types[c])
        for c in s_types
        if s_types[c] != d_types[c]
    }
    assert not skew, (
        f"[{name}] dtype skew vs oracle (spark, duck): {skew} — pin casts "
        "on both sides; the driver's value-hash is dtype-sensitive"
    )


def test_query_order_is_pinned():
    # The order of ``queries()`` is kept fixed (queries/__init__.py
    # _FRONT): slot 1, slot 50 and four queries in the first 50 are pinned,
    # and ``oracle_sql()`` lists its names in the same order.
    import __spark_entry__

    names = list(__spark_entry__.queries())
    assert names[0] == "q_parquet_roundtrip"
    assert names[49] == "q_agg_group"
    for q in ("q_entity_match", "q_join_star", "q_neardup_clusters",
              "q_repetition_filter"):
        assert q in names[:50], q
    oracled = list(__spark_entry__.oracle_sql())
    assert oracled == [n for n in names if n in set(oracled)]
