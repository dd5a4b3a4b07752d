"""S2 as a registered Spark 4 Python DataSource: spark.read.format("sf_model").

Pins the three load-bearing claims:
- the declared schema comes through the SF_TYPE_MAP lattice (no inference),
- each queryMore page is one input partition (parallel executor reads),
- byte-range slicing round-trips every record exactly once, typed.
"""

from __future__ import annotations

import datetime as dt
import decimal
import json

import pytest

from salesforce_postgresql_etl_spark.sources.sf_datasource import (
    SalesforceModelDataSource,
)

FIELDS = [
    {"name": "Id", "type": "id", "nillable": False},
    {"name": "Name", "type": "string"},
    {"name": "Amount", "type": "currency"},
    {"name": "IsWon", "type": "boolean"},
    {"name": "CloseDate", "type": "date"},
    {"name": "Score", "type": "double"},
]

RECORDS = [
    {
        "Id": f"006{i:015d}",
        "Name": f"Deal {i}" if i % 7 else None,
        "Amount": round(1000.0 + 13.37 * i, 2),
        "IsWon": i % 3 == 0,
        "CloseDate": f"2026-{1 + i % 12:02d}-{1 + i % 28:02d}",
        "Score": i / 10.0,
    }
    for i in range(25)
]


@pytest.fixture(scope="module")
def jsonl(tmp_path_factory):
    p = tmp_path_factory.mktemp("sfds") / "opportunity.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in RECORDS) + "\n")
    return str(p)


def _reader(spark, path, page_size):
    spark.dataSource.register(SalesforceModelDataSource)
    return (
        spark.read.format("sf_model")
        .option("describe", json.dumps(FIELDS))
        .option("path", path)
        .option("page_size", str(page_size))
        .load()
    )


def test_roundtrip_typed(spark, jsonl):
    df = _reader(spark, jsonl, page_size=4)
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "string", "string", "decimal(18,2)", "boolean", "date", "double",
    ]
    rows = sorted(df.collect(), key=lambda r: r.Id)
    assert len(rows) == len(RECORDS)
    r8 = rows[8]
    assert r8.Id == "006000000000000008"
    assert r8.Name == "Deal 8"
    assert r8.Amount == decimal.Decimal("1106.96")
    assert r8.IsWon is False
    assert r8.CloseDate == dt.date(2026, 9, 9)
    assert rows[7].Name is None  # i=7 hits the i%7==0 null arm


def test_page_per_partition(spark, jsonl):
    # 25 records / page_size 4 → 7 pages → 7 input partitions.
    df = _reader(spark, jsonl, page_size=4)
    assert df.rdd.getNumPartitions() == 7
    # exact multiple: 25/5 → 5 partitions, no empty trailing page
    assert _reader(spark, jsonl, page_size=5).rdd.getNumPartitions() == 5
    # page larger than the extract → a single page
    assert _reader(spark, jsonl, page_size=100).rdd.getNumPartitions() == 1


def test_empty_extract(spark, tmp_path):
    p = tmp_path / "empty.jsonl"
    p.write_text("")
    df = _reader(spark, str(p), page_size=10)
    assert df.count() == 0
    assert df.schema.fieldNames() == [f["name"] for f in FIELDS]


def test_pushdown_reaches_python_source(spark, jsonl):
    # Catalyst still prunes/filters above the source; the plan must show
    # the Python scan feeding a normal Filter+Project, and results match.
    df = _reader(spark, jsonl, page_size=4).filter("IsWon").select("Id", "Amount")
    got = {r.Id for r in df.collect()}
    want = {r["Id"] for r in RECORDS if r["IsWon"]}
    assert got == want


def _drain_stream_to(spark, path, sink_dir, ckpt, page_size=4):
    spark.dataSource.register(SalesforceModelDataSource)
    q = (
        spark.readStream.format("sf_model")
        .option("describe", json.dumps(FIELDS))
        .option("path", path)
        .option("page_size", str(page_size))
        .load()
        .writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_stream_incremental_extract(spark, tmp_path):
    """The incremental-watermark semantics as a true streaming source:
    a second drain against the same checkpoint consumes ONLY the lines
    appended since the first — planning and reading are delta-sized."""
    p = tmp_path / "stream.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in RECORDS[:10]) + "\n")
    sink, ckpt = str(tmp_path / "landed"), str(tmp_path / "ckpt")
    _drain_stream_to(spark, str(p), sink, ckpt)
    assert spark.read.parquet(sink).count() == 10
    with open(p, "a") as f:
        f.write("\n".join(json.dumps(r) for r in RECORDS[10:15]) + "\n")
    _drain_stream_to(spark, str(p), sink, ckpt)
    got = spark.read.parquet(sink)
    assert got.count() == 15
    assert got.select("Id").distinct().count() == 15  # no re-delivery


def test_stream_equals_batch_typed(spark, tmp_path):
    """Full drain through the stream reader == the batch reader, typed
    row-for-row (shared _read_slice: one parse path, two transports)."""
    p = tmp_path / "full.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in RECORDS) + "\n")
    sink, ckpt = str(tmp_path / "landed"), str(tmp_path / "ckpt")
    _drain_stream_to(spark, str(p), sink, ckpt)
    got = sorted(tuple(r) for r in spark.read.parquet(sink).collect())
    want = sorted(tuple(r) for r in _reader(spark, str(p), 4).collect())
    assert got == want


def test_stream_torn_tail_line_deferred(spark, tmp_path):
    """A partially-appended record (no newline yet) must NOT be
    consumed — latestOffset snaps to the last complete line — and must
    arrive exactly once after its newline lands."""
    p = tmp_path / "torn.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in RECORDS[:3]) + "\n")
    whole = json.dumps(RECORDS[3])
    with open(p, "a") as f:
        f.write(whole[:20])  # torn mid-record, no newline
    sink, ckpt = str(tmp_path / "landed"), str(tmp_path / "ckpt")
    _drain_stream_to(spark, str(p), sink, ckpt)
    assert spark.read.parquet(sink).count() == 3  # torn record held back
    with open(p, "a") as f:
        f.write(whole[20:] + "\n")  # the record completes
    _drain_stream_to(spark, str(p), sink, ckpt)
    got = spark.read.parquet(sink)
    assert got.count() == 4
    assert got.where(f"Id = '{RECORDS[3]['Id']}'").count() == 1


# ---------------------------------------------------------------------
# Watermark pushdown: a `ts > wm` / `ts >= wm` bound reaches the reader,
# which skips older (and null-stamped) records before converting them.

TS_FIELDS = [
    {"name": "Id", "type": "id", "nillable": False},
    {"name": "Amount", "type": "currency"},
    {"name": "SystemModstamp", "type": "datetime"},
]

TS_RECORDS = [
    {
        "Id": f"006{i:015d}",
        "Amount": 10.0 * i,
        # hour i of 2024-01-02, every fifth record null-stamped, one
        # record with an explicit UTC offset (same instant as hour 7)
        "SystemModstamp": None if i % 5 == 4
        else "2024-01-02T09:00:00+02:00" if i == 7
        else f"2024-01-02 {i:02d}:00:00.000",
    }
    for i in range(20)
]


@pytest.fixture(scope="module")
def ts_jsonl(tmp_path_factory):
    p = tmp_path_factory.mktemp("sfds_ts") / "opportunity_ts.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in TS_RECORDS) + "\n")
    return str(p)


def _ts_reader(spark, path):
    spark.dataSource.register(SalesforceModelDataSource)
    return (
        spark.read.format("sf_model")
        .option("describe", json.dumps(TS_FIELDS))
        .option("path", path)
        .option("page_size", "6")
        .load()
    )


def _unpushed(spark, df):
    """The same rows as a local relation: a filter over it cannot reach
    the sf_model reader."""
    return spark.createDataFrame(df.collect(), df.schema)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _scan_rows(df) -> int:
    """Rows the sf_model scan emitted in ``df``'s last execution."""
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    scans = [leaves.apply(i) for i in range(leaves.size())]
    return sum(
        n.metrics().apply("numOutputRows").value()
        for n in scans
        if n.nodeName() == "BatchScan sf_model"
    )


@pytest.mark.parametrize("op", [">", ">="])
@pytest.mark.parametrize(
    "wm",
    [
        "2024-01-02 07:00:00",  # equals the +02:00 record's instant
        "2024-01-02 06:30:00",  # between two stamps
        "2024-01-02 00:00:00",  # equals the first stamp
        "2024-01-03 00:00:00",  # above every stamp
    ],
)
def test_pushed_bound_matches_unpushed(spark, ts_jsonl, op, wm):
    """Null-stamped records are in the input too: SQL drops them, so a
    reader that emitted them would fail the scan-row check."""
    from pyspark.sql import functions as F

    src = _ts_reader(spark, ts_jsonl)
    cut = F.lit(wm).cast("timestamp_ntz")
    col = F.col("SystemModstamp")
    pred = (col > cut) if op == ">" else (col >= cut)
    want = _rows(_unpushed(spark, src).where(pred))
    pushed = src.where(pred)
    assert _rows(pushed) == want
    # the bound reached the reader: it emitted only the matching rows
    assert _scan_rows(pushed) == len(want)
    # the boundary record is in the result exactly when the bound is >=
    if wm == "2024-01-02 07:00:00":
        at = {r[0] for r in want} & {"006000000000000007"}
        assert bool(at) == (op == ">=")


@pytest.mark.parametrize("lag", [0, 5400])
def test_incremental_extract_pushed_matches_unpushed(spark, ts_jsonl, tmp_path, lag):
    from salesforce_postgresql_etl_spark.sources.incremental import (
        WatermarkStore,
        incremental_extract,
    )

    store = WatermarkStore(str(tmp_path / "wm.json"))
    store.set("opp", "2024-01-02 10:00:00")
    src = _ts_reader(spark, ts_jsonl)
    got = _rows(incremental_extract(src, "SystemModstamp", store, "opp", lag_seconds=lag))
    want = _rows(
        incremental_extract(
            _unpushed(spark, src), "SystemModstamp", store, "opp", lag_seconds=lag
        )
    )
    assert got == want
    # lag 5400 s re-reads the 08:30–10:00 window: hour 10 (9 is null)
    assert len(got) == len(want) == (7 if lag == 0 else 8)


def test_push_filters_keeps_only_timestamp_bounds(ts_jsonl):
    from pyspark.sql import types as T
    from pyspark.sql.datasource import EqualTo, GreaterThan, GreaterThanOrEqual, IsNotNull

    from salesforce_postgresql_etl_spark.sources.salesforce import schema_from_describe
    from salesforce_postgresql_etl_spark.sources.sf_datasource import SFModelReader

    schema = schema_from_describe(TS_FIELDS)
    assert isinstance(schema["SystemModstamp"].dataType, T.TimestampType)
    reader = SFModelReader(schema, {"path": ts_jsonl})
    bound = dt.datetime(2024, 1, 2, 7, tzinfo=dt.timezone.utc)
    filters = [
        IsNotNull(("SystemModstamp",)),
        GreaterThan(("SystemModstamp",), bound),
        GreaterThan(("Amount",), decimal.Decimal("5")),
        EqualTo(("Id",), "006000000000000001"),
        GreaterThanOrEqual(("SystemModstamp",), bound),
    ]
    returned = list(reader.pushFilters(filters))
    # every filter goes back to Spark (the bounds as partially pushed)
    assert len(returned) == len(filters)
    assert all(a is b for a, b in zip(returned, filters))
    assert reader.bounds == [
        ("SystemModstamp", True, bound),
        ("SystemModstamp", False, bound),
    ]
    # and read() applies them: only records strictly after 07:00 UTC
    rows = [r for p in reader.partitions() for r in reader.read(p)]
    assert sorted(r[0] for r in rows) == sorted(
        r["Id"]
        for r in TS_RECORDS
        if r["SystemModstamp"] is not None
        and int(r["Id"][-2:]) > 7
    )


def test_configure_runtime_enables_sf_model_reads(spark, ts_jsonl):
    """A session that get_spark did not configure (here: the shared one
    with the pushdown conf switched off, as a driver-owned session may
    arrive) cannot read the source until configure_runtime runs on it."""
    from salesforce_postgresql_etl_spark.session import configure_runtime

    conf = "spark.sql.python.filterPushdown.enabled"
    bound = "SystemModstamp > TIMESTAMP_NTZ'2024-01-02 10:00:00'"
    want = _rows(_unpushed(spark, _ts_reader(spark, ts_jsonl)).where(bound))
    spark.conf.set(conf, "false")
    try:
        with pytest.raises(Exception, match="DATA_SOURCE_PUSHDOWN_DISABLED"):
            _ts_reader(spark, ts_jsonl).collect()
        configure_runtime(spark)
        assert spark.conf.get(conf) == "true"
        assert _rows(_ts_reader(spark, ts_jsonl).where(bound)) == want
    finally:
        spark.conf.set(conf, "true")
