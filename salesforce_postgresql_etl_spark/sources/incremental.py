"""Incremental extraction state (SURVEY.md §2.1 S6; §1.1 sync-state).

The reference keeps a watermark table (object → last successful
SystemModstamp) driving `WHERE SystemModstamp > :wm` extracts. Spark
equivalent: a tiny JSON checkpoint per table + a filter that Catalyst
pushes into the parquet/JDBC scan. In streaming mode the same
semantic is `withWatermark` (streaming/jobs.py).
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class WatermarkStore:
    """Durable per-table high-watermark state (atomic JSON file)."""

    def __init__(self, path: str):
        self.path = path

    def _read(self) -> dict:
        if not os.path.exists(self.path):
            return {}
        with open(self.path) as f:
            return json.load(f)

    def get(self, table: str) -> str | None:
        return self._read().get(table)

    def set(self, table: str, value: str) -> None:
        state = self._read()
        state[table] = value
        d = os.path.dirname(self.path) or "."
        fd, tmp = tempfile.mkstemp(dir=d)
        with os.fdopen(fd, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self.path)  # atomic on POSIX


def incremental_extract(
    df: DataFrame,
    ts_col: str,
    store: WatermarkStore,
    table: str,
    lag_seconds: int = 0,
) -> DataFrame:
    """Rows newer than the stored watermark (all rows on first run).

    The `ts > wm` predicate reaches the parquet scan (PushedFilters) /
    the JDBC WHERE clause / the ``sf_model`` reader (``pushFilters``:
    older records are skipped before conversion) — only changed rows
    are materialised, which is the whole point at 100 TB.

    ``lag_seconds``: visibility-lag overlap. The strict ``ts > wm``
    filter assumes monotonic visibility — a row committed with
    ``ts <= wm`` AFTER the watermark advanced (long-running source
    transaction, clock skew between writers) would be skipped forever.
    A positive lag re-extracts the trailing window (``ts > wm - lag``);
    the downstream idempotent merge (sources/jdbc.upsert) absorbs the
    re-read rows, so correctness costs only the overlap's scan width.
    Default 0 keeps the exactly-the-delta contract for sources that ARE
    monotonically visible (e.g. the reference's SystemModstamp, which
    Salesforce stamps at commit time).
    """
    wm = store.get(table)
    if wm is None:
        return df
    cutoff = F.lit(wm).cast("timestamp_ntz")
    if lag_seconds:
        cutoff = cutoff - F.make_dt_interval(secs=F.lit(lag_seconds))
    return df.where(F.col(ts_col) > cutoff)


def record_watermark(store: WatermarkStore, table: str, max_ts) -> str | None:
    """Store an already-computed max(ts) as the new watermark (a None
    max — an empty or all-null batch — leaves it unchanged)."""
    if max_ts is not None:
        store.set(table, max_ts.isoformat(sep=" "))
    return store.get(table)


def advance_watermark(
    df: DataFrame, ts_col: str, store: WatermarkStore, table: str
) -> str | None:
    """Record max(ts) of the extracted batch as the new watermark."""
    row = df.agg(F.max(ts_col).alias("m")).collect()[0]
    return record_watermark(store, table, row.m)
