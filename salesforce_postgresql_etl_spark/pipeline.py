"""The reference's headline workflow as one composed, idempotent unit:
incremental source→warehouse load (SURVEY.md §1 — the
Salesforce→PostgreSQL sync loop), re-expressed Spark-first.

One run =

1. **extract** rows newer than the stored high watermark
   (:class:`~.sources.incremental.WatermarkStore`; the ``ts > wm``
   predicate reaches the source scan — parquet/JDBC pushed filters,
   and the ``sf_model`` reader's ``pushFilters``, which skips older
   records before converting them — so a 100 TB table reads only its
   delta);
2. **dedup** to the latest record per business key (the reference's
   latest-SystemModstamp-wins rule) — a partitioned row_number window,
   shuffle keyed on the business key. The same window counts each
   key's versions, so the persisted batch alone yields every cycle
   statistic: one aggregate gives rows loaded, rows extracted and the
   new watermark, and the source is scanned once per cycle;
3. **upsert** the batch into the warehouse via the staging-table +
   single server-side merge shape (:func:`~.sources.jdbc.upsert` —
   PostgreSQL ``ON CONFLICT`` or ANSI ``MERGE``). A target provisioned
   here (``create_target=True``) carries a unique index on the key, so
   the merge probes an index and ``ON CONFLICT (key)`` has its target;
4. **advance** the watermark to max(ts) of the extracted batch — only
   after the load succeeded, so a failed run re-extracts the same
   delta (at-least-once extract + idempotent merge = exactly-once
   warehouse state).

Steps 1–3 are each independently registered/tested operators; this
module is the composition plus its lifecycle contract, integration-
tested end-to-end against embedded Derby in
tests/test_pipeline.py (first run = full load, second run = no-op,
late update rows upserted not duplicated).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# advance_watermark is re-exported: a cycle now takes max(ts) from its
# one statistics aggregate, but callers address it as part of this API.
from .sources.incremental import (  # noqa: F401
    WatermarkStore,
    advance_watermark,
    incremental_extract,
    record_watermark,
)
from .sources.jdbc import upsert, write_full


@dataclass
class LoadResult:
    table: str
    rows_extracted: int
    rows_loaded: int
    watermark: str | None


def latest_per_key(
    df: DataFrame, key_cols: list[str], ts_col: str, count_col: str | None = None
) -> DataFrame:
    """Latest record per business key (ties broken by ts desc only —
    callers with non-unique ts should include a tiebreaker column).

    ``count_col``: also add a column of that name holding the number of
    input rows with the row's key (so ``sum(count_col)`` is the input
    row count), computed in the same window operator.

    Partitioned window: shuffles once on the key, no global sort."""
    w = Window.partitionBy(*key_cols).orderBy(F.desc(ts_col))
    out = df.withColumn("_rn", F.row_number().over(w))
    if count_col is not None:
        whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        out = out.withColumn(count_col, F.count(F.lit(1)).over(whole))
    return out.where(F.col("_rn") == 1).drop("_rn")


def run_incremental_load(
    source: DataFrame,
    ts_col: str,
    key_cols: list[str],
    store: WatermarkStore,
    table: str,
    url: str,
    props: dict,
    dialect: str = "postgresql",
    create_target: bool = False,
    lag_seconds: int = 0,
) -> LoadResult:
    """One incremental sync cycle; idempotent under re-runs.

    ``create_target=True`` provisions the warehouse table from the
    batch schema on the FIRST run (empty overwrite → DDL only), the
    way the reference derives DDL from the source schema.

    ``lag_seconds``: re-extract overlap for sources without monotonic
    commit visibility (see incremental_extract) — safe here precisely
    because step 3 is an idempotent merge, so re-read rows collapse to
    no-ops. Note the docstring's exactly-once claim assumes either
    monotonic visibility or a lag wider than the source's worst
    visibility delay.
    """
    delta = incremental_extract(source, ts_col, store, table, lag_seconds=lag_seconds)
    # The deduped batch (plus each key's version count) feeds the
    # statistics aggregate and the JDBC write — persist so the delta is
    # scanned once. The global max(ts) row is by definition the latest
    # for its key, so it survives dedup: max over `batch` is max over
    # `delta`, and sum of the version counts is the delta's row count.
    batch = latest_per_key(delta, key_cols, ts_col, count_col="_versions").persist()
    try:
        stats = batch.agg(
            F.count(F.lit(1)).alias("loaded"),
            F.sum("_versions").alias("extracted"),
            F.max(ts_col).alias("wm"),
        ).collect()[0]
        rows = batch.drop("_versions")
        if create_target and store.get(table) is None:
            write_full(rows.limit(0), url, table, props, key_cols=key_cols)
        if stats.loaded > 0:
            upsert(rows, url, table, key_cols, props, dialect=dialect)
            # Watermark advances ONLY after a successful load, so a
            # failed run re-extracts the same delta; the server-side
            # merge makes the retry idempotent.
            record_watermark(store, table, stats.wm)
    finally:
        batch.unpersist()

    return LoadResult(
        table=table,
        rows_extracted=stats.extracted or 0,
        rows_loaded=stats.loaded,
        watermark=store.get(table),
    )
