"""Correctness checks, computed apart from the program under test.

Each check takes plain Python values (rows the benchmark collected from
Spark or read back from the warehouse) and returns a list of problems;
an empty list means the output is correct. No check imports the
program's package, so a fault in the program cannot hide in its own
oracle. ``test_checks.py`` feeds every check deliberately wrong results.
"""

from __future__ import annotations

import datetime as dt
import math
from decimal import Decimal

# ---------------------------------------------------------------------------
# sync


def check_cycle(got, lines_appended: int, distinct_keys: int, watermark: str | None) -> list[str]:
    """One run_incremental_load result against what the generator appended."""
    bad = []
    if got.rows_extracted != lines_appended:
        bad.append(f"rows_extracted {got.rows_extracted} != {lines_appended} lines appended")
    if got.rows_loaded != distinct_keys:
        bad.append(f"rows_loaded {got.rows_loaded} != {distinct_keys} distinct keys")
    if got.watermark != watermark:
        bad.append(f"watermark {got.watermark!r} != {watermark!r}")
    return bad


def _typed(row) -> tuple:
    """Row as (type, value) cells, so 5.0 does not equal Decimal('5.00')."""
    return tuple((type(v).__name__, v) for v in row)


def check_warehouse(rows: list[tuple], expected: dict[str, tuple]) -> list[str]:
    """Warehouse rows (key first) equal the latest record per key, value
    and Python type alike."""
    bad = []
    got: dict[str, tuple] = {}
    for r in rows:
        if r[0] in got:
            bad.append(f"key {r[0]} appears twice in the warehouse")
        got[r[0]] = tuple(r)
    missing = expected.keys() - got.keys()
    extra = got.keys() - expected.keys()
    if missing:
        bad.append(f"{len(missing)} keys missing, e.g. {sorted(missing)[:3]}")
    if extra:
        bad.append(f"{len(extra)} unexpected keys, e.g. {sorted(extra)[:3]}")
    stale = [k for k in expected.keys() & got.keys() if _typed(got[k]) != _typed(expected[k])]
    if stale:
        k = sorted(stale)[0]
        bad.append(f"{len(stale)} rows differ, e.g. {got[k]} != {expected[k]}")
    return bad


# ---------------------------------------------------------------------------
# analytics

_FLOAT_REL = 1e-9
_FLOAT_ABS = 1e-9


def _kind(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    if isinstance(v, Decimal):
        return "decimal"
    if isinstance(v, dt.datetime):
        return "datetime"
    if isinstance(v, dt.date):
        return "date"
    if isinstance(v, str):
        return "str"
    return type(v).__name__


def _canon(v):
    if isinstance(v, float) and math.isnan(v):
        return ("nan",)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None)
    return v


def _sort_key(row: tuple) -> tuple:
    return tuple((_kind(v), "" if v is None else repr(_canon(v))) for v in row)


def _cell_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=_FLOAT_REL, abs_tol=_FLOAT_ABS)
    return _kind(a) == _kind(b) and _canon(a) == _canon(b)


def _column_kinds(rows: list[tuple], width: int) -> list[set[str]]:
    kinds = [set() for _ in range(width)]
    for r in rows:
        for i, v in enumerate(r):
            if v is not None:
                kinds[i].add(_kind(v))
    return kinds


def compare_result(
    name: str,
    cols: list[str],
    rows: list[tuple],
    oracle_cols: list[str],
    oracle_rows: list[tuple],
) -> list[str]:
    """Row count, schema (column names and value kinds) and an
    order-insensitive value comparison with a float tolerance."""
    bad = []
    if [c.lower() for c in cols] != [c.lower() for c in oracle_cols]:
        return [f"{name}: columns {cols} != oracle {oracle_cols}"]
    if len(rows) != len(oracle_rows):
        return [f"{name}: {len(rows)} rows != oracle {len(oracle_rows)}"]
    for c, k, ko in zip(cols, _column_kinds(rows, len(cols)), _column_kinds(oracle_rows, len(cols))):
        if k and ko and k != ko:
            bad.append(f"{name}: column {c} holds {sorted(k)}, oracle {sorted(ko)}")
    if bad:
        return bad
    got = sorted((tuple(r) for r in rows), key=_sort_key)
    want = sorted((tuple(r) for r in oracle_rows), key=_sort_key)
    for g, w in zip(got, want):
        if not all(_cell_equal(a, b) for a, b in zip(g, w)):
            return [f"{name}: row {g} != oracle {w}"]
    return []


# ---------------------------------------------------------------------------
# dedup


def _jaccard(a: str, b: str) -> float:
    sa, sb = set(a.split(" ")), set(b.split(" "))
    return len(sa & sb) / len(sa | sb)


def check_pairs(
    pairs: list[tuple[int, int]],
    texts: dict[int, str],
    planted: list[tuple[int, int]],
    threshold: float,
    far_above: float,
) -> list[str]:
    """Every reported pair really is ≥ θ; every planted pair ≥ far_above
    is reported."""
    bad = []
    seen = set()
    for a, b in pairs:
        key = (min(a, b), max(a, b))
        if key in seen:
            bad.append(f"pair {key} reported twice")
        seen.add(key)
        j = _jaccard(texts[a], texts[b])
        if j < threshold:
            bad.append(f"pair {key} has Jaccard {j:.4f} < {threshold}")
            break
    must = [
        (min(a, b), max(a, b))
        for a, b in planted
        if _jaccard(texts[a], texts[b]) >= far_above
    ]
    lost = [p for p in must if p not in seen]
    if lost:
        bad.append(f"{len(lost)} of {len(must)} planted pairs with Jaccard >= {far_above} missing, e.g. {lost[:3]}")
    return bad


def components(nodes, pairs) -> dict[int, int]:
    """Union-find: node → min node id of its connected component."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def check_clusters(
    labels: list[tuple[int, int, int]],
    doc_ids: list[int],
    pairs: list[tuple[int, int]],
) -> list[str]:
    """(doc_id, cluster_id, is_canonical) rows equal the connected
    components of the reported pairs; documents absent from the labels
    are singletons, and each document is in exactly one cluster."""
    bad = []
    got: dict[int, int] = {}
    for doc, cluster, canon in labels:
        if doc in got:
            bad.append(f"doc {doc} is in two clusters")
        got[doc] = cluster
        if canon != int(doc == cluster):
            bad.append(f"doc {doc} is_canonical={canon} with cluster {cluster}")
    unknown = got.keys() - set(doc_ids)
    if unknown:
        bad.append(f"{len(unknown)} labelled ids are not documents")
    want = components(doc_ids, pairs)
    wrong = [d for d in doc_ids if got.get(d, d) != want[d]]
    if wrong:
        d = wrong[0]
        bad.append(f"{len(wrong)} docs in the wrong cluster, e.g. doc {d}: {got.get(d, d)} != {want[d]}")
    return bad[:5]
