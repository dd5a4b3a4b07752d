"""The benchmark's own checks must reject wrong results.

    python3 -m pytest perfbench -q

No Spark here: each check gets a correct result (which must pass) and
deliberately wrong ones (each of which must fail). The analytics oracle
side runs in DuckDB on an in-memory table.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys
from dataclasses import dataclass
from decimal import Decimal

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

# ---------------------------------------------------------------------------
# sync


@dataclass
class Loaded:
    rows_extracted: int
    rows_loaded: int
    watermark: str | None


def _sync_state():
    log = gen.SyncLog(seed=5)
    log.base()
    lines = log.cycle()
    expected = {k: gen.expected_row(rec) for k, rec in log.latest.items()}
    return log, lines, expected


def test_cycle_check_accepts_the_right_counts():
    log, lines, _ = _sync_state()
    keys = {json.loads(x)["Id"] for x in lines}
    assert len(keys) < len(lines)  # some keys change twice in one cycle
    ok = Loaded(len(lines), len(keys), log.watermark)
    assert checks.check_cycle(ok, len(lines), len(keys), log.watermark) == []


@pytest.mark.parametrize("wrong", [
    {"rows_extracted": 799},  # a delta line missed
    {"rows_loaded": 800},  # duplicates per key not collapsed
    {"watermark": "2024-01-01 00:00:00"},  # watermark not advanced
])
def test_cycle_check_rejects(wrong):
    log, lines, _ = _sync_state()
    keys = {json.loads(x)["Id"] for x in lines}
    got = Loaded(len(lines), len(keys), log.watermark)
    for k, v in wrong.items():
        setattr(got, k, v)
    assert checks.check_cycle(got, len(lines), len(keys), log.watermark)


def test_warehouse_check_accepts_the_latest_rows():
    _, _, expected = _sync_state()
    assert checks.check_warehouse(list(expected.values()), expected) == []


def test_warehouse_check_rejects_a_dropped_row():
    _, _, expected = _sync_state()
    rows = list(expected.values())[1:]
    assert checks.check_warehouse(rows, expected)


def test_warehouse_check_rejects_a_stale_row():
    log = gen.SyncLog(seed=5)
    log.base()
    first = dict(log.latest)
    log.cycle()
    expected = {k: gen.expected_row(rec) for k, rec in log.latest.items()}
    changed = next(k for k in first if log.latest[k] is not first[k])
    rows = [gen.expected_row(first[k]) if k == changed else r for k, r in expected.items()]
    assert checks.check_warehouse(rows, expected)


def test_warehouse_check_rejects_a_duplicated_key():
    _, _, expected = _sync_state()
    rows = list(expected.values())
    assert checks.check_warehouse(rows + rows[:1], expected)


def test_warehouse_check_rejects_a_wrong_type():
    _, _, expected = _sync_state()
    key, row = next(iter(expected.items()))
    expected[key] = row[:11] + (Decimal("12.50"),) + row[12:]
    rows = list(expected.values())
    rows[0] = row[:11] + (12.5,) + row[12:]  # currency read back as a double
    assert checks.check_warehouse(rows, expected)


# ---------------------------------------------------------------------------
# analytics

_SQL = "SELECT g, COUNT(*) AS n, SUM(x) AS s, MIN(t) AS t FROM v GROUP BY g"


@pytest.fixture(scope="module")
def oracle():
    con = duckdb.connect()
    con.execute("CREATE TABLE v (g VARCHAR, x DOUBLE, t TIMESTAMP)")
    con.execute("INSERT INTO v VALUES ('a', 0.1, '2024-01-01'), ('a', 0.2, '2024-01-02'),"
                " ('b', 1.5, '2024-01-03')")
    r = con.sql(_SQL)
    yield r.columns, r.fetchall()
    con.close()


def _right():
    return [("b", 1, 1.5, dt.datetime(2024, 1, 3)),
            ("a", 2, 0.30000000000000004, dt.datetime(2024, 1, 1))]


def test_compare_accepts_reordered_rows_within_float_tolerance(oracle):
    cols, rows = oracle
    got = _right()
    got[1] = ("a", 2, 0.3, got[1][3])  # last-bit float difference
    assert checks.compare_result("q", ["g", "n", "s", "t"], got, cols, rows) == []


def test_compare_rejects_a_perturbed_aggregate(oracle):
    cols, rows = oracle
    got = _right()
    got[0] = ("b", 1, 1.5001, got[0][3])
    assert checks.compare_result("q", ["g", "n", "s", "t"], got, cols, rows)


def test_compare_rejects_a_wrong_count_type(oracle):
    cols, rows = oracle
    got = [(g, float(n), s, t) for g, n, s, t in _right()]
    assert checks.compare_result("q", ["g", "n", "s", "t"], got, cols, rows)


def test_compare_rejects_a_missing_row(oracle):
    cols, rows = oracle
    assert checks.compare_result("q", ["g", "n", "s", "t"], _right()[:1], cols, rows)


def test_compare_rejects_a_renamed_column(oracle):
    cols, rows = oracle
    assert checks.compare_result("q", ["g", "cnt", "s", "t"], _right(), cols, rows)


def test_compare_rejects_a_shifted_timestamp(oracle):
    cols, rows = oracle
    got = _right()
    got[1] = got[1][:3] + (dt.datetime(2024, 1, 1, 1),)
    assert checks.compare_result("q", ["g", "n", "s", "t"], got, cols, rows)


# ---------------------------------------------------------------------------
# dedup


@pytest.fixture(scope="module")
def corpus():
    docs, planted = gen.corpus(seed=7)
    texts = dict(docs)
    pairs = sorted({(min(a, b), max(a, b)) for a, b in planted
                    if checks._jaccard(texts[a], texts[b]) >= gen.DEDUP_THRESHOLD})
    return texts, planted, pairs


def test_corpus_is_seeded_and_sized():
    a, pa_ = gen.corpus(seed=7)
    b, pb = gen.corpus(seed=7)
    c, _ = gen.corpus(seed=8)
    assert a == b and pa_ == pb
    assert len(a) == len(c) and a != c
    assert len({d for d, _ in a}) == len(a)


def test_pairs_check_accepts_the_planted_pairs(corpus):
    texts, planted, pairs = corpus
    assert checks.check_pairs(pairs, texts, planted, gen.DEDUP_THRESHOLD, gen.DEDUP_FAR_ABOVE) == []


def test_pairs_check_rejects_a_missed_planted_pair(corpus):
    texts, planted, pairs = corpus
    must = next(p for p in pairs
                if checks._jaccard(texts[p[0]], texts[p[1]]) >= gen.DEDUP_FAR_ABOVE)
    less = [p for p in pairs if p != must]
    assert checks.check_pairs(less, texts, planted, gen.DEDUP_THRESHOLD, gen.DEDUP_FAR_ABOVE)


def test_pairs_check_rejects_a_dissimilar_pair(corpus):
    texts, planted, pairs = corpus
    ids = sorted(texts)
    stranger = next((a, b) for a, b in zip(ids, ids[1:])
                    if checks._jaccard(texts[a], texts[b]) < gen.DEDUP_THRESHOLD)
    assert checks.check_pairs(pairs + [stranger], texts, planted,
                              gen.DEDUP_THRESHOLD, gen.DEDUP_FAR_ABOVE)


def _labels(pairs):
    """Labels shaped like dedup_clusters output: paired docs only."""
    comp = checks.components({d for p in pairs for d in p}, pairs)
    return [(d, c, int(d == c)) for d, c in comp.items()]


def test_cluster_check_accepts_union_find_components(corpus):
    texts, _, pairs = corpus
    assert checks.check_clusters(_labels(pairs), list(texts), pairs) == []


def test_cluster_check_rejects_a_wrongly_merged_cluster(corpus):
    texts, _, pairs = corpus
    labels = _labels(pairs)
    roots = sorted({c for _, c, _ in labels})
    lo, hi = roots[0], roots[1]
    merged = [(d, lo if c == hi else c, int(d == (lo if c == hi else c))) for d, c, _ in labels]
    assert checks.check_clusters(merged, list(texts), pairs)


def test_cluster_check_rejects_a_split_cluster(corpus):
    texts, _, pairs = corpus
    labels = _labels(pairs)
    d, c, _ = next(x for x in labels if x[0] != x[1])
    split = [(x, x, 1) if x == d else (x, y, k) for x, y, k in labels]
    assert checks.check_clusters(split, list(texts), pairs)


def test_cluster_check_rejects_a_doc_in_two_clusters(corpus):
    texts, _, pairs = corpus
    labels = _labels(pairs)
    d, _, _ = next(x for x in labels if x[0] != x[1])
    assert checks.check_clusters(labels + [(d, d, 1)], list(texts), pairs)


# ---------------------------------------------------------------------------
# the benchmark definition


def test_benchmark_json_names_every_reported_metric():
    with open(os.path.join(run.REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END_UNITS)
    assert [m["unit"] for m in bench["end_to_end"]] == list(run.END_TO_END_UNITS.values())
    assert [m["name"] for m in bench["per_layer"]] == list(run.PER_LAYER)
    assert [m["unit"] for m in bench["per_layer"]] == [run.layer_unit(n) for n in run.PER_LAYER]
    assert [w["name"] for w in bench["workloads"]] == list(run.workloads.WORKLOADS)


def test_expected_row_types_follow_the_describe_types():
    log = gen.SyncLog(seed=1)
    log.base()
    row = gen.expected_row(next(iter(log.latest.values())))
    assert len(row[0]) == 18
    assert isinstance(row[1], dt.datetime) and isinstance(row[11], Decimal)
    assert isinstance(row[12], dt.date) and not isinstance(row[12], dt.datetime)
