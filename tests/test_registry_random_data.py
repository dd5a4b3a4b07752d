"""Randomized-DATA differential over the FULL oracle registry (r11).

test_differential.py proves Spark ≡ DuckDB for every registered query
on the ONE driver fixture at sf0.01. This module re-proves the entire
oracle registry on a freshly SYNTHESIZED seeded random dataset with
the same 10-table shape — different key distributions, different
duplicate/near-duplicate plantings, different skew, different
text/embedding content — so any query whose correctness silently
depends on a PROPERTY OF THE FIXTURE (a value that never ties, a
cluster that never chains, a group that never exceeds a cap) gets a
second, independent draw. Primary keys stay UNIQUE exactly like the
fixture (the determinism layer's total orders — e.g. window tiebreaks
on event_id — are contracts on the data model, not accidents), while
duplicate CONTENT (repeated doc text, near-identical embeddings) is
planted at random, which is how the real corpus carries duplicates.

Value domains (event types, market segments, vocab, label range)
mirror the fixture because registered queries filter on those
literals; distributions and cross-table references are random.

Default: one seed (wall-bounded); SPARK_GRAFT_DATA_SEED=<seed>
reproduces or explores.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

# r14 tiering (VERDICT r13 #2): multi-seed randomized sweep — slow
# tier, opt in with SPARK_GRAFT_SLOW=1 (run + recorded in COVERAGE.md
# each round).
pytestmark = pytest.mark.slow

from salesforce_postgresql_etl_spark.queries import registry
from salesforce_postgresql_etl_spark.sources import TABLES

from .differential import compare

_SEED = int(os.environ.get("SPARK_GRAFT_DATA_SEED", "9173"))
# Row-count multiplier for the generated tables (default 1 ≈ sf0.001
# magnitudes). A >1 sweep probes a DENSER regime: bigger near-dup
# chains, hotter blocks, larger (day,type) groups — the caps and
# tripwires see different pressure than at 1×.
_SCALE = float(os.environ.get("SPARK_GRAFT_DATA_SCALE", "1"))
# (r12) Adversarial-skew knob: 0 (default) keeps the moderate planted
# skew below; >0 concentrates every skewed dimension onto a SINGLE hot
# key at this probability (orders→one customer, events→one user,
# documents→one source, embeddings→one cluster). 0.9 is the
# adversarial sweep setting: ~90% of each table funnels through one
# key, the regime where salting paths, per-key caps, and AQE skew
# handling either hold or break. DuckDB stays the oracle either way.
_SKEW = float(os.environ.get("SPARK_GRAFT_DATA_SKEW", "0"))

_REG = registry()
# q_quantile_sketch's oracle hard-codes a 0.05 rank-error tolerance —
# valid at fixture densities (sf0.001 packs ~36 events per (day,type)
# group) but UNACHIEVABLE by any estimator, exact included, when a
# random draw makes groups smaller than 20 rows (the empirical CDF's
# own granularity is 1/n > 0.05; seed 9173 produces 70 groups all
# under 20). On random data it gets the granularity-aware assertion
# below instead of the fixed-tolerance compare. Everything else runs
# driver-strict.
_GRANULARITY_SENSITIVE = {"q_quantile_sketch"}
# Recall-limited-BY-DESIGN strategies get an algorithm-aware
# assertion on random data instead of strict equality: PRECISION must
# stay exact (every emitted pair is a true ≥θ pair with the oracle's
# cosine, as a canonical-row subset), recall is held to the floor the
# algorithm's own math supports. Values: (moderate_floor,
# adversarial_floor) — moderate applies at _SKEW == 0, adversarial
# when the skew knob is set. The driver-fixture differentials stay
# strict equality for both (planted duplicates sit at cosine ≈ 1
# where both algorithms' miss probabilities vanish).
#
# - q_semdedup: SemDeDup dedups within k-means clusters only; the
#   cluster-straddle caveat is pinned in tests/test_semdedup.py. At
#   SKEW=0.99, ~99% of vectors form ONE natural cluster that k=8
#   k-means must split; split-straddling pairs are invisible to any
#   within-cluster scan (measured: recall 0.901, precision 1.0, seed
#   9173; full recall(k) curve in SCALE.md r12).
#   Moderate floor 1.0 — no natural cluster is split at these
#   densities (the r11 twelve-dataset record); adversarial floor 0.8
#   — an implementation regression craters far below the measured
#   split-boundary loss.
# - q_neardup_embed_lsh: sign-plane banding recall is PROBABILISTIC
#   at every regime — a pair at exactly cos=θ=0.9 misses all 32
#   8-row bands w.p. (1-0.8564^8)^32 ≈ 1.7e-5. Invisible on the
#   fixture (planted dups at cosine ≈ 1) and on 1× random draws
#   (sub-1 expected misses), it surfaced at SCALE=3 + SKEW=0.9 where
#   one dense cluster carries 619,395 boundary-heavy pairs: 4 missed
#   (recall 0.9999935) — exactly the theoretical tail, not a band
#   bug. Floor 0.999 at both regimes (a geometry/banding regression
#   misses ~30%+, three orders of magnitude below the floor).
_RECALL_SENSITIVE = {
    "q_semdedup": (1.0, 0.8),
    "q_neardup_embed_lsh": (0.999, 0.999),
    # (r13, VERDICT r12 what's-wrong #2) The MinHash-banded twins carry
    # the same analytic miss tail as the sign-plane LSH, now MEASURED
    # at a constructed boundary-mass regime instead of asserted by
    # absence (tests/minhash_boundary_recall.py: pairs at J=theta
    # exactly; words r8/b8 theta=0.95 -> 11 misses/50k vs E=8.2;
    # char5 r4/b16 theta=0.8 -> 5 misses/30k vs E=6.5 — both within
    # Poisson of the band math (1-theta^r)^b). A random draw with
    # boundary-Jaccard mass would show that tail, so these hold the
    # same precision-exact + recall-floor contract as embed_lsh; the
    # driver-graded fixture differentials stay hash-exact.
    "q_neardup_minhash": (0.999, 0.999),
    "q_neardup_ngram_lsh": (0.999, 0.999),
}
_SQL_NAMES = sorted(
    n
    for n, q in _REG.items()
    if q.oracle is not None
    and n not in _GRANULARITY_SENSITIVE
    and n not in _RECALL_SENSITIVE
)
_ROWS_NAMES = sorted(n for n, q in _REG.items() if q.oracle is None)

_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash "
    "join key line merge order part query row scan slow small sort "
    "spark stream table the value vector window"
).split()
_ETYPES = ["click", "view", "purchase", "signup", "error"]
_SEGS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "PROMO", "STANDARD", "SMALL", "LARGE"]
_PNAMES = ["cold", "small", "large", "hot", "dim"]
_PNOUNS = ["widget", "bolt", "gear", "cog", "tube"]
_EMB_DIM = 64


def _ev_user(rng: random.Random) -> int:
    """Event user draw: moderate planted skew by default (3 hot users
    at 40%), one adversarially hot user (id 0) at rate _SKEW when the
    skew knob is set."""
    if _SKEW > 0 and rng.random() < _SKEW:
        return 0
    return rng.randrange(3) if rng.random() < 0.4 else rng.randrange(15)


def _ts(rng, y0=1996, y1=2002):
    base = dt.datetime(y0, 1, 1)
    return base + dt.timedelta(days=rng.uniform(0, (y1 - y0) * 365.0))


def _gen_dataset(rng: random.Random, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)

    def write(name, cols: dict, types: dict):
        arrays = {
            c: pa.array(v, type=types.get(c)) for c, v in cols.items()
        }
        pq.write_table(pa.table(arrays), f"{out_dir}/{name}.parquet")

    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts_us = pa.timestamp("us")

    write(
        "region",
        {"r_regionkey": list(range(5)), "r_name": _REGIONS},
        {"r_regionkey": i32, "r_name": s},
    )
    n_nation = 25
    write(
        "nation",
        {
            "n_nationkey": list(range(n_nation)),
            "n_name": [f"NATION_{i}" for i in range(n_nation)],
            "n_regionkey": [rng.randrange(5) for _ in range(n_nation)],
        },
        {"n_nationkey": i32, "n_name": s, "n_regionkey": i32},
    )
    n_cust = rng.randint(int(120 * _SCALE), int(220 * _SCALE))
    write(
        "customer",
        {
            "c_custkey": list(range(n_cust)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": [rng.randrange(n_nation) for _ in range(n_cust)],
            "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_cust)],
            "c_mktsegment": [rng.choice(_SEGS) for _ in range(n_cust)],
        },
        {"c_custkey": i64, "c_name": s, "c_nationkey": i32,
         "c_acctbal": f64, "c_mktsegment": s},
    )
    n_supp = rng.randint(int(8 * _SCALE), int(16 * _SCALE))
    write(
        "supplier",
        {
            "s_suppkey": list(range(n_supp)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": [rng.randrange(n_nation) for _ in range(n_supp)],
            "s_acctbal": [round(rng.uniform(0, 9999), 2) for _ in range(n_supp)],
        },
        {"s_suppkey": i64, "s_name": s, "s_nationkey": i32, "s_acctbal": f64},
    )
    n_part = rng.randint(int(150 * _SCALE), int(260 * _SCALE))
    write(
        "part",
        {
            "p_partkey": list(range(n_part)),
            "p_name": [
                f"{rng.choice(_PNAMES)} {rng.choice(_PNOUNS)}"
                for _ in range(n_part)
            ],
            "p_brand": [f"Brand#{rng.randrange(1, 26)}" for _ in range(n_part)],
            "p_type": [rng.choice(_PTYPES) for _ in range(n_part)],
            "p_size": [rng.randrange(1, 51) for _ in range(n_part)],
            "p_retailprice": [round(900 + 0.1 * i, 2) for i in range(n_part)],
        },
        {"p_partkey": i64, "p_name": s, "p_brand": s, "p_type": s,
         "p_size": i32, "p_retailprice": f64},
    )
    # SKEWED order distribution: a few hot customers hold many orders
    # (or, adversarially, ONE customer holds _SKEW of all orders)
    n_ord = rng.randint(int(1200 * _SCALE), int(1800 * _SCALE))
    hot_custs = rng.sample(range(n_cust), 1 if _SKEW > 0 else 3)
    hot_p = _SKEW if _SKEW > 0 else 0.25
    custs = [
        rng.choice(hot_custs) if rng.random() < hot_p else rng.randrange(n_cust)
        for _ in range(n_ord)
    ]
    write(
        "orders",
        {
            "o_orderkey": list(range(n_ord)),
            "o_custkey": custs,
            "o_orderstatus": [rng.choice("OFP") for _ in range(n_ord)],
            "o_totalprice": [round(rng.uniform(900, 450000), 2) for _ in range(n_ord)],
            "o_orderdate": [
                _ts(rng).replace(hour=0, minute=0, second=0, microsecond=0)
                for _ in range(n_ord)
            ],
            "o_orderpriority": [rng.choice(_PRIOS) for _ in range(n_ord)],
        },
        {"o_orderkey": i64, "o_custkey": i64, "o_orderstatus": s,
         "o_totalprice": f64, "o_orderdate": ts_us, "o_orderpriority": s},
    )
    # lineitem: 1–7 lines per order drawn for a subset of orders;
    # (l_orderkey, l_linenumber) unique like the fixture
    lk, ln, lp, lsup, lq, lep, ldisc, ltax, lrf, lls, lsd = (
        [], [], [], [], [], [], [], [], [], [], []
    )
    for ok in range(n_ord):
        for line in range(1, rng.randint(1, 7) + 1):
            if rng.random() < 0.4:
                continue
            lk.append(ok)
            ln.append(line)
            lp.append(rng.randrange(n_part))
            lsup.append(rng.randrange(n_supp))
            lq.append(float(rng.randrange(1, 51)))
            lep.append(round(rng.uniform(900, 100000), 2))
            ldisc.append(round(rng.uniform(0, 0.1), 2))
            ltax.append(round(rng.uniform(0, 0.08), 2))
            lrf.append(rng.choice("RNA"))
            lls.append(rng.choice("FO"))
            lsd.append(
                _ts(rng).replace(hour=0, minute=0, second=0, microsecond=0)
            )
    write(
        "lineitem",
        {
            "l_orderkey": lk, "l_partkey": lp, "l_suppkey": lsup,
            "l_linenumber": ln, "l_quantity": lq, "l_extendedprice": lep,
            "l_discount": ldisc, "l_tax": ltax, "l_returnflag": lrf,
            "l_linestatus": lls, "l_shipdate": lsd,
        },
        {"l_orderkey": i64, "l_partkey": i64, "l_suppkey": i64,
         "l_linenumber": i32, "l_quantity": f64, "l_extendedprice": f64,
         "l_discount": f64, "l_tax": f64, "l_returnflag": s,
         "l_linestatus": s, "l_shipdate": ts_us},
    )
    # events: unique event_id, skewed users, bursty sessions
    n_ev = rng.randint(int(800 * _SCALE), int(1400 * _SCALE))
    t = dt.datetime(2024, 1, 1)
    ev_ts = []
    for _ in range(n_ev):
        t += dt.timedelta(minutes=rng.uniform(0.2, 45))
        ev_ts.append(t)
    write(
        "events",
        {
            "event_id": list(range(n_ev)),
            "ts": ev_ts,
            "user_id": [_ev_user(rng) for _ in range(n_ev)],
            "event_type": [rng.choice(_ETYPES) for _ in range(n_ev)],
            "value": [round(rng.uniform(0, 200), 2) for _ in range(n_ev)],
            "props": [
                json.dumps({"k": rng.randrange(100)}) for _ in range(n_ev)
            ],
        },
        {"event_id": i64, "ts": ts_us, "user_id": i64, "event_type": s,
         "value": f64, "props": s},
    )
    # documents: unique doc_id; ~6% exact text duplicates, ~12% near
    # duplicates (1–2 token edits), rest fresh word-salad
    n_doc = rng.randint(int(400 * _SCALE), int(650 * _SCALE))
    texts: list[str] = []
    for _ in range(n_doc):
        r = rng.random()
        if texts and r < 0.06:
            texts.append(rng.choice(texts))  # exact duplicate
        elif texts and r < 0.18:
            toks = rng.choice(texts).split()
            for _e in range(rng.randint(1, 2)):
                toks[rng.randrange(len(toks))] = rng.choice(_VOCAB)
            texts.append(" ".join(toks))  # near duplicate
        else:
            texts.append(
                " ".join(
                    rng.choice(_VOCAB) for _ in range(rng.randint(8, 22))
                )
            )
    write(
        "documents",
        {
            "doc_id": list(range(n_doc)),
            "text": texts,
            "lang": [rng.choice(["en", "es", "de", "fr", "zh"]) for _ in range(n_doc)],
            "source": [
                f"src{0 if _SKEW > 0 and rng.random() < _SKEW else rng.randrange(20)}"
                for _ in range(n_doc)
            ],
            "n_chars": [rng.randint(47, 558) for _ in range(n_doc)],
        },
        {"doc_id": i64, "text": s, "lang": s, "source": s, "n_chars": i64},
    )
    # embeddings: 10 random cluster centers + noise, L2-normalized,
    # label = cluster; ~8% near-duplicate vectors (tiny perturbations)
    centers = [
        [rng.gauss(0, 1) for _ in range(_EMB_DIM)] for _ in range(10)
    ]
    n_vec = rng.randint(int(380 * _SCALE), int(600 * _SCALE))
    vecs, labels = [], []
    for _ in range(n_vec):
        if vecs and rng.random() < 0.08:
            src = rng.randrange(len(vecs))
            v = [x + rng.gauss(0, 0.002) for x in vecs[src]]
            labels.append(labels[src])
        else:
            if _SKEW > 0 and rng.random() < _SKEW:
                lab = 0  # adversarially hot cluster
            else:
                lab = rng.randrange(10)
            v = [c + rng.gauss(0, 0.35) for c in centers[lab]]
            labels.append(lab)
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        vecs.append([x / norm for x in v])
    write(
        "embeddings",
        {
            "vec_id": list(range(n_vec)),
            "embedding": [[float(x) for x in v] for v in vecs],
            "label": labels,
        },
        {"vec_id": i64, "embedding": pa.list_(pa.float32()), "label": i32},
    )


@pytest.fixture(scope="module")
def rnd_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp(f"rnd_data_{_SEED}"))
    _gen_dataset(random.Random(_SEED), d)
    return d


@pytest.fixture(scope="module")
def duck_rnd(rnd_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{rnd_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", _SQL_NAMES)
def test_oracle_match_random_data(name, spark, duck_rnd, rnd_dir):
    q = _REG[name]
    df = q.fn(spark, rnd_dir)
    try:
        compare(df, duck_rnd, q.oracle, name=f"{name}[seed={_SEED}]")
    except AssertionError as e:
        raise AssertionError(
            f"{e} (reproduce with SPARK_GRAFT_DATA_SEED={_SEED})"
        ) from e


@pytest.mark.parametrize("name", _ROWS_NAMES)
def test_rows_only_runs_random_data(name, spark, rnd_dir):
    q = _REG[name]
    df = q.fn(spark, rnd_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_quantile_sketch_granularity_aware(spark, rnd_dir):
    """q_quantile_sketch on random data: the fixed 0.05 tolerance in
    the registered oracle presumes fixture-density groups (see
    _GRANULARITY_SENSITIVE above), so here the KLL cascade is held to
    the bound an estimator can actually meet on ANY group size —
    rank error ≤ 0.05 + 1/n_group (at k=800 the sketch is exact for
    these group sizes; the 1/n term is the empirical CDF's own step)."""
    from pyspark.sql import functions as F

    from salesforce_postgresql_etl_spark.operators.sketch import (
        quantile_cascade,
    )
    from salesforce_postgresql_etl_spark.sources import load

    e = load(spark, rnd_dir, "events").select("ts", "event_type", "value")
    est = quantile_cascade(e, dim="event_type", qs=(0.5, 0.9))
    raw = e.select(
        F.date_trunc("day", "ts").alias("day"), "event_type", "value"
    )
    rows = (
        raw.join(est, ["day", "event_type"])
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.when(F.col("value") <= F.col("q50_est"), 1).otherwise(0))
                / F.count(F.lit(1))
            ).alias("r50"),
            (
                F.sum(F.when(F.col("value") <= F.col("q90_est"), 1).otherwise(0))
                / F.count(F.lit(1))
            ).alias("r90"),
        )
        .collect()
    )
    assert rows, "no (day, type) groups"
    for r in rows:
        bound = 0.05 + 1.0 / r.n
        for rank, q in ((r.r50, 0.5), (r.r90, 0.9)):
            assert abs(rank - q) <= bound, (
                f"day={r.day} type={r.event_type} n={r.n}: rank {rank:.3f} "
                f"vs q={q} exceeds granularity-aware bound {bound:.3f} "
                f"(reproduce with SPARK_GRAFT_DATA_SEED={_SEED})"
            )


@pytest.mark.parametrize("name", sorted(_RECALL_SENSITIVE))
def test_precision_exact_recall_aware(name, spark, duck_rnd, rnd_dir):
    """Recall-limited strategies on random data: algorithm-aware
    differential (see _RECALL_SENSITIVE above). Precision is held
    EXACT — every pair Spark emits must appear in the brute oracle's
    ≥θ pair set with the identical canonical rendering (same ids,
    same quantized cosine). Recall is held to the floor the
    algorithm's own math supports for the regime; an implementation
    regression (dropped clusters, broken banding) craters recall far
    below either floor."""
    from .differential import _canon_pdf, canon_hash

    q = _REG[name]
    spark_pdf = q.fn(spark, rnd_dir).toPandas()
    duck_pdf = duck_rnd.sql(q.oracle).df()
    _, s_rows = canon_hash(_canon_pdf(spark_pdf, f"{name}/spark"))
    _, d_rows = canon_hash(_canon_pdf(duck_pdf, f"{name}/duck"))
    d_set = set(d_rows)
    assert len(d_rows) == len(d_set), "oracle emitted duplicate pairs"
    false_pos = [r for r in s_rows if r not in d_set]
    assert not false_pos, (
        f"[{name}] precision break: {len(false_pos)} Spark pairs not "
        f"in the brute oracle set, first: {false_pos[:2]} "
        f"(reproduce with SPARK_GRAFT_DATA_SEED={_SEED})"
    )
    # (r13, r12 ADVICE) duplicate Spark-emitted pairs would inflate
    # len(s_rows)/len(d_rows) and are invisible to the precision check
    # (each dup IS in d_set) — require uniqueness like the oracle side,
    # and compute recall over the distinct intersection.
    assert len(s_rows) == len(set(s_rows)), (
        f"[{name}] Spark emitted duplicate pairs "
        f"(reproduce with SPARK_GRAFT_DATA_SEED={_SEED})"
    )
    moderate, adversarial = _RECALL_SENSITIVE[name]
    floor = adversarial if _SKEW > 0 else moderate
    recall = len(set(s_rows) & d_set) / len(d_set) if d_rows else 1.0
    assert recall >= floor, (
        f"[{name}] recall {recall:.6f} below floor {floor} "
        f"({len(s_rows)}/{len(d_rows)} pairs; skew={_SKEW}; "
        f"reproduce with SPARK_GRAFT_DATA_SEED={_SEED})"
    )
