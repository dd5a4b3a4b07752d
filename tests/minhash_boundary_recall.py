"""MinHash-banded twins: recall at a boundary-mass regime (not
collected by pytest — run directly).

VERDICT r12 what's-wrong #2: the sign-plane cosine LSH's analytic miss
tail was only VISIBLE once a regime with boundary-pair mass was
constructed (4/619k misses at 3x-dense+0.9-skew); the four
MinHash-banded twins (q_neardup_minhash, q_neardup_cross_lsh,
q_neardup_clusters_lsh, q_neardup_ngram_lsh) carry the same class of
tail in principle but had never measurably missed — an adversarial
random draw away from a confusing sweep red. This script constructs
the regime DELIBERATELY, mirroring the SemDeDup skew-recall curve's
method (SCALE.md r12): a seeded corpus whose true pairs sit EXACTLY at
the Jaccard threshold, where the banding miss probability is maximal
and analytic.

Banding math. With r rows/band and b bands, a pair at Jaccard J
collides in a given band w.p. J^r, so the per-pair MISS probability is
q = (1 - J^r)^b. At the boundary J = theta:

- words regime (theta=0.95, 64 hashes, b=8, r=8 — the registered
  q_neardup_minhash / cross / clusters parameters):
  q = (1 - 0.95^8)^8 = 1.65e-4
- char5 regime (theta=0.8, 64 hashes, b=16, r=4 — the registered
  q_neardup_ngram_lsh parameters):
  q = (1 - 0.8^4)^16 = 2.18e-4

Corpus construction puts EVERY true pair at J = theta exactly:

- words: per group g, doc A = 38 shared + 1 unique group-namespaced
  tokens, doc B = the same 38 shared + 1 other unique -> J = 38/40
  = 0.95 exactly; disjoint token namespaces across groups make every
  cross-group Jaccard 0.
- char5: doc A = 94 chars drawn from a large alphabet, doc B =
  A[:84] + 10 fresh chars -> 80 shared / 90+90-80 distinct 5-gram
  shingles, J = 80/100 = 0.8 (up to negligible random shingle
  collisions, which only RAISE J).

Truth is computed exactly per constructed pair (a pair-id join plus
exact Jaccard — P rows, never n^2), so shingle-collision edge cases
can't contaminate the denominator. Precision is asserted exact
(emitted is a subset of truth: the operators end in an exact-Jaccard
verify, so anything else would mean a cross-group pair truly reached
theta). Misses are compared to the Binomial(P, q) expectation with a
generous 99.9%-ish upper bound — a banding implementation regression
(wrong band hash, dropped band, broken candidate join) misses
ORDERS OF MAGNITUDE more than q and craters through any such bound.

The clusters twin consumes the words-regime minhash pair set, so its
miss geometry IS that run's: asserted by exact reconciliation
(clusters found == truth pairs - missed pairs, every cluster size 2).

Usage:  python tests/minhash_boundary_recall.py [pairs_words] [pairs_char5] [seed]
Prints one JSON line; paste the numbers into SCALE.md's banded-recall
section.
"""

from __future__ import annotations

import json
import math
import os
import random
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

THETA_WORDS = 0.95  # == queries.llm.NEARDUP_THRESHOLD
THETA_CHAR5 = 0.8  # == queries.llm_ext.NGRAM_THETA

from pyspark.sql import functions as F  # noqa: E402

from salesforce_postgresql_etl_spark.operators.clustering import (  # noqa: E402
    dedup_clusters,
)
from salesforce_postgresql_etl_spark.operators.dedup import (  # noqa: E402
    neardup_pairs,
    neardup_pairs_cross,
    token_sets,
)
from salesforce_postgresql_etl_spark.session import get_spark  # noqa: E402


def miss_prob(theta: float, r: int, b: int) -> float:
    return (1.0 - theta**r) ** b


def upper_bound(expected: float) -> int:
    """Generous Poisson-ish 99.9% upper bound on miss count: mean plus
    six sigma plus a small-count floor. A broken banding path misses
    10-100% of pairs and blows through this regardless of P."""
    return int(math.ceil(expected + 6.0 * math.sqrt(max(expected, 1.0)) + 3))


def words_corpus(n_pairs: int):
    """Rows (doc_id, text): pair g = docs (2g, 2g+1), 39 word tokens
    each, 38 shared -> Jaccard exactly 38/40 = 0.95."""
    rows = []
    for g in range(n_pairs):
        shared = " ".join(f"g{g}s{i}" for i in range(38))
        rows.append((2 * g, f"{shared} g{g}ua"))
        rows.append((2 * g + 1, f"{shared} g{g}ub"))
    return rows


def char5_corpus(n_pairs: int, rng: random.Random):
    """Rows (doc_id, text): pair g = docs (2g, 2g+1); B replaces A's
    last 10 of 94 chars -> 80 shared of 90 5-gram shingles each,
    Jaccard 80/100 = 0.8 (exact up to negligible random collisions,
    which only raise J; truth is recomputed exactly anyway)."""
    alpha = [chr(c) for c in range(0x4E00, 0x4E00 + 4000)]
    rows = []
    for g in range(n_pairs):
        a = "".join(rng.choice(alpha) for _ in range(94))
        b = a[:84] + "".join(rng.choice(alpha) for _ in range(10))
        rows.append((2 * g, a))
        rows.append((2 * g + 1, b))
    return rows


def exact_truth(spark, docs, tokenizer: str, theta: float):
    """The constructed pairs' EXACT Jaccard — a P-row pair-id join,
    never n^2. Returns (truth_set, n_below) where n_below counts
    constructed pairs that fell below theta (expected 0)."""
    tok = token_sets(docs, tokenizer=tokenizer)
    a = tok.where(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") / 2).cast("long").alias("g"),
        F.col("doc_id").alias("doc_a"),
        F.col("t").alias("t_a"),
    )
    b = tok.where(F.col("doc_id") % 2 == 1).select(
        ((F.col("doc_id") - 1) / 2).cast("long").alias("g"),
        F.col("doc_id").alias("doc_b"),
        F.col("t").alias("t_b"),
    )
    inter = F.size(F.array_intersect("t_a", "t_b"))
    union = F.size("t_a") + F.size("t_b") - inter
    j = inter.cast("double") / union.cast("double")
    got = (
        a.join(b, "g")
        .select("doc_a", "doc_b", j.alias("jaccard"))
        .collect()
    )
    truth = {(r.doc_a, r.doc_b) for r in got if r.jaccard >= theta}
    return truth, len(got) - len(truth)


def pairset(df):
    return {
        (min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b)) for r in df.collect()
    }


def main() -> None:
    # argv parsed here, not at import time — test_minhash_boundary.py
    # imports the corpus builders under pytest's own argv
    p_words = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    p_char5 = int(sys.argv[2]) if len(sys.argv) > 2 else 30_000
    seed = int(sys.argv[3]) if len(sys.argv) > 3 else 41957
    spark = get_spark(
        app_name="minhash-boundary-recall",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=16,
    )
    rng = random.Random(seed)
    result: dict = {"seed": seed, "regimes": {}}

    # ---- words regime: minhash self-join + cross + clusters ----
    docs_w = spark.createDataFrame(
        words_corpus(p_words), ["doc_id", "text"]
    ).repartition(16)
    truth_w, below_w = exact_truth(spark, docs_w, "words", THETA_WORDS)
    assert below_w == 0, f"words: {below_w} constructed pairs below theta"
    assert len(truth_w) == p_words
    q_w = miss_prob(THETA_WORDS, r=8, b=8)
    exp_w = len(truth_w) * q_w
    ub_w = upper_bound(exp_w)

    emitted = pairset(
        neardup_pairs(
            docs_w, threshold=THETA_WORDS, strategy="minhash", persist=True
        )
    )
    fp = emitted - truth_w
    assert not fp, f"words/minhash precision break: {sorted(fp)[:3]}"
    miss_self = len(truth_w) - len(emitted)
    assert miss_self <= ub_w, (
        f"words/minhash: {miss_self} misses vs analytic E={exp_w:.1f} "
        f"(bound {ub_w}) — banding regression, not the tail"
    )

    # clusters twin: pure function of the SAME pair set — reconcile
    clusters = dedup_clusters(
        neardup_pairs(
            docs_w, threshold=THETA_WORDS, strategy="minhash", persist=True
        ).select("doc_a", "doc_b")
    )
    n_clusters = clusters.select("cluster_id").distinct().count()
    n_members = clusters.count()
    assert n_clusters == len(truth_w) - miss_self, (
        f"clusters twin: {n_clusters} clusters vs "
        f"{len(truth_w) - miss_self} found pairs"
    )
    assert n_members == 2 * n_clusters, "non-pair cluster on pair corpus"
    spark.catalog.clearCache()

    # cross twin: same corpus split A-side/B-side — all P pairs bipartite
    new_b = docs_w.where(F.col("doc_id") % 2 == 0)
    corp = docs_w.where(F.col("doc_id") % 2 == 1)
    emitted_x = pairset(
        neardup_pairs_cross(
            new_b, corp, threshold=THETA_WORDS, strategy="minhash",
            persist=True,
        )
    )
    fp = emitted_x - truth_w
    assert not fp, f"words/cross precision break: {sorted(fp)[:3]}"
    miss_cross = len(truth_w) - len(emitted_x)
    assert miss_cross <= ub_w, (
        f"words/cross: {miss_cross} misses vs analytic E={exp_w:.1f} "
        f"(bound {ub_w})"
    )
    spark.catalog.clearCache()

    result["regimes"]["words"] = {
        "theta": THETA_WORDS,
        "r": 8,
        "b": 8,
        "pairs": len(truth_w),
        "miss_prob_per_pair": round(q_w, 8),
        "expected_misses": round(exp_w, 2),
        "upper_bound": ub_w,
        "observed_misses_minhash": miss_self,
        "observed_misses_cross": miss_cross,
        "clusters_reconciled": n_clusters,
        "recall_minhash": round(1 - miss_self / len(truth_w), 6),
        "recall_cross": round(1 - miss_cross / len(truth_w), 6),
    }
    print(f"# words: misses self={miss_self} cross={miss_cross} "
          f"E={exp_w:.1f} ub={ub_w}", file=sys.stderr)

    # ---- char5 regime: the ngram_lsh banding (r=4, b=16) ----
    docs_c = spark.createDataFrame(
        char5_corpus(p_char5, rng), ["doc_id", "text"]
    ).repartition(16)
    truth_c, below_c = exact_truth(spark, docs_c, "char5", THETA_CHAR5)
    assert below_c == 0, f"char5: {below_c} constructed pairs below theta"
    q_c = miss_prob(THETA_CHAR5, r=4, b=16)
    exp_c = len(truth_c) * q_c
    ub_c = upper_bound(exp_c)

    emitted_c = pairset(
        neardup_pairs(
            docs_c, threshold=THETA_CHAR5, strategy="minhash",
            n_hashes=64, bands=16, tokenizer="char5", persist=True,
        )
    )
    fp = emitted_c - truth_c
    assert not fp, f"char5/ngram_lsh precision break: {sorted(fp)[:3]}"
    miss_c = len(truth_c) - len(emitted_c)
    assert miss_c <= ub_c, (
        f"char5/ngram_lsh: {miss_c} misses vs analytic E={exp_c:.1f} "
        f"(bound {ub_c})"
    )
    spark.catalog.clearCache()

    result["regimes"]["char5"] = {
        "theta": THETA_CHAR5,
        "r": 4,
        "b": 16,
        "pairs": len(truth_c),
        "miss_prob_per_pair": round(q_c, 8),
        "expected_misses": round(exp_c, 2),
        "upper_bound": ub_c,
        "observed_misses": miss_c,
        "recall": round(1 - miss_c / len(truth_c), 6),
    }
    print(f"# char5: misses={miss_c} E={exp_c:.1f} ub={ub_c}",
          file=sys.stderr)

    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
