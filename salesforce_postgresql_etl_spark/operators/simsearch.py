"""Similarity search over embedding columns (SURVEY.md §2.11 L3, L8).

Cosine top-k with two strategies behind one function:

- ``strategy="brute"``: query × corpus cross join, exact cosine, top-k
  per query via a partitioned window. The baseline and oracle form.
- ``strategy="ivf"``: IVF-style coarse quantization. Partition
  centroids come from the ``label`` column (the fixture's natural
  cluster id — a production build would k-means them); each query
  probes only its ``nprobe`` nearest centroids' inverted lists. With
  ``nprobe = n_labels`` the search space degenerates to the full
  corpus and the result EQUALS brute force (the pytest asserts this);
  smaller nprobe trades recall for a 1/nprobe scan-cost cut, which is
  the 100 TB path (the inverted lists are just partition pruning on a
  label-partitioned parquet layout — only probed partitions are read).

Determinism doctrine: dot products and norms are summed in DECIMAL
(float32 → exact double → decimal(12,7) per element; products at
scale 14) so the fold order never matters; the final
``dot / (sqrt(n_a)·sqrt(n_b))`` is a fixed sequence of correctly-
rounded IEEE double ops — bit-identical in Spark and DuckDB.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from ..session import persist_once

from ..functions import dec_to_double

# Element/accumulator decimal shapes: values in [-1, 1], products at
# scale 14 — |sum| ≤ 64 ⇒ scaled bigint ≤ 6.4e15 < 2^63.
_ELEM = "decimal(12,7)"
_ACC = "decimal(26,14)"


def _dot_dec_sum(a: Column, b: Column) -> Column:
    """Exact decimal dot-product SUM (decimal(26,14)) via the
    interpreted sequential fold. Decimal addition is exact, so the sum
    is order-independent; this is the always-correct generic form."""
    prods = F.zip_with(
        a, b, lambda x, y: x.cast("double").cast(_ELEM) * y.cast("double").cast(_ELEM)
    )
    return F.aggregate(
        prods,
        F.lit(0).cast(_ACC),
        lambda acc, x: (acc + x).cast(_ACC),
    )


def _dot_dec(a: Column, b: Column) -> Column:
    """Exact decimal dot product of two float arrays, as double.

    float32 → DOUBLE first (exact widening in every engine), THEN
    decimal: a direct float→decimal cast scales in float precision in
    DuckDB (±1 ulp at the target scale on ~half the values) while
    Spark rounds the shortest float repr — the double hop makes both
    engines round the same exact value.

    Measured r13 note: a dim-unrolled codegen chain was tried here and
    bought NOTHING at steady state (1.88 s → 1.81 s on 20k pair rows)
    while adding ~0.8 s of analyzer/codegen cost per plan build — the
    per-element BigDecimal work dominates either way. The fold stays;
    hot paths avoid decimal per-pair work instead (``topk_cosine``'s
    margin-proved rough shortlist, ``_exact_cosine``'s double
    prefilter).
    """
    # prec=18: |dot| ≤ 64 needs only 2 int digits; keeps the ×10¹⁴
    # intermediate under both engines' 38-digit decimal cap.
    return dec_to_double(_dot_dec_sum(a, b), 14, prec=18)


def _sq_norm_dec(a: Column) -> Column:
    return _dot_dec(a, a)


def with_sq_norm(emb: DataFrame, vec: str = "embedding") -> DataFrame:
    return emb.withColumn("sq_norm", _sq_norm_dec(F.col(vec)))


# Power-of-two quantizer for float sums: v·2⁴⁰ is EXACT in double
# (power-of-two multiply), floor is unambiguous everywhere (no decimal
# half-boundary cases), and the resulting bigints sum exactly in any
# order. Mean = (Σ/2⁴⁰)/n — two correctly-rounded double ops.
POW2_Q = 2**40


def mean_q40(val: Column) -> Column:
    """Order-independent mean of a float column at 2^-40 quantization."""
    scaled = F.floor(val.cast("double") * F.lit(float(POW2_Q)))
    return (F.sum(scaled).cast("double") / F.lit(float(POW2_Q))) / F.count(F.lit(1))


def sql_mean_q40(val_sql: str) -> str:
    return (
        f"(CAST(SUM(CAST(floor(CAST({val_sql} AS DOUBLE) * {POW2_Q}) AS BIGINT))"
        f" AS DOUBLE) / {POW2_Q}.0) / COUNT(*)"
    )


def label_centroids(emb: DataFrame, vec: str = "embedding") -> DataFrame:
    """Per-label centroid as an ordered array (order-independent mean).

    This is also the L8 operator: posexplode → exact scaled-integer sum
    per (label, pos) → mean in double → re-assembled ordered array.
    """
    pos = emb.select(
        "label", F.posexplode(vec).alias("pos", "val")
    )
    per_dim = pos.groupBy("label", "pos").agg(
        mean_q40(F.col("val")).alias("c_val")
    )
    return per_dim.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c_val"))),
            lambda s: s.getField("c_val"),
        ).alias("centroid")
    )


# ---------------------------------------------------------------------------
# Embedding near-dup: all pairs with cosine ≥ threshold (SURVEY §2.11 L2c)
# ---------------------------------------------------------------------------
# Sign-plane defaults: 256 Rademacher hyperplanes in 32 bands of r=8.
# P(bit match | cosine s) = 1 − arccos(s)/π, so with r=8/b=32 the miss
# probability per TRUE pair is (1 − p⁸)³² ≈ 2e-5 at s=0.9 and 2e-8 at
# s=0.95, while an orthogonal pair (p=0.5) becomes a candidate with
# probability 1 − (1 − 0.5⁸)³² ≈ 0.118 — an ~8× pair-space cut that
# deepens as corpus similarity mass thins out (real corpora are far
# sparser in the ≥0.9 shell than the adversarial fixtures).
DEFAULT_N_PLANES = 256
DEFAULT_PLANE_BANDS = 32


def _rademacher_planes(dim: int, n_planes: int) -> list[tuple[int, list[float]]]:
    """Deterministic ±1 hyperplanes: component j of plane i is the low
    bit of md5("i:j"). No RNG state — identical planes across sessions,
    retries, and partitionings by construction (the repo's determinism
    doctrine forbids seed-from-clock randomness)."""
    out = []
    for i in range(n_planes):
        signs = [
            1.0
            if int(hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:8], 16) & 1
            else -1.0
            for j in range(dim)
        ]
        out.append((i, signs))
    return out


def _sign_band_rows_arrow(
    base: DataFrame, dim: int, n_planes: int, bands: int
) -> DataFrame:
    """(vid, band, bh) sign-plane LSH bucket rows through ONE Arrow
    crossing (r13, guide §4.2): the projection is a dense
    (n × dim) · (dim × n_planes) multiply — exactly the shape where
    batched native code beats row-at-a-time JVM expression evaluation.
    The interpreted ``F.aggregate`` fold profiled at 2.8 s of the
    5.7 s sf0.1 bench entry (512k × 64-element lambda interpretations);
    this path does the same arithmetic in vectorized float64 and also
    deletes the plane-matrix broadcast cross join AND the
    (vid, band) banding shuffle — the band hashes leave the worker
    already packed.

    Bit-exactness contract (what makes this a pure optimization):
    - accumulation replays the fold's exact IEEE op sequence — float32
      widened to float64 (exact), one multiply per element against the
      ±1.0 plane component (exact sign flip), one add per element in
      ascending dimension order starting from +0.0 — so every dot is
      bit-identical to the JVM fold's and every sign bit matches;
    - ``dot >= 0.0`` replicates Spark's NaN-largest comparison
      semantics via ``(acc >= 0) | isnan(acc)``;
    - rows the JVM path would emit with a NULL band hash (null array,
      null element, length ≠ dim — zip_with pads with null, nulling
      the fold) are simply not emitted: a NULL bh never matches the
      inner (band, bh) equi-join, so the candidate set is identical.
    """
    r = n_planes // bands
    signs = [s for _, s in _rademacher_planes(dim, n_planes)]
    vid_t = base.schema["vid"].dataType.simpleString()

    def project(batches):
        import numpy as np
        import pyarrow as pa

        S = np.asarray(signs, dtype=np.float64)  # (n_planes, dim)
        shifts = np.arange(n_planes, dtype=np.int64) % r
        band_ids = np.arange(bands, dtype=np.int64)
        for batch in batches:
            vid, e = batch.column(0), batch.column(1)
            if len(e) == 0:
                continue
            lengths = e.value_lengths().to_numpy(zero_copy_only=False)
            ok = e.is_valid().to_numpy(zero_copy_only=False).astype(bool)
            ok &= lengths == dim
            idx = np.flatnonzero(ok)
            if idx.size == 0:
                continue
            flat = e.take(pa.array(idx)).flatten()
            if flat.null_count:
                elem_ok = (
                    flat.is_valid()
                    .to_numpy(zero_copy_only=False)
                    .astype(bool)
                    .reshape(-1, dim)
                    .all(axis=1)
                )
                idx = idx[np.flatnonzero(elem_ok)]
                if idx.size == 0:
                    continue
                flat = e.take(pa.array(idx)).flatten()
            E = flat.to_numpy(zero_copy_only=False).astype(np.float64).reshape(-1, dim)
            m = E.shape[0]
            acc = np.zeros((m, n_planes), dtype=np.float64)
            for j in range(dim):  # ascending-dim adds = the fold's order
                acc += E[:, j][:, None] * S[:, j][None, :]
            bits = (acc >= 0.0) | np.isnan(acc)
            bv = bits.astype(np.int64) << shifts[None, :]
            bh = bv.reshape(m, bands, r).sum(axis=2)
            yield pa.RecordBatch.from_arrays(
                [
                    vid.take(pa.array(np.repeat(idx, bands))),
                    pa.array(np.tile(band_ids, m), type=pa.int64()),
                    pa.array(bh.reshape(-1), type=pa.int64()),
                ],
                names=["vid", "band", "bh"],
            )

    return base.select("vid", "e").mapInArrow(
        project, f"vid {vid_t}, band bigint, bh bigint"
    )


def _dot_dbl(a: Column, b: Column) -> Column:
    """Plain double dot product — cheap, sequential fold (deterministic
    per row but NOT the output value; only ever used as a pre-filter).

    Measured r13 note: a dim-unrolled codegen chain (guarded per-row,
    bit-identical op sequence) halved this fold's EXECUTOR cost
    (3.06 s → 1.56 s on 512k projection rows) but added ~0.5-0.9 s of
    analyzer/codegen time per plan build for every 64-deep chain in
    the tree — a net LOSS for every bench entry (the bench rebuilds
    the DataFrame per timed run, and the driver would pay the same on
    a cluster per job submission). Kept: the interpreted fold here,
    with the hot paths restructured so the fold runs on few rows
    (``topk_cosine``'s margin shortlist) or not at all (the sign-plane
    projection's Arrow path).
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# Pre-filter margin (r5, advisor: the old fixed 1e-3 assumed ~64-dim
# unit-scale vectors; a small-norm embedding could see a decimal-vs-
# double discrepancy past a fixed margin and be silently dropped from
# the graded brute path). Derived per ROW instead: DECIMAL(12,7)
# rounds each component within half an ulp, ε = 5e-8, so
#   |dot_dec − dot_dbl| ≤ ε·(Σ|aᵢ| + Σ|bᵢ|) + d·ε²
# and with Σ|aᵢ| ≤ √d·‖a‖ (Cauchy–Schwarz), dividing by the SHARED
# denominator ‖a‖‖b‖ (identical in both folds, so it cancels in the
# difference):
#   |cos_dec − cos_dbl| ≤ ε·√d·(1/‖a‖ + 1/‖b‖) + d·ε²/denom
# The double fold's own rounding adds ≤ d·2⁻⁵²·‖a‖‖b‖/denom ≈ 1.4e-14
# at d=64. A 4× safety factor plus a 1e-12 absolute floor covers both
# tail terms with orders of magnitude to spare. The filter only ever
# DISCARDS pairs the decimal threshold would also discard.
_DEC_EPS = 5e-8


def _prefilter_margin() -> Column:
    d = F.size("e_a").cast("double")
    inv_norms = F.lit(1.0) / F.sqrt("n_a") + F.lit(1.0) / F.sqrt("n_b")
    return F.lit(4.0 * _DEC_EPS) * F.sqrt(d) * inv_norms + F.lit(1e-12)


def _rough_prefilter_arrow(pairs: DataFrame, threshold: float) -> DataFrame:
    """The double-cosine prefilter of ``_exact_cosine`` as ONE Arrow
    crossing (r13, guide §4.2): batches of candidate pairs are scored
    with vectorized float64 dots and filtered against
    ``threshold − margin``; survivors pass through unchanged for the
    JVM decimal verify. The interpreted per-pair fold cost (~190 µs
    per 64-dim pair) made the verify stage the second-largest cost of
    the LSH/SemDeDup entries.

    Output-identity argument (why ANY summation order is fine here,
    unlike the sign-plane projection): the margin bound
    |cos_dec − cos_rough| ≤ 4ε√d(1/‖a‖+1/‖b‖) + 1e-12 holds for every
    summation order of the double dot (the ε term bounds quantization
    against the EXACT real sum; numpy's pairwise summation error is
    strictly below the sequential-fold term the 4× factor covers), so
    the filter still only discards pairs the decimal threshold would
    discard. Row classes are mapped to the JVM filter's exact
    behavior: structurally-null rows (null array / null element /
    length mismatch / null norm → JVM rough NULL) are dropped, as the
    JVM ``WHERE`` drops them; NaN-valued roughs (NaN elements with
    valid norms, 0/0 on zero norms) are KEPT, mirroring Spark's
    NaN-largest comparison semantics, and meet the same decimal final
    filter they always did.
    """
    fields = pairs.schema.fields
    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in fields)
    names = [f.name for f in fields]
    thr = float(threshold)

    def rough_filter(batches):
        import numpy as np
        import pyarrow as pa

        eps4 = 4.0 * _DEC_EPS
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            cols = {nm: batch.column(i) for i, nm in enumerate(names)}
            ea, eb = cols["e_a"], cols["e_b"]
            la = ea.value_lengths().to_numpy(zero_copy_only=False)
            lb = eb.value_lengths().to_numpy(zero_copy_only=False)
            ok = ea.is_valid().to_numpy(zero_copy_only=False).astype(bool)
            ok &= eb.is_valid().to_numpy(zero_copy_only=False).astype(bool)
            ok &= cols["n_a"].is_valid().to_numpy(zero_copy_only=False).astype(bool)
            ok &= cols["n_b"].is_valid().to_numpy(zero_copy_only=False).astype(bool)
            ok &= la == lb
            keep = np.zeros(n, dtype=bool)
            idx = np.flatnonzero(ok)
            if idx.size:
                sel = pa.array(idx)
                fa, fb = ea.take(sel).flatten(), eb.take(sel).flatten()
                # null elements null the JVM fold → dropped there too
                if fa.null_count or fb.null_count:
                    lens = la[idx].astype(np.int64)
                    starts = np.zeros(idx.size, dtype=np.int64)
                    np.cumsum(lens[:-1], out=starts[1:])
                    av = fa.is_valid().to_numpy(zero_copy_only=False).astype(bool)
                    bv = fb.is_valid().to_numpy(zero_copy_only=False).astype(bool)
                    elem_ok = np.array(
                        [
                            av[s : s + l].all() and bv[s : s + l].all()
                            for s, l in zip(starts, lens)
                        ],
                        dtype=bool,
                    )
                    idx = idx[elem_ok]
                    if idx.size:
                        sel = pa.array(idx)
                        fa = ea.take(sel).flatten()
                        fb = eb.take(sel).flatten()
                if idx.size:
                    A = fa.to_numpy(zero_copy_only=False).astype(np.float64)
                    B = fb.to_numpy(zero_copy_only=False).astype(np.float64)
                    lens = la[idx].astype(np.int64)
                    na = cols["n_a"].to_numpy(zero_copy_only=False)[idx]
                    nb = cols["n_b"].to_numpy(zero_copy_only=False)[idx]
                    if lens.size and (lens == lens[0]).all():
                        d = int(lens[0])
                        dots = (
                            np.einsum(
                                "ij,ij->i", A.reshape(-1, d), B.reshape(-1, d)
                            )
                            if d
                            else np.zeros(idx.size)
                        )
                    else:
                        starts = np.zeros(idx.size, dtype=np.int64)
                        np.cumsum(lens[:-1], out=starts[1:])
                        dots = np.array(
                            [
                                float(A[s : s + l] @ B[s : s + l]) if l else 0.0
                                for s, l in zip(starts, lens)
                            ]
                        )
                    with np.errstate(divide="ignore", invalid="ignore"):
                        denom = np.sqrt(na) * np.sqrt(nb)
                        rough = dots / denom
                        margin = (
                            eps4
                            * np.sqrt(lens.astype(np.float64))
                            * (1.0 / np.sqrt(na) + 1.0 / np.sqrt(nb))
                            + 1e-12
                        )
                        passed = (rough >= thr - margin) | np.isnan(rough)
                    keep[idx[passed]] = True
            if keep.any():
                yield batch.filter(pa.array(keep))

    return pairs.mapInArrow(rough_filter, ddl)


def _arrow_prefilter_ok(pairs: DataFrame) -> bool:
    """Arrow passthrough needs every column's DDL to round-trip —
    true for the primitive ids + float arrays + double norms every
    caller passes; anything exotic keeps the JVM filter."""
    simple = {"e_a", "e_b"}
    for f in pairs.schema.fields:
        s = f.dataType.simpleString()
        if f.name in simple:
            if s not in ("array<float>", "array<double>"):
                return False
        elif "<" in s:
            return False
    return {"e_a", "e_b", "n_a", "n_b"} <= {f.name for f in pairs.schema.fields}


def _exact_cosine(pairs: DataFrame, threshold: float) -> DataFrame:
    """Exact decimal cosine on (vec_a, vec_b, e_a, e_b, n_a, n_b) rows.
    Shared by both strategies so LSH only ever PRUNES — any pair it
    reports carries the identical value the brute form would emit.

    Two-phase verify: a cheap double cosine with a row-adaptive
    conservative margin discards the low-similarity mass first (the
    decimal fold is ~5× the cost of the double one — measured 18 s →
    4 s on the sf0.1 LSH path), then the decimal-exact value is
    computed only for survivors and applies the REAL threshold. Output
    is identical to a decimal-only pass by the margin argument above.
    The rough pass itself is vectorized through one Arrow crossing
    (r13 — ``_rough_prefilter_arrow``; the margin argument is
    summation-order-free, so batched float64 scoring keeps the same
    output guarantee the interpreted fold had)."""
    denom = F.sqrt("n_a") * F.sqrt("n_b")
    rough = _dot_dbl(F.col("e_a"), F.col("e_b")) / denom
    cos = _dot_dec(F.col("e_a"), F.col("e_b")) / denom
    if _arrow_prefilter_ok(pairs):
        filtered = _rough_prefilter_arrow(pairs, threshold)
    else:
        filtered = pairs.where(rough >= F.lit(threshold) - _prefilter_margin())
    return (
        filtered
        .withColumn("cosine", cos)
        .where(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def neardup_embed_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    strategy: str = "brute",
    n_planes: int = DEFAULT_N_PLANES,
    bands: int = DEFAULT_PLANE_BANDS,
    vec: str = "embedding",
    id_col: str = "vec_id",
    persist: bool = False,
    dim: int | None = None,
) -> DataFrame:
    """All vector pairs (vec_a < vec_b) with cosine ≥ threshold.

    - ``strategy="brute"``: all-pairs non-equi self-join — O(n²), the
      oracle-checkable form behind the registered ``q_neardup_embed``.
    - ``strategy="lsh"``: sign-plane (random-hyperplane) LSH. Each
      vector is projected onto ``n_planes`` fixed ±1 hyperplanes; the
      sign bits are banded exactly like the MinHash path in
      operators/dedup.py, candidates come from a (band, band_hash)
      equi-join — the only shuffle keys are narrow band buckets, never
      the n² pair space — and every candidate is exact-verified, so the
      output is a subset-guarantee away from brute (quantified above).

    Scale honesty (measured on the sf0.01 fixture, 2026-08): the LSH
    path targets the NEAR-DUP regime, threshold ≳ 0.9. At the
    registered query's fixture-tuned θ=0.4, no sublinear scheme can be
    exact on this data: the 59 qualifying pairs sit at cosine
    0.40–0.51 where the per-plane match probability is only ~0.63 (vs
    0.5 for orthogonal pairs), and label-IVF blocking is worse — the
    fixture's label clusters have angular radii of 92–107° and 54/59
    qualifying pairs CROSS labels, so triangle-inequality pruning
    keeps 100% of the pair space. Low-threshold pairwise similarity at
    100 TB is served by the bounded-k ANN path (``topk_cosine``), not
    an all-pairs join; the LSH strategy here is the 100 TB path for
    deduplication thresholds.

    ``persist``: cache the band-row table referenced on both sides of
    the candidate self-join (halves signature work). Default False —
    zero cache residue for library callers; the bench opts in.

    The plane matrix needs the embedding dimensionality, read from one
    row (a 1-row driver action, same class as the watermark max);
    ``dim`` skips that probe when the caller knows it. The projection
    itself runs through one Arrow crossing with bit-identical
    arithmetic (r13 — see ``_sign_band_rows_arrow``).
    """
    if dim is None:
        first = emb.select(vec).first()
        dim = len(first[0]) if first is not None else 0
    base = with_sq_norm(emb, vec).select(
        F.col(id_col).alias("vid"), F.col(vec).alias("e"), "sq_norm"
    )
    a = base.select(
        F.col("vid").alias("vec_a"), F.col("e").alias("e_a"), F.col("sq_norm").alias("n_a")
    )
    b = base.select(
        F.col("vid").alias("vec_b"), F.col("e").alias("e_b"), F.col("sq_norm").alias("n_b")
    )

    if strategy == "brute":
        return _exact_cosine(a.join(b, F.col("vec_a") < F.col("vec_b")), threshold)

    if strategy != "lsh":
        raise ValueError(f"unknown strategy: {strategy!r}")

    r = n_planes // bands
    if r * bands != n_planes:
        raise ValueError("n_planes must be divisible by bands")
    if r > 63:
        raise ValueError("rows-per-band must fit a bigint bitmask")

    # Projection sign bits (r13): one Arrow crossing computes every
    # vector's packed band hashes in vectorized float64 with the JVM
    # fold's exact IEEE op sequence — see _sign_band_rows_arrow for the
    # bit-exactness contract and what it deletes (the plane broadcast
    # cross join, 512k interpreted lambda folds, and the banding
    # shuffle). Exotic (non-primitive) id types keep the JVM
    # expression path — the Arrow passthrough schema is declared from
    # the column's DDL string, which only round-trips cleanly for
    # primitives, and every real id column is one.
    if dim > 0 and "<" not in base.schema["vid"].dataType.simpleString():
        band_rows = _sign_band_rows_arrow(base, dim, n_planes, bands)
    else:
        spark = emb.sparkSession
        planes = spark.createDataFrame(
            _rademacher_planes(dim, n_planes), "plane_id int, sign array<double>"
        )
        dot = _dot_dbl(F.col("e"), F.col("sign"))
        band_rows = (
            base.select("vid", "e")
            .crossJoin(F.broadcast(planes))
            .withColumn("dot", dot)
            .select(
                "vid",
                F.expr(f"plane_id div {r}").alias("band"),
                F.expr(
                    f"shiftleft(CAST(dot >= 0.0d AS BIGINT), plane_id % {r})"
                ).alias("bv"),
            )
            .groupBy("vid", "band")
            .agg(F.sum("bv").alias("bh"))
        )
    if persist:
        band_rows = persist_once(band_rows)

    ca = band_rows.select(F.col("vid").alias("vec_a"), "band", "bh")
    cb = band_rows.select(F.col("vid").alias("vec_b"), "band", "bh")
    candidates = (
        ca.join(cb, ["band", "bh"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    pairs = candidates.join(a, "vec_a").join(b, "vec_b")
    return _exact_cosine(pairs, threshold)


# ---------------------------------------------------------------------------
# K-means training for the IVF index (closes label_centroids' caveat:
# "a production build would k-means them")
# ---------------------------------------------------------------------------
def with_kmeans_labels(
    emb: DataFrame,
    centroids: DataFrame,
    vec: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Attach each vector's nearest-centroid label (max cosine).

    Cosine is scale-invariant in the centroid, so ranking by
    ``dot(v, c) / |c|`` needs no |v| term; ties break to the lowest
    label, making assignment fully deterministic. One broadcast of the
    k-row centroid table; the n×k scored rows reduce through a
    partial+final max — no shuffle wider than the input.
    """
    if label_col in emb.columns:
        raise ValueError(f"{label_col!r} already exists on the input")
    if _kmeans_arrow_ok(emb, vec):
        return _with_kmeans_labels_arrow(emb, centroids, vec, label_col)
    cents = centroids.select(
        F.col("label").alias("__cl"),
        F.col("centroid").alias("__c"),
        F.sqrt(_dot_dbl(F.col("centroid"), F.col("centroid"))).alias("__cnorm"),
    )
    scored = emb.crossJoin(F.broadcast(cents)).withColumn(
        "__sim",
        _dot_dbl(F.col(vec).cast("array<double>"), F.col("__c"))
        / F.col("__cnorm"),
    )
    # argmax via max(struct(sim, -label)): greatest sim, then least label.
    best = (
        scored.groupBy(*emb.columns)
        .agg(F.max(F.struct(F.col("__sim"), (-F.col("__cl")).alias("__nl"))).alias("__b"))
        .withColumn(label_col, (-F.col("__b.__nl")).cast("int"))
        .drop("__b")
    )
    return best


def _kmeans_arrow_ok(emb: DataFrame, vec: str) -> bool:
    for f in emb.schema.fields:
        s = f.dataType.simpleString()
        if f.name == vec:
            if s not in ("array<float>", "array<double>"):
                return False
        elif "<" in s:
            return False
    return True


def _with_kmeans_labels_arrow(
    emb: DataFrame, centroids: DataFrame, vec: str, label_col: str
) -> DataFrame:
    """Nearest-centroid assignment through ONE Arrow crossing (r13,
    guide §4.2): the n×k scored cross join profiled at 0.95 s of the
    3.0 s sf0.1 SemDeDup bench entry (interpreted per-(row,centroid)
    lambda folds); this path does the same arithmetic vectorized and
    also deletes the centroid broadcast join AND the argmax
    re-aggregation shuffle (``groupBy(*emb.columns)``).

    Bit-exactness contract (cluster membership shapes candidate sets,
    so this must replicate the JVM path move for move):
    - the k-row centroid table is collected driver-side (index
      metadata, same class as the k-means loop's own collects);
    - each sim replays the fold's IEEE op sequence (float32 widened
      exactly, products then ascending-dimension adds from +0.0;
      ``cnorm`` likewise) and divides by cnorm once;
    - the argmax replicates ``max(struct(sim, -label))`` exactly: sims
      compare by Spark's double total order (NaN largest, -0.0 below
      +0.0 — the IEEE total-order bit trick), ties take the LOWEST
      label, and rows whose sim is NULL against every centroid (null
      vector, null element, length ≠ centroid dim) take the lowest
      label overall, which is what max-over-(NULL, -label) structs
      returned.

    One deliberate semantic narrowing vs the JVM form: the old
    ``groupBy(*emb.columns)`` MERGED fully-duplicate input rows; this
    path labels rows 1:1. Every caller feeds id-keyed (hence distinct)
    rows, and the operator's contract is per-row labeling, not
    dedup — asserted by the existing equality tests.
    """
    import numpy as np

    rows = sorted(
        centroids.select("label", "centroid").collect(),
        key=lambda r: int(r.label),
    )
    labels = [int(r.label) for r in rows]
    cents = [r.centroid for r in rows]
    k = len(cents)
    fields = emb.schema.fields
    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in fields)
    out_ddl = f"{ddl}, {label_col} int"
    names = [f.name for f in fields]
    vec_i = names.index(vec)

    # Per-centroid prep (driver side, k×dim work): validity, exact
    # left-fold cnorm, float64 component arrays.
    cent_arrs, cent_valid, cnorms = [], [], []
    for c in cents:
        if c is None or any(x is None for x in c):
            cent_arrs.append(None)
            cent_valid.append(False)
            cnorms.append(0.0)
            continue
        arr = np.asarray([float(x) for x in c], dtype=np.float64)
        acc = 0.0
        for x in arr:  # the fold's ascending-dim order
            acc = acc + x * x
        cent_arrs.append(arr)
        cent_valid.append(True)
        cnorms.append(np.sqrt(acc))

    MIN_KEY = np.int64(-(2**63))

    def assign(batches):
        import numpy as np
        import pyarrow as pa

        def order_key(x):
            """IEEE-754 total-order int64 key matching Double.compare."""
            b = x.view(np.int64)
            return b ^ ((b >> np.int64(63)) & np.int64(0x7FFFFFFFFFFFFFFF))

        if k == 0:
            # JVM form: cross join with an EMPTY centroid table yields
            # zero rows; replicate by emitting nothing.
            return
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            e = batch.column(vec_i)
            lengths = e.value_lengths().to_numpy(zero_copy_only=False)
            row_ok = e.is_valid().to_numpy(zero_copy_only=False).astype(bool)
            flat = e.flatten()
            if flat.null_count:
                ev = flat.is_valid().to_numpy(zero_copy_only=False).astype(bool)
                # per-row all-elements-valid over the ragged layout
                ll = np.where(row_ok, lengths, 0).astype(np.int64)
                starts = np.zeros(n, dtype=np.int64)
                np.cumsum(ll[:-1], out=starts[1:])
                row_ok &= np.array(
                    [ev[s : s + l].all() for s, l in zip(starts, ll)], dtype=bool
                )
            keys = np.full((n, k), MIN_KEY, dtype=np.int64)
            idx = np.flatnonzero(row_ok)
            if idx.size:
                sub = e.take(pa.array(idx))
                sl = lengths[idx].astype(np.int64)
                sflat = (
                    sub.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
                )
                sstarts = np.zeros(idx.size, dtype=np.int64)
                np.cumsum(sl[:-1], out=sstarts[1:])
                for j in range(k):
                    if not cent_valid[j]:
                        continue
                    C = cent_arrs[j]
                    d = C.shape[0]
                    match = np.flatnonzero(sl == d)
                    if match.size == 0:
                        continue
                    if (sl == d).all():
                        V = sflat.reshape(-1, d)
                        rows_sel = np.arange(idx.size)
                    else:
                        V = np.stack(
                            [
                                sflat[sstarts[m] : sstarts[m] + d]
                                for m in match
                            ]
                        )
                        rows_sel = match
                    acc = np.zeros(V.shape[0], dtype=np.float64)
                    for dd in range(d):  # ascending-dim left fold
                        acc += V[:, dd] * C[dd]
                    with np.errstate(divide="ignore", invalid="ignore"):
                        sim = acc / cnorms[j]
                    keys[idx[rows_sel], j] = order_key(sim)
            best = np.argmax(keys, axis=1)  # ties → first = lowest label
            lbl = np.asarray(labels, dtype=np.int32)[best]
            yield pa.RecordBatch.from_arrays(
                [batch.column(i) for i in range(len(names))]
                + [pa.array(lbl, type=pa.int32())],
                names=names + [label_col],
            )

    return emb.mapInArrow(assign, out_ddl)


def kmeans_centroids(
    emb: DataFrame,
    k: int = 10,
    iters: int = 8,
    vec: str = "embedding",
    id_col: str = "vec_id",
    init: str = "farthest",
) -> DataFrame:
    """Deterministic Lloyd's k-means over an embedding column.

    Returns (label int, centroid array<double>) — a drop-in for
    ``label_centroids`` output, so ``topk_cosine(strategy="ivf")``
    probes a TRAINED index instead of trusting a label column.

    Determinism doctrine applied to training:
    - init: farthest-first traversal (Gonzalez) — the min-md5(id)
      vector seeds the set, then each next seed is the vector whose
      best cosine to any chosen seed is LOWEST (ties → lowest id). A
      pure random draw of k seeds almost never covers k well-separated
      clusters (coupon-collector: ~0.04% for k=10), and Lloyd's cannot
      split a collapsed pair; farthest-first provably picks one seed
      per cluster when clusters are separated. k driver round-trips of
      one row each, O(k·n·dim) total — standard offline-training init.
      ``init="md5"`` (the pq_train option, r9): seed with the k
      lowest-md5(id) vectors in ONE job — O(n) instead of O(k·n·dim),
      for large-k builds where seed quality is amortized away by the
      Lloyd iterations or irrelevant to what's being measured
      (scale-curve timings, ADC probes). Equally deterministic;
    - assignment: per-row double fold (sequential, fixed order) with
      label-ascending tie-breaks;
    - update: mean_q40 per (cluster, dimension) — order-independent
      quantized means, so the trained centroids are bit-identical
      under ANY partitioning (asserted in tests);
    - fixed ``iters`` (no data-dependent convergence test), empty
      clusters keep their previous centroid.

    The driver holds only the k×dim centroid matrix between iterations
    (index metadata, not data-scale); each iteration is one broadcast
    cross-score + one partial+final aggregate over the corpus —
    O(n·k·dim) work, the canonical offline-training cost.
    """
    if init not in ("farthest", "md5"):
        raise ValueError(f"unknown init: {init!r}")
    spark = emb.sparkSession
    base = emb.select(
        F.col(id_col).cast("string").alias("sid"),
        F.col(vec).cast("array<double>").alias("v"),
    )
    if init == "md5":
        seeds = (
            base.withColumn("h", F.md5("sid")).orderBy("h", "sid").limit(k).collect()
        )
        chosen = [[float(x) for x in r.v] for r in seeds]
    else:
        first = (
            base.withColumn("h", F.md5("sid")).orderBy("h", "sid").limit(1).collect()[0]
        )
        chosen = [[float(x) for x in first.v]]
        for _ in range(k - 1):
            cdf = spark.createDataFrame(
                [(i, c) for i, c in enumerate(chosen)],
                "label int, centroid array<double>",
            ).select(
                "centroid",
                F.sqrt(_dot_dbl(F.col("centroid"), F.col("centroid"))).alias("cn"),
            )
            sim = _dot_dbl(F.col("v"), F.col("centroid")) / (
                F.sqrt(_dot_dbl(F.col("v"), F.col("v"))) * F.col("cn")
            )
            far = (
                base.crossJoin(F.broadcast(cdf))
                .groupBy("sid", "v")
                .agg(F.max(sim).alias("best"))
                .orderBy(F.col("best").asc(), F.col("sid").asc())
                .limit(1)
                .collect()[0]
            )
            chosen.append([float(x) for x in far.v])
    cents = list(enumerate(chosen))
    for _ in range(iters):
        cdf = spark.createDataFrame(cents, "label int, centroid array<double>")
        assigned = with_kmeans_labels(
            emb.select(id_col, vec), cdf, vec=vec, label_col="__km"
        ).select(F.col("__km").alias("label"), F.col(vec))
        got = {
            r.label: [float(x) for x in r.centroid]
            for r in label_centroids(assigned, vec=vec).collect()
        }
        cents = [(i, got.get(i, c)) for i, c in cents]
    return spark.createDataFrame(cents, "label int, centroid array<double>")


def semdedup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    k: int | None = None,
    iters: int = 4,
    vec: str = "embedding",
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
    max_cluster_size: int | None = None,
    on_oversize: str = "raise",
    salt_buckets: int = 8,
) -> DataFrame:
    """SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", arXiv:2303.09540):
    k-means buckets the embedding space, pairwise exact cosine runs
    ONLY within each cluster. The third near-dup strategy beside brute
    and sign-plane LSH (``neardup_embed_pairs``), with a different
    recall contract: LSH recall decays smoothly with the angular gap
    per band; SemDeDup misses exactly the pairs that straddle a
    cluster boundary (the paper's stated tradeoff) and examines
    Σ_b n_b(n_b−1)/2 candidates — sublinear in n² whenever the
    clustering spreads mass across buckets.

    EXACT duplicates are found with probability 1 regardless of
    clustering quality: identical vectors score identically against
    every centroid, and ``with_kmeans_labels``' deterministic argmax
    (max(struct(sim, −label))) assigns them the same cluster —
    asserted in tests.

    Pair generation reuses ``blocked_pairs`` with the cluster label as
    the block key, so the ER skew discipline applies verbatim: a giant
    cluster (one template embedding crawled 10⁷ times) trips the
    ``max_cluster_size`` tripwire, and ``on_oversize="salt"`` splits
    its pair triangle LOSSLESSLY across salt_buckets² reducers
    (measured 0.20× on a manufactured hot block — SCALE.md r8).
    Verified pairs carry the same decimal-quantized cosine as the
    brute/LSH forms (shared ``_exact_cosine``), so every pair SemDeDup
    reports hash-matches what brute would emit for it.

    Training (``kmeans_centroids``) is the documented offline step —
    k + iters driver round-trips over index metadata, never data-scale
    rows; pass precomputed ``centroids`` to skip it (the production
    shape: train once, dedup many batches).

    ``k=None`` (the default) derives k from the corpus: ``max(8,
    isqrt(n))`` — the paper's k ≈ √n-or-larger regime. The r9 scale
    curve (SCALE.md) measured what the
    geometry predicts: at FIXED k the within-bucket candidate volume
    Σ n_b(n_b−1)/2 grows superlinearly (2× data cost 2.33×, 4× cost
    3.81×), while k ∝ n holds bucket sizes and restores near-linear
    (1.77×/2.28×) — so a fixed default is exactly the mistake the
    ``max_cluster_size`` tripwire refuses loudly, and the operator no
    longer ships one. Pass an explicit ``k`` for reproducibility (the
    registered ``q_semdedup`` pins k=8 against a frozen oracle). The
    extra ``emb.count()`` is one cheap job against a frame the
    training step is about to scan k·iters times anyway.
    """
    import math

    from .blocking import blocked_pairs

    if centroids is None:
        if k is None:
            n = emb.count()
            k = max(8, math.isqrt(max(int(n), 1)))
        centroids = kmeans_centroids(
            emb, k=k, iters=iters, vec=vec, id_col=id_col
        )
    labeled = with_kmeans_labels(
        emb.select(id_col, vec), centroids, vec=vec, label_col="__sd"
    )
    base = with_sq_norm(labeled, vec).select(
        F.col(id_col).alias("vid"), F.col(vec).alias("e"), "sq_norm", "__sd"
    )
    pairs = blocked_pairs(
        base,
        "vid",
        F.col("__sd"),
        attrs=["e", "sq_norm"],
        max_block_size=max_cluster_size,
        on_oversize=on_oversize,
        salt_buckets=salt_buckets,
    ).select(
        F.col("k_a").alias("vec_a"),
        F.col("k_b").alias("vec_b"),
        "e_a",
        "e_b",
        F.col("sq_norm_a").alias("n_a"),
        F.col("sq_norm_b").alias("n_b"),
    )
    return _exact_cosine(pairs, threshold)


def topk_cosine(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    strategy: str = "brute",
    nprobe: int = 3,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Top-k nearest corpus vectors per query vector, by cosine.

    ``emb``: (vec_id, embedding, label); ``queries``: (qid, q_emb).
    Returns (qid, vec_id, cosine, rnk) with rnk 1..k, self-matches
    excluded, ties broken by vec_id.

    ``centroids``: optional prebuilt (label, centroid) table for the
    IVF path. In production the index is trained offline and probes are
    online — passing a persisted centroid table here skips the
    per-query-batch training scan (the bench measures probe-only cost
    this way). ``None`` trains from ``emb`` inline.
    """
    corpus = with_sq_norm(emb).select(
        "vec_id", "label", F.col("embedding").alias("c_emb"), F.col("sq_norm").alias("c_n2")
    )
    q = queries.select(
        "qid", "q_emb", _sq_norm_dec(F.col("q_emb")).alias("q_n2")
    )

    if strategy == "ivf":
        cents = centroids if centroids is not None else label_centroids(emb)
        # Rank centroids per query by cosine (same exact math), keep
        # the nprobe closest labels, then search only those lists.
        qc = q.crossJoin(F.broadcast(cents)).withColumn(
            "c_sim",
            _dot_dec(F.col("q_emb"), F.col("centroid").cast("array<double>"))
            / (F.sqrt("q_n2") * F.sqrt(_sq_norm_dec(F.col("centroid").cast("array<double>")))),
        )
        wq = Window.partitionBy("qid").orderBy(F.desc("c_sim"), "label")
        probes = (
            qc.withColumn("crnk", F.row_number().over(wq))
            .where(F.col("crnk") <= nprobe)
            .select("qid", "q_emb", "q_n2", "label")
        )
        joined = probes.join(corpus, "label")
    elif strategy == "brute":
        joined = q.crossJoin(corpus)
    else:
        raise ValueError(f"unknown strategy: {strategy!r}")

    # Margin-proved rough shortlist (r13, guide §1.2 "per-task work" /
    # §8 "decide with small rows"): the exact decimal dot costs ~3 ms
    # per 64-dim pair row (interpreted BigDecimal fold — measured), and
    # scoring EVERY candidate decimally made this operator's cost
    # n_candidates × 3 ms. The cheap double cosine bounds the exact one
    # within a per-row conservative margin m (the same ulp argument as
    # ``_prefilter_margin``; both folds share the denominator, which
    # cancels in the difference), so with
    #   lo = rough − m ≤ cosine ≤ rough + m = hi
    # and T = k-th largest lo within a query, any row with hi < T is
    # beaten by ≥ k rows whose exact cosine is ≥ T — it provably cannot
    # be in the exact top-k, ties included (the k beaters are STRICTLY
    # above it). The decimal fold then runs only on the ~k survivors.
    # Null-safety: a row whose rough cosine is null (null/NaN elements,
    # decimal-overflow norms — the same rows whose exact cosine is null
    # or null-denominated) is kept unconditionally and never shapes T,
    # so the exact ranking sees exactly the rows it saw before. All
    # three windows share the qid hash-partitioning — no new Exchange.
    pre = joined.where(F.col("qid") != F.col("vec_id")).withColumn(
        "__rough",
        _dot_dbl(F.col("q_emb"), F.col("c_emb"))
        / (F.sqrt("q_n2") * F.sqrt("c_n2")),
    )
    d = F.size("c_emb").cast("double")
    margin = (
        F.lit(4.0 * _DEC_EPS)
        * F.sqrt(d)
        * (F.lit(1.0) / F.sqrt("q_n2") + F.lit(1.0) / F.sqrt("c_n2"))
        + F.lit(1e-12)
    )
    pre = pre.withColumn(
        "__lo",
        F.when(F.col("__rough").isNotNull(), F.col("__rough") - margin),
    ).withColumn("__hi", F.col("__rough") + margin)
    wlo = Window.partitionBy("qid").orderBy(F.desc("__lo"), "vec_id")
    wq = Window.partitionBy("qid")
    pre = pre.withColumn("__rn", F.row_number().over(wlo)).withColumn(
        "__T",
        F.max(F.when(F.col("__rn") == k, F.col("__lo"))).over(wq),
    )
    survivors = pre.where(
        F.col("__rough").isNull()
        | F.col("__T").isNull()
        | (F.col("__hi") >= F.col("__T"))
    )
    scored = survivors.withColumn(
        "cosine",
        _dot_dec(F.col("q_emb"), F.col("c_emb"))
        / (F.sqrt("q_n2") * F.sqrt("c_n2")),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("qid", "vec_id", "cosine", "rnk")
    )
