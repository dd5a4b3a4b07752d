"""Near-duplicate detection operators (SURVEY.md §2.11 L2).

Two strategies behind one function, same semantics:

- ``strategy="brute"``: all-pairs self-join with exact Jaccard on
  distinct token sets. O(n²) — correct at fixture scale, and the
  oracle-checkable form.
- ``strategy="minhash"``: MinHash signatures + LSH banding, all with
  built-in JVM expressions (``xxhash64`` seeded per hash function, no
  Python UDFs, no ml.feature dependency). Candidate pairs come from a
  bucket equi-join on (band_id, band_hash) — at 100 TB this is the
  whole point: the only shuffle keys are narrow band buckets, never
  the n² pair space. Candidates are then exact-Jaccard verified, so
  the output is a SUBSET guarantee away from brute force; with the
  default 64 hashes in 8 bands of 8 rows, the probability of missing
  a pair at threshold 0.95 is (1 − 0.95⁸)⁸ ≈ 1.6e-4 — rare enough
  that the pytest asserts exact equality on the fixtures (the check
  is deterministic: all hash seeds are fixed).

Banding math for tuning: P(candidate | jaccard=s) = 1 − (1 − s^r)^b
with ``n_hashes = b·r``. Raise r to cut false candidates (smaller
buckets), raise b to cut false negatives.

Tokens default to whitespace words; ``tokenizer="char5"`` switches the
feature space to character-5-gram shingles (the q_neardup_ngram
semantics) — the banding machinery is identical because MinHash only
sees a set of strings, whatever they are. The token-set representation
is shared with the brute path so both strategies see identical sets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from ..session import fanout, persist_once

# 64 hashes in 8 bands of r=8. Tuned against the fixture corpus, whose
# pair-similarity mass is adversarially dense (median pair Jaccard 0.63,
# 24% of pairs ≥ 0.8 at sf0.01): r=2 admitted ~96% of ALL pairs as
# candidates (the bucket join degenerated to brute force at 60× the
# cost); r=8 cuts the sub-0.8 mass to <20% while keeping the miss
# probability at the 0.95 threshold ≈ (1−0.95⁸)⁸ ≈ 1.6e-4 per pair —
# small enough that minhash ≡ brute still holds exactly on the fixtures
# (asserted in tests/test_llm_ops.py, deterministic: seeds are fixed).
DEFAULT_N_HASHES = 64
DEFAULT_BANDS = 8  # → rows-per-band r = n_hashes // bands = 8


def _fan_docs(docs: DataFrame) -> DataFrame:
    """r13 (guide §2.5 input skew): a single-split fixture scan pins the
    shingle build + the 64-hash signature aggregate — the minhash
    strategy's per-task hot loop — to ONE core. Hash-spread the
    (doc_id, text) rows across the session first; ``fanout`` no-ops at
    real scale where the scan already provides parallelism. Net-zero
    exchanges on the minhash path: ``_minhash_band_rows``'s
    groupBy(doc_id) reuses the doc_id hash partitioning, so its own
    exchange disappears and the signature aggregate runs as one
    complete-mode HashAggregate over co-located doc rows. Rows are
    untouched and min()/count() are order-free, so band rows — and
    every candidate/verify stage above them — are bit-identical."""
    return fanout(docs.select("doc_id", "text"), "doc_id")


def _char5_shingles() -> Column:
    """Distinct character-5-gram shingles of ``text``.

    Spark's sequence(1, L-4) DESCENDS for L < 5 ([1, 0] for L=1),
    emitting phantom shingles where DuckDB's range() yields none —
    guard short texts to an empty array (same guard as the registered
    q_neardup_ngram brute form, so both strategies see identical sets).
    """
    return F.array_distinct(
        F.expr(
            "CASE WHEN length(text) >= 5 "
            "THEN transform(sequence(1, length(text) - 4), i -> substring(text, i, 5)) "
            "ELSE CAST(array() AS ARRAY<STRING>) END"
        )
    )


def token_sets(docs: DataFrame, tokenizer: str = "words") -> DataFrame:
    """(doc_id, t): distinct feature set per document.

    ``tokenizer="words"``: whitespace tokens. ``tokenizer="char5"``:
    character-5-gram shingles (texts shorter than 5 chars → empty set).
    """
    if tokenizer == "words":
        arr = F.array_distinct(F.split(F.col("text"), " "))
    elif tokenizer == "char5":
        arr = _char5_shingles()
    else:
        raise ValueError(f"unknown tokenizer: {tokenizer!r}")
    return docs.select("doc_id", arr.alias("t"))


def _exact_jaccard(pairs: DataFrame, threshold: float) -> DataFrame:
    """Attach exact Jaccard to (doc_a, doc_b, t_a, t_b) rows and filter.

    Integer sizes divided in double — single correctly-rounded IEEE op,
    deterministic in any engine.
    """
    inter = F.size(F.array_intersect("t_a", "t_b"))
    union = F.size("t_a") + F.size("t_b") - inter
    return (
        pairs.withColumn("jaccard", inter.cast("double") / union.cast("double"))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _minhash_band_rows(tok: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """(doc_id, band, bh, sz) LSH bucket rows from (doc_id, t) token
    sets; ``sz`` is the token-set size, aggregated in the SAME
    partial+final pass as the signature mins (free map-side).

    MinHash signature: hash each token ONCE (string → bigint), then
    derive the i-th hash family as xxhash64(i, h0) — a long-pair hash,
    ~2× cheaper per family than re-hashing the string with a seed
    prefix (measured 15.4 s → 8.8 s for 64 families over 1M char-5
    shingle instances at sf0.1). Same independence properties: each
    family is a full avalanche over (i, h0). min is a plain
    partial+final aggregate — map-side combine keeps the shuffle at
    one row per (doc, 64 longs). Both the self-join path
    (``neardup_pairs``) and the bipartite path
    (``neardup_pairs_cross``) build buckets through here, which is
    what makes cross-corpus candidates comparable: the hash families
    are input-independent, so a doc bucketizes identically whichever
    side it sits on.

    The size column exists for the candidate-stage prefilter (r7): it
    costs 8 bytes per band row and saves fetching the token arrays of
    provably-impossible pairs — see ``_size_compatible``.

    r13 NEGATIVE A/B (don't re-litigate): an Arrow crossing computing
    the 64 family mins + band hashes in NumPy (bit-exact XXH64
    replication, pinned) measured 0.16× on the char5 path (3.17 s →
    20.02 s interleaved, steal-free) and ~parity on the word path —
    the codegen'd explode+aggregate ships 64 longs/doc through the
    shuffle, while the crossing ships EVERY token hash through the
    Python boundary behind an interpreted ``transform`` lambda (the
    guide §8 "move heavy bytes once" lesson, in reverse). This JVM
    shape is the right one.
    """
    r = n_hashes // bands
    exploded = tok.select("doc_id", F.explode("t").alias("tok"))
    base = exploded.select("doc_id", F.xxhash64("tok").alias("h0"))
    sig_cols = [
        F.min(F.xxhash64(F.lit(i), F.col("h0"))).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    sigs = base.groupBy("doc_id").agg(
        *sig_cols, F.count(F.lit(1)).alias("sz")
    )
    return sigs.select(
        "doc_id",
        "sz",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            *[F.col(f"h{bi * r + j}") for j in range(r)]
                        ).alias("bh"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "b.band", "b.bh", "sz")


# Atomic doc_id types PROVEN to round-trip mapInArrow unchanged; the
# r13 advisor flagged that gating on "no '<' in simpleString" admits
# primitive-LOOKING types Arrow conversion can reject at runtime
# (interval/void), turning a silent JVM fallback into an executor
# error. Anything outside this allowlist takes the JVM form.
_ARROW_ATOMIC_ID_TYPES = frozenset(
    {
        "tinyint",
        "smallint",
        "int",
        "bigint",
        "float",
        "double",
        "boolean",
        "string",
        "binary",
        "date",
        "timestamp",
        "timestamp_ntz",
    }
)


def _tok_arrow_ok(tok: DataFrame) -> bool:
    """Arrow-crossing gate for (doc_id, t) token frames: doc_id must be
    an allowlisted Arrow-safe atomic type (integral, string, binary,
    date/timestamp, decimal) and t the standard array<string> token
    set; anything exotic keeps the JVM form."""
    by_name = {f.name: f.dataType.simpleString() for f in tok.schema.fields}
    id_t = by_name.get("doc_id", "")
    return by_name.get("t") == "array<string>" and (
        id_t in _ARROW_ATOMIC_ID_TYPES or id_t.startswith("decimal(")
    )


def _size_compatible(threshold: float) -> Column:
    """LOSSLESS candidate prefilter (r7): J(A,B) = |A∩B|/|A∪B| ≤
    min(|A|,|B|)/max(|A|,|B|) always (the intersection is at most the
    smaller set, the union at least the larger), so a pair can only
    verify at Jaccard ≥ θ if its set sizes are within a θ ratio. Two
    ints already riding the band rows decide that BEFORE the token
    arrays are fetched — measured at sf0.1/θ=0.95 the bucket join's
    4.26M candidates carry ~95% false positives, most of which die
    here. Rounding is monotone, so the double compare can never drop a
    pair the (identical-arithmetic) verify would keep; the exact
    verify is unchanged and remains the correctness gate.
    """
    return (
        F.least("sz_a", "sz_b").cast("double")
        / F.greatest("sz_a", "sz_b").cast("double")
        >= threshold
    )


def neardup_pairs(
    docs: DataFrame,
    threshold: float = 0.95,
    strategy: str = "brute",
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
    persist: bool = False,
    tokenizer: str = "words",
) -> DataFrame:
    """All document pairs (doc_a < doc_b) with feature-set Jaccard ≥ threshold.

    Returns (doc_a, doc_b, jaccard) — jaccard is the EXACT value under
    both strategies; minhash only prunes candidates. ``tokenizer``
    selects the feature space (see ``token_sets``); banding r/b should
    be retuned per (tokenizer, threshold) — e.g. char-5-gram at
    θ=0.8 wants r=4/b=16 (miss prob at the boundary
    1−(1−(1−0.8⁴)¹⁶) ≈ 2.1e-4), where the word-token default r=8/b=8
    would miss ~23% of boundary pairs.

    ``persist`` (minhash only): the token-set and band-row tables are
    each referenced on BOTH sides of a self-join, and Spark computes a
    subtree once per reference — persisting them halves the work (this
    is also how production LSH runs: signatures materialized once).
    A persisted table additionally carries exact size stats, so the
    planner auto-broadcasts the verify join when the corpus is small
    and keeps a shuffle join when it isn't. Default False (r4, advisor):
    a library call leaves zero cache residue unless the caller opts in
    and owns the unpersist (the bench opts in and clears cache per
    entry).
    """
    if strategy == "minhash":
        docs = _fan_docs(docs)
    tok = token_sets(docs, tokenizer=tokenizer)
    if strategy == "minhash" and persist:
        tok = persist_once(tok)
    a = tok.select(F.col("doc_id").alias("doc_a"), F.col("t").alias("t_a"))
    b = tok.select(F.col("doc_id").alias("doc_b"), F.col("t").alias("t_b"))

    if strategy == "brute":
        pairs = a.join(b, F.col("doc_a") < F.col("doc_b"))
        return _exact_jaccard(pairs, threshold)

    if strategy != "minhash":
        raise ValueError(f"unknown strategy: {strategy!r}")

    r = n_hashes // bands
    if r * bands != n_hashes:
        raise ValueError("n_hashes must be divisible by bands")

    band_rows = _minhash_band_rows(tok, n_hashes, bands)
    if persist:
        band_rows = persist_once(band_rows)

    ca = band_rows.select(
        F.col("doc_id").alias("doc_a"), "band", "bh", F.col("sz").alias("sz_a")
    )
    cb = band_rows.select(
        F.col("doc_id").alias("doc_b"), "band", "bh", F.col("sz").alias("sz_b")
    )
    candidates = (
        ca.join(cb, ["band", "bh"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .where(_size_compatible(threshold))  # lossless — see docstring
        .select("doc_a", "doc_b")
        .distinct()
    )

    pairs = (
        candidates.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", "t_a", "t_b")
    )
    return _exact_jaccard(pairs, threshold)


def band_signatures(
    docs: DataFrame,
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
    tokenizer: str = "words",
) -> DataFrame:
    """(doc_id, band, bh, sz) — the MinHash-LSH bucket rows for a
    corpus, as a PUBLIC materialization surface (r7): write these
    alongside the kept corpus and future ingests equi-join the stored
    buckets instead of re-hashing history (pass them to
    ``neardup_pairs_cross(corpus_bands=...)``). Built through the
    same ``_minhash_band_rows`` as every search path, so signatures
    are comparable across batches and rounds by construction."""
    if (n_hashes // bands) * bands != n_hashes:
        raise ValueError("n_hashes must be divisible by bands")
    return _minhash_band_rows(
        token_sets(_fan_docs(docs), tokenizer=tokenizer), n_hashes, bands
    )


def neardup_pairs_cross(
    new_docs: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.95,
    strategy: str = "brute",
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
    tokenizer: str = "words",
    persist: bool = False,
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """Bipartite near-dup: (doc_a ∈ new_docs, doc_b ∈ corpus) pairs with
    Jaccard ≥ threshold — "which incoming documents already exist in
    the kept corpus", the incremental-dedup shape every recurring crawl
    runs. Unlike the self-join form there is no doc_a < doc_b pruning:
    ids live in separate namespaces and every cross pair is a real
    candidate.

    Scale: the corpus side's band rows are exactly the signatures a
    production pipeline MATERIALIZES once (write them with the corpus;
    at 100 TB the nightly batch hashes only itself and equi-joins the
    stored buckets — corpus text is re-read only for the exact-verify
    of candidate hits, a pushed-down semi-join-sized read). Since r7
    that path is implemented, not just described: pass
    ``corpus_bands`` (the ``band_signatures`` table, same
    n_hashes/bands/tokenizer as this call) and the corpus is neither
    re-tokenized nor re-hashed for candidates — only the
    candidate-hit subset is tokenized for the exact verify, behind a
    semi join that prunes the corpus scan. Output is identical to the
    re-hash path (pytest-pinned) because ``_minhash_band_rows`` is
    deterministic in its input rows.
    """
    if corpus_bands is not None:
        if strategy != "minhash":
            raise ValueError("corpus_bands requires strategy='minhash'")
        # structural contract check (free — schema only). The VALUES
        # must also come from the same n_hashes/bands/tokenizer as this
        # call: a mismatched table silently under-reports duplicates
        # (band indices / bh values no longer correspond), which a
        # schema check cannot see — callers that persist bands across
        # runs must persist the banding parameters beside them
        # (neardup_stream_sink stores and verifies exactly that).
        missing = {"doc_id", "band", "bh", "sz"} - set(corpus_bands.columns)
        if missing:
            raise ValueError(
                f"corpus_bands missing column(s) {sorted(missing)}; expected "
                "the band_signatures schema (doc_id, band, bh, sz)"
            )
    if strategy == "minhash":
        new_docs = _fan_docs(new_docs)
        if corpus_bands is None:
            # with stored bands the full corpus is never tokenized or
            # hashed here — only the semi-join-pruned verify subset
            # below, which is candidate-sized, not scan-sized
            corpus = _fan_docs(corpus)
    tok_a = token_sets(new_docs, tokenizer=tokenizer)
    tok_b = token_sets(corpus, tokenizer=tokenizer)
    if strategy == "minhash" and persist:
        # each token-set table feeds BOTH its band rows and the exact
        # verify join — without persist the tokenize+hash subtrees run
        # twice per side (measured 14.5 s -> 2.6 s at sf0.1; production
        # stores the corpus band rows on disk instead)
        tok_a = persist_once(tok_a)
        if corpus_bands is None:
            # with stored bands the corpus tokenization runs exactly
            # once (the pruned verify below) — persisting it would
            # materialize the full-corpus tokenize the stored bands
            # exist to avoid
            tok_b = persist_once(tok_b)
    a = tok_a.select(F.col("doc_id").alias("doc_a"), F.col("t").alias("t_a"))
    b = tok_b.select(F.col("doc_id").alias("doc_b"), F.col("t").alias("t_b"))

    if strategy == "brute":
        return _exact_jaccard(a.crossJoin(b), threshold)
    if strategy != "minhash":
        raise ValueError(f"unknown strategy: {strategy!r}")
    if (n_hashes // bands) * bands != n_hashes:
        raise ValueError("n_hashes must be divisible by bands")

    ba = _minhash_band_rows(tok_a, n_hashes, bands).select(
        F.col("doc_id").alias("doc_a"), "band", "bh", F.col("sz").alias("sz_a")
    )
    bb = (corpus_bands if corpus_bands is not None else _minhash_band_rows(
        tok_b, n_hashes, bands
    )).select(
        F.col("doc_id").alias("doc_b"), "band", "bh", F.col("sz").alias("sz_b")
    )
    if persist:
        ba = persist_once(ba)
        if corpus_bands is None:
            bb = persist_once(bb)
    candidates = (
        ba.join(bb, ["band", "bh"])
        .where(_size_compatible(threshold))  # lossless — see docstring
        .select("doc_a", "doc_b")
        .distinct()
    )
    if corpus_bands is not None:
        # stored-signature path: tokenize ONLY the candidate-hit
        # subset of the corpus — the semi join prunes the text scan to
        # verify-sized reads (the "pushed-down semi-join-sized read"
        # the docstring promises). The candidate table is referenced
        # twice here (verify join + this pruning semi join), and its
        # subtree contains the corpus-proportional stored-bands join —
        # recomputing THAT per reference would double the dominant
        # production term (r7 review). persist shares it under the
        # caller's cache budget; otherwise a lazy localCheckpoint
        # shares the (candidate-sized, small) result without leaving
        # named cache residue in the caller's session — blocks are
        # freed with the DataFrame by the context cleaner.
        if persist:
            candidates = persist_once(candidates)
        else:
            candidates = candidates.localCheckpoint(eager=False)
        hit_ids = candidates.select(F.col("doc_b").alias("doc_id")).distinct()
        b = token_sets(
            corpus.join(hit_ids, "doc_id", "left_semi"), tokenizer=tokenizer
        ).select(F.col("doc_id").alias("doc_b"), F.col("t").alias("t_b"))
    pairs = (
        candidates.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", "t_a", "t_b")
    )
    return _exact_jaccard(pairs, threshold)


def neardup_pairs_from_bands(
    docs: DataFrame,
    stored_bands: DataFrame,
    threshold: float = 0.95,
    tokenizer: str = "words",
) -> DataFrame:
    """SELF near-dup over a corpus whose band signatures are ALREADY
    materialized (the ``band_signatures`` table): candidates come from
    a self-join of the stored buckets — history is never re-tokenized
    or re-hashed — and only candidate-HIT docs are tokenized for the
    exact Jaccard verify. The maintenance-job twin of
    ``neardup_pairs_cross(corpus_bands=...)``; ``reclose_corpus`` is
    the caller (r8, VERDICT r7 #4).

    ``docs`` must cover every doc_id appearing in ``stored_bands``
    whose pairs should be verifiable — a candidate whose text is
    missing from ``docs`` produces no token row and silently drops out
    of the verify join, which is exactly the desired semantics for
    consumed tombstones (their edges are out of retention scope).

    Scale shape: identical to the ingest stored path — shuffle keys
    are (band, bh) buckets, the size-ratio prefilter kills ~95% of
    bucket collisions before any text is fetched, and the corpus text
    scan is pruned to the candidate-hit subset by a semi join.
    """
    missing = {"doc_id", "band", "bh", "sz"} - set(stored_bands.columns)
    if missing:
        raise ValueError(
            f"stored_bands missing column(s) {sorted(missing)}; expected "
            "the band_signatures schema (doc_id, band, bh, sz)"
        )
    bb = stored_bands.select("doc_id", "band", "bh", "sz")
    ca = bb.select(
        F.col("doc_id").alias("doc_a"), "band", "bh", F.col("sz").alias("sz_a")
    )
    cb = bb.select(
        F.col("doc_id").alias("doc_b"), "band", "bh", F.col("sz").alias("sz_b")
    )
    # lazy localCheckpoint: the candidate subtree contains the
    # corpus-proportional stored-bands self-join and is referenced by
    # the verify join AND the two pruning semi joins below — same
    # sharing rule as the cross path's stored branch (r7 review)
    candidates = (
        ca.join(cb, ["band", "bh"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .where(_size_compatible(threshold))  # lossless — see docstring
        .select("doc_a", "doc_b")
        .distinct()
        .localCheckpoint(eager=False)
    )
    hit_ids = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .union(candidates.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # candidate-hit docs tokenize once and feed both verify sides
    tok = token_sets(
        docs.join(hit_ids, "doc_id", "left_semi"), tokenizer=tokenizer
    ).localCheckpoint(eager=False)
    a = tok.select(F.col("doc_id").alias("doc_a"), F.col("t").alias("t_a"))
    b = tok.select(F.col("doc_id").alias("doc_b"), F.col("t").alias("t_b"))
    pairs = (
        candidates.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", "t_a", "t_b")
    )
    return _exact_jaccard(pairs, threshold)


# ---------------------------------------------------------------------------
# SimHash Hamming-radius near-dup (the follow-through on llm_ext.py's
# "banded sub-signatures for Hamming distance > 0" note)
# ---------------------------------------------------------------------------
def simhash_signatures(docs: DataFrame, n_planes: int = 32) -> DataFrame:
    """(doc_id, simhash): same construction as the registered
    q_dedup_simhash (one md5 digest per token feeds all planes), as a
    reusable operator.

    **Precondition: doc_id values must be unique (and non-NULL).** The
    JVM fallback groupBy(doc_id) would MERGE duplicate ids' token
    multisets where the Arrow fast path emits one signature per input
    ROW, so non-unique ids silently diverge between the two paths (r13
    advisor). Every in-repo caller derives doc_id from a primary key.

    ``n_planes`` is capped at 32: plane i reads hex digit i of the
    token's md5, and md5 has exactly 32 hex chars. Past that,
    substring() returns '' and '' < '8' is true, so every extra plane
    would contribute +1 per token — a constant-1 bit that silently
    loses signature entropy (r4 advisor). Refuse rather than degrade;
    >32 planes would need a second digest (md5(tok || ':1')) per block.
    """
    if not 1 <= n_planes <= 32:
        raise ValueError(
            f"n_planes must be in [1, 32] (one md5 hex digit per plane), "
            f"got {n_planes}"
        )
    docs = _fan_docs(docs)
    tok_arrays = docs.select(
        "doc_id", F.array_distinct(F.split(F.col("text"), " ")).alias("t")
    )
    if _tok_arrow_ok(tok_arrays):
        return _simhash_signatures_arrow(tok_arrays, n_planes)
    return _simhash_signatures_jvm(docs, n_planes)


def _simhash_signatures_jvm(docs: DataFrame, n_planes: int) -> DataFrame:
    """The pre-r13 explode + 32-lane aggregate form — fallback for
    exotic doc_id types (and the equality oracle for the Arrow path)."""
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("tok")
    )
    h = F.md5(F.col("tok"))
    planes = [
        F.sum(F.when(F.substring(h, i + 1, 1) < "8", 1).otherwise(-1)).alias(f"s{i}")
        for i in range(n_planes)
    ]
    s = tok.groupBy("doc_id").agg(*planes)
    sig = None
    for i in range(n_planes):
        bit = F.when(F.col(f"s{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return s.select("doc_id", sig.cast("bigint").alias("simhash"))


def _simhash_signatures_arrow(tok: DataFrame, n_planes: int) -> DataFrame:
    """SimHash plane sums + sign bits through ONE Arrow crossing (r13,
    guide §4.2): the JVM form pays, per token INSTANCE, an md5 plus
    ``n_planes`` substring/compare/CASE lanes into an n_planes-column
    aggregate; here md5 stays a JVM ``transform`` (one digest per
    token, the identical hex string the exploded path hashed) and the
    plane tallies + sign bits are exact integer NumPy over the packed
    hex bytes — no explode, no wide aggregate.

    Bit-exactness: plane i of the JVM form is
    ``sum(CASE WHEN substring(md5(tok), i+1, 1) < '8' THEN 1 ELSE -1)``
    = 2·(count of tokens whose hex digit i is '0'-'7') − n_tokens —
    md5 hex digits are ASCII, so ``digit < '8'`` is ``byte < 0x38``;
    the final signature bit is ``s_i > 0`` exactly as the JVM CASE
    computes it. All integer arithmetic, no rounding anywhere.
    Docs with NULL/empty token sets emit no row (explode semantics);
    ``split`` never yields NULL elements, so md5 never sees one.

    Contract (both forms): one row per doc_id — the JVM groupBy would
    MERGE duplicate ids' token multisets where this path emits one
    signature per input ROW; every caller guarantees unique ids.
    """
    id_t = tok.schema["doc_id"].dataType.simpleString()
    base = tok.where(F.size("t") > 0).select(
        "doc_id",
        F.transform("t", lambda x: F.md5(x)).alias("hs"),
    )

    def tally(batches):
        import numpy as np
        import pyarrow as pa

        weights = (1 << np.arange(n_planes, dtype=np.int64))[None, :]
        lt8 = np.uint8(ord("8"))
        for batch in batches:
            m = batch.num_rows
            if m == 0:
                continue
            doc, hs = batch.column(0), batch.column(1)
            if isinstance(hs, pa.ChunkedArray):  # defensive
                hs = hs.combine_chunks()
            lengths = hs.value_lengths().to_numpy(zero_copy_only=False)
            lengths = lengths.astype(np.int64)
            flat = hs.flatten()
            # md5 hex strings are all exactly 32 ASCII bytes, so the
            # value buffer between the first and last offset is a dense
            # (n_tok, 32) byte matrix. Offsets are int32 for string,
            # int64 for large_string.
            off_dt = (
                np.int64 if pa.types.is_large_string(flat.type) else np.int32
            )
            offs = np.frombuffer(flat.buffers()[1], dtype=off_dt)[
                flat.offset : flat.offset + len(flat) + 1
            ]
            data = np.frombuffer(flat.buffers()[2], dtype=np.uint8)
            mat = data[offs[0] : offs[-1]].reshape(-1, 32)
            bits = (mat[:, :n_planes] < lt8).astype(np.int64)
            starts = np.zeros(m, dtype=np.int64)
            np.cumsum(lengths[:-1], out=starts[1:])
            cnt = np.add.reduceat(bits, starts, axis=0)
            # s_i = 2*cnt - n_tok; signature bit set iff s_i > 0
            pos = (2 * cnt - lengths[:, None]) > 0
            sig = (pos * weights).sum(axis=1)
            yield pa.RecordBatch.from_arrays(
                [doc, pa.array(sig, type=pa.int64())],
                names=["doc_id", "simhash"],
            )

    return base.mapInArrow(tally, f"doc_id {id_t}, simhash bigint")


def hamming_pairs(
    sigs: DataFrame,
    n_bits: int,
    max_hamming: int = 3,
    strategy: str = "banded",
    persist: bool = False,
) -> DataFrame:
    """All id pairs (doc_a < doc_b) whose ``n_bits``-wide signatures
    are within Hamming distance ``max_hamming``. ``sigs`` has columns
    (doc_id, sig) with sig a bigint; returns (doc_a, doc_b, hamming).

    The signature-agnostic half of ``simhash_neardup`` (r7: extracted
    so image perceptual hashes — ``operators/phash.py`` — reuse the
    same exact-guarantee search instead of growing a second banding
    implementation).

    ``strategy="banded"`` is the scale path with an EXACT guarantee —
    no probabilistic miss, unlike MinHash/sign-plane banding: split the
    n-bit signature into ``max_hamming + 1`` bands; by pigeonhole, two
    signatures within Hamming d must agree EXACTLY on at least one of
    the d+1 bands, so an equi-join on (band, band_bits) finds every
    qualifying pair. Candidates are verified with
    ``bit_count(sig_a XOR sig_b)`` — cheap, exact, JVM-side. The only
    shuffle keys are (band, bits) buckets; a bucket's size is bounded
    by the number of docs sharing one band value (n/2^width expected).
    Band extraction is shift-and-mask, so a signed bigint whose top
    bit is set bands correctly: shiftright sign-extends but the mask
    truncates back to the band width.

    ``strategy="brute"`` is the all-pairs oracle form for tests.

    ``persist=True`` eagerly materializes the 16-byte-per-row
    (doc_id, sig) table before the self-join. Both strategies
    reference the signature lineage TWICE (the a/b sides), and
    exchange reuse canNOT be relied on to deduplicate the upstream
    work: measured on the media operators' final plans,
    AQE picks a broadcast hash join for the banded equi-join, whose
    build side has no shuffle exchange at all — the final plan showed
    TWO decode (MapInPandas) nodes and zero ReusedExchange, i.e. every
    payload decoded twice. Callers whose signature producer is
    expensive (media decode; at 100 TB, two full corpus decode passes)
    should pass True — the media near-dup wrappers do by default.
    Text SimHash keeps the lazy default: re-hashing tokens is cheap
    relative to a checkpoint's scheduling cost at test scale.
    """
    bands = max_hamming + 1
    if n_bits % bands != 0:
        raise ValueError(
            f"n_bits={n_bits} must be divisible by max_hamming+1={bands}"
        )
    width = n_bits // bands
    sigs = sigs.select("doc_id", "sig")
    if persist:
        sigs = sigs.localCheckpoint(eager=True)
    a = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    b = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    hamming = F.bit_count(F.expr("sig_a ^ sig_b"))

    if strategy == "brute":
        pairs = a.join(b, F.col("doc_a") < F.col("doc_b"))
    elif strategy == "banded":
        mask = (1 << width) - 1
        band_rows = sigs.select(
            "doc_id",
            "sig",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band"),
                            F.expr(f"(sig >> {i * width}) & {mask}").alias("bits"),
                        )
                        for i in range(bands)
                    ]
                )
            ).alias("bb"),
        ).select("doc_id", "sig", "bb.band", "bb.bits")
        ca = band_rows.select(
            F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"), "band", "bits"
        )
        cb = band_rows.select(
            F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"), "band", "bits"
        )
        pairs = (
            ca.join(cb, ["band", "bits"])
            .where(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "sig_a", "doc_b", "sig_b")
            .distinct()
        )
    else:
        raise ValueError(f"unknown strategy: {strategy!r}")

    return (
        pairs.withColumn("hamming", hamming.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_neardup(
    docs: DataFrame,
    max_hamming: int = 3,
    n_planes: int = 32,
    strategy: str = "banded",
) -> DataFrame:
    """All document pairs (doc_a < doc_b) with SimHash Hamming distance
    ≤ ``max_hamming``. Returns (doc_a, doc_b, hamming). Signature
    construction is ``simhash_signatures``; the pair search is the
    shared pigeonhole banding (``hamming_pairs`` — see it for the
    exactness argument and the shuffle story)."""
    sigs = simhash_signatures(docs, n_planes).select(
        "doc_id", F.col("simhash").alias("sig")
    )
    return hamming_pairs(sigs, n_planes, max_hamming, strategy)
