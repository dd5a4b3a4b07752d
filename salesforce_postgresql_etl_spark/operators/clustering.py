"""Connected components over a near-dup pair graph → dedup clusters.

The dedup pipeline's last stage: pair emitters (MinHash-LSH, SimHash,
embedding-LSH — operators/dedup.py, simsearch.py) produce EDGES, but
what a corpus build actually needs is one CLUSTER id per document and
one canonical survivor per cluster (near-duplication is transitive in
effect: A≈B and B≈C must collapse to one kept doc even when A,C were
never paired).

Algorithm: iterative min-label propagation WITH pointer jumping.
Every node starts labeled with itself; each round every node takes the
min label over itself and its neighbors, then jumps its label to its
label's label (path compression — Shiloach/Vishkin-style shortcutting,
the same accelerant GraphFrames' CC uses). Fixpoint = components
labeled by their min member.

Scale shape (100 TB story):
- per round: one shuffle join (edges ⋈ labels on the neighbor id) +
  one groupBy(node) min + one labels ⋈ labels jump join — all
  hash-partitioned on node ids, no driver-side state. The only driver
  action is the one-row changed-count that decides termination.
- rounds needed: ~log(diameter) with jumping. Measured on the sf0.1
  LSH pair graph (190,925 edges): plain min-label took ELEVEN rounds
  (9.6 s of loop) — the r5 "quasi-cliques converge in 2-3 rounds"
  claim did not survive measurement; real near-dup graphs carry
  chain-of-cluster tails. Pointer jumping collapses the same graph in
  6 rounds (r6, SCALE.md "pointer jumping" — the measured number; an
  earlier draft said 4). For adversarial pure-chain graphs the alternative is
  alternating large-star/small-star (Kiveris et al., "Connected
  Components in MapReduce and Beyond", CIKM'14) — implemented below
  as ``connected_components_star``: same per-round primitives,
  O(log² n) rounds worst case, pytest-proven equivalent to min-label
  on chains, cliques, and the LSH pair graph.
- lineage: each round's labels are eagerly localCheckpoint-ed —
  without truncation the plan doubles every iteration and Catalyst
  analysis, not the data, becomes the bottleneck. On a cluster with an
  HDFS checkpoint dir, swap for ``checkpoint()`` (documented, not
  env-gated: local mode has no reliable checkpoint dir).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# Size-based partitioning for the contraction loop's small frames
# (mapping / contracted-edge tables). The coalesce happens BEFORE the
# localCheckpoint, so it also sets the parallelism of the stage that
# COMPUTES the frame — 100k rows/partition keeps a 381k-edge round-1
# parallel (4 tasks) while collapsing the vanishing later rounds to
# single-task stages (measured: 2M here serialized round 1 into one
# task and cost more than it saved; the r6 "128m scan splits can
# serialize local map stages" lesson, rediscovered). At scale the
# count is capped by the input's own partition count.
_LOOP_ROWS_PER_PARTITION = 100_000

# r13 (guide §3.1 "pick the join strategy deliberately"): the loop
# frames are eagerly checkpointed, which strips Catalyst size stats, so
# auto-broadcast NEVER fires and every mapping-table join runs as a
# sort-merge with two shuffle exchanges — even in round 2+ when the
# contracted graph is a handful of rows. The loops already measure the
# exact per-round edge count (the Observation termination probes), so
# the broadcast decision is made from REAL counts, not estimates: a
# mapping table bounded by <= 2·n_edges rows of (long, long) below this
# row cap is broadcast. 1M rows ≈ 16 MB of key/value data (~50 MB as a
# built hash relation) — comfortably inside executor memory anywhere.
# At 100 TB the first round's billions of edges keep the gate shut and
# the joins stay sort-merge; contracted later rounds flip to broadcast
# exactly when their data justifies it.
_CC_BROADCAST_ROWS = 1_000_000

# r13 OPT (guide §2.6 fixed job overhead): pointer hops composed per
# checkpointed compression pass in the broadcast regime. Each pass is
# ONE plan whose chained left joins all probe the SAME broadcast of the
# pass-input mapping (one BroadcastExchange, reused), so a pass costs 2
# jobs regardless of hop count — where a squaring pass costs 2 jobs for
# reach ×2, a hop-chain pass reaches ×(hops+1). Reach across passes is
# (hops+1)^passes vs 2^passes. 7 hops → chains ≤ 8 compress in ONE
# 2-job pass (the measured LSH graph needed FOUR squaring passes = 8
# jobs), ≤ 64 in two.
_CC_JUMP_HOPS = 7

# r14 OPT (guide §4.2 "do the heavy lifting in native code", §2.6 job
# overhead): once the MEASURED edge count clears this gate the whole
# remaining component computation fits one task, and the contract
# loop's per-round checkpoints + broadcast builds are pure driver
# round-trips — 19 jobs on the sf0.1 ER match graph to contract
# ~135k edges that one vectorized Shiloach-Vishkin pass labels in
# milliseconds. The default reuses the broadcast gate's bound (≤ 1M
# edge rows ≈ 16 MB — trivially one-task-sized); at 100 TB the first
# billions-of-edges rounds keep the distributed loop and the finish
# only ever sees the contracted remnant. Tests pin the loop path by
# zeroing it.
_CC_LOCAL_FINISH_ROWS = _CC_BROADCAST_ROWS


def _maybe_broadcast(df: DataFrame, bound_rows: int) -> DataFrame:
    """Broadcast-hint ``df`` when its row bound clears the gate."""
    return F.broadcast(df) if bound_rows <= _CC_BROADCAST_ROWS else df


def _cc_local_finish(base: DataFrame) -> DataFrame:
    """(u, v) long edges, gate-bounded → (node, comp) in ONE Arrow
    crossing over a single partition: vectorized min-label propagation
    with pointer jumping (Shiloach–Vishkin shape) in NumPy.

    Exactness: labels start as each node's own id (via its index in
    the SORTED unique node array, so index order == id order), every
    step takes elementwise minima of reachable labels, and the loop
    runs to a fixpoint — the result is exactly (node, min reachable
    id), the same contract every loop engine converges to. Integer
    arithmetic only; row order is deterministic (sorted by node).
    Self-loops are harmless (they propagate a node's own label);
    callers gate NULL endpoints away before dispatching here.
    """

    def finish(batches):
        import numpy as np
        import pyarrow as pa

        us, vs = [], []
        for batch in batches:
            if batch.num_rows == 0:
                continue
            us.append(batch.column(0).to_numpy(zero_copy_only=False))
            vs.append(batch.column(1).to_numpy(zero_copy_only=False))
        if not us:
            return
        u = np.concatenate(us)
        v = np.concatenate(vs)
        nodes = np.unique(np.concatenate([u, v]))
        ui = np.searchsorted(nodes, u)
        vi = np.searchsorted(nodes, v)
        lab = np.arange(len(nodes), dtype=np.int64)
        for _ in range(64):
            new = lab.copy()
            # hook: every endpoint takes the min of its neighbor's label
            np.minimum.at(new, ui, lab[vi])
            np.minimum.at(new, vi, lab[ui])
            # compress: labels only ever decrease and new[x] <= x by
            # construction, so chasing pointers is monotone
            while True:
                nn = new[new]
                if np.array_equal(nn, new):
                    break
                new = nn
            if np.array_equal(new, lab):
                break
            lab = new
        else:  # pragma: no cover — 2^64 exceeds any min-label chain
            raise RuntimeError("local CC finish did not converge")
        comp = nodes[lab]
        step = 1 << 20
        for i in range(0, len(nodes), step):
            yield pa.record_batch(
                [pa.array(nodes[i : i + step]), pa.array(comp[i : i + step])],
                names=["node", "comp"],
            )

    return base.coalesce(1).mapInArrow(finish, "node bigint, comp bigint")


def connected_components(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_iters: int = 50,
) -> DataFrame:
    """(a, b) undirected edges → (node, comp); comp = min node id reachable.

    Only nodes that appear in at least one edge are returned (isolated
    docs are their own cluster trivially — callers left-join if they
    want singletons labeled).
    """
    base = pairs.select(
        F.col(a).cast("long").alias("u"), F.col(b).cast("long").alias("v")
    )
    # Materialize the one-directional edges BEFORE symmetrizing (r6,
    # VERDICT r5 #3): union(base, base.swapped) embeds the pair-emitter
    # subtree (LSH banding / brute verify — the expensive part) twice in
    # the same plan, and the lazy persist below doesn't stop the first
    # action from evaluating both branches. One eager materialization,
    # then every loop iteration and both union branches read the cache.
    # (measured: the lsh-cluster bench entry 7.9 s → see SCALE.md r6)
    base = base.localCheckpoint(eager=True)
    edges = (
        base.union(base.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        nbr = edges.join(
            labels.select(
                F.col("node").alias("v"), F.col("comp").alias("nbr_comp")
            ),
            "v",
        ).select(F.col("u").alias("node"), F.col("nbr_comp").alias("comp"))
        mins = (
            labels.union(nbr).groupBy("node").agg(F.min("comp").alias("comp"))
        )
        # Pointer jump (r6): comp ← comp's own label. comp is always a
        # real node id inside the same component (invariant: starts as
        # self; min over same-component neighbor labels preserves it;
        # the jump target's label shares the component too), and labels
        # are monotone non-increasing toward the component min — so the
        # jump is sound and doubles propagation reach per round:
        # measured 11 rounds → 6 on the sf0.1 LSH pair graph. LEFT
        # join + coalesce is defensive only (inner would do).
        roots = mins.select(
            F.col("node").alias("comp"), F.col("comp").alias("root_comp")
        )
        new_labels = (
            mins.join(roots, "comp", "left")
            .select(
                "node", F.coalesce("root_comp", "comp").alias("comp")
            )
            .localCheckpoint(eager=True)
        )
        # r13: termination needs emptiness, not a count — limit-1 scan
        unchanged = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.comp") != F.col("o.comp"))
            .isEmpty()
        )
        labels = new_labels
        if unchanged:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "(graph diameter exceeds max_iters — raise it, or use a "
            "star-contraction variant for long-chain graphs)"
        )
    edges.unpersist()
    return labels


def split_oversized_clusters(
    comp: DataFrame,
    attrs: DataFrame,
    verify,
    max_cluster_size: int,
) -> DataFrame:
    """(r7, VERDICT r6 #5) The production escalation behind the
    over-merge tripwire: members of clusters larger than
    ``max_cluster_size`` are re-verified DIRECTLY against the cluster
    hub (the record whose id is the cluster label, i.e. the min
    member); members that fail the pairwise check split out as
    singleton clusters instead of riding a transitive chain.

    ``comp`` is (node, comp) as returned by the CC operators. ``attrs``
    is (node, attr) — the attribute the verifier reads. ``verify`` is a
    callable ``(member_attr: Column, hub_attr: Column) -> boolean
    Column`` (e.g. ``lambda m, h: F.levenshtein(m, h) <= 1``).

    Scale shape: the oversized-cluster id list is tiny by construction
    (it's the anomaly set) and broadcast; members re-join attrs hash-
    partitioned on node/comp — never all-pairs. Known limitation,
    deliberate scope: split-outs are singletons — a production pipeline
    re-blocks them for a second pass; what this stage guarantees is
    that no record stays merged WITHOUT a direct pairwise match to its
    hub. Members whose attr (or whose hub's attr) is MISSING from
    ``attrs`` therefore also split out: they cannot be verified, and
    the guarantee — plus "no row ever vanishes" (r7 review: the old
    inner joins silently dropped them) — beats keeping an unprovable
    merge."""
    sizes = comp.groupBy("comp").agg(F.count(F.lit(1)).alias("_n"))
    oversized = sizes.where(F.col("_n") > max_cluster_size).select("comp")
    keep = comp.join(oversized, "comp", "left_anti").select("node", "comp")
    attr_m = attrs.select(
        F.col(attrs.columns[0]).alias("node"),
        F.col(attrs.columns[1]).alias("_attr_m"),
    )
    attr_h = attrs.select(
        F.col(attrs.columns[0]).alias("comp"),
        F.col(attrs.columns[1]).alias("_attr_h"),
    )
    # LEFT joins so a missing attr row can never drop a member; a NULL
    # attr makes verify() evaluate NULL, the when() falls through, and
    # the member splits to a singleton — unverifiable ≠ merged.
    checked = (
        comp.join(F.broadcast(oversized), "comp")
        .join(attr_m, "node", "left")
        .join(attr_h, "comp", "left")
        .select(
            "node",
            F.when(
                (F.col("node") == F.col("comp"))
                | verify(F.col("_attr_m"), F.col("_attr_h")),
                F.col("comp"),
            )
            .otherwise(F.col("node"))
            .alias("comp"),
        )
    )
    return keep.union(checked)


def dedup_clusters(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_cluster_size: int | None = None,
    oversize_action: str = "raise",
    attrs: DataFrame | None = None,
    verify=None,
    cc: str = "contract",
) -> DataFrame:
    """Edges → (doc_id, cluster_id, is_canonical).

    ``cluster_id`` is the min doc_id in the component; the canonical
    survivor is that min doc (deterministic, order-independent — the
    same keep-lowest rule as exact dedup's min(doc_id)).

    ``cc`` picks the connected-components engine — all three produce
    IDENTICAL labels (pytest-proven): ``"contract"`` (default since
    r7 — geometric edge shrinkage, the best 100 TB shape and ~25%
    faster than label-prop on the measured LSH loop), ``"star"``
    (large-star/small-star, the adversarial-chain specialist),
    ``"labelprop"`` (pointer-jumped min-label propagation, the
    diameter-bound baseline).

    ``max_cluster_size`` (r6, VERDICT r5 #4): transitive closure over a
    pairwise similarity predicate can chain-merge records that are NOT
    pairwise similar (A≈B, B≈C, but A,C far apart — the classic
    entity-resolution over-merge). ``oversize_action`` picks the
    response (r7, VERDICT r6 #5):

    - ``"raise"`` (default): the cheap tripwire — any component larger
      than the cap raises, naming offending cluster ids. Costs one
      extra action over the (already materialized) label table.
    - ``"split"``: the documented production escalation — members of
      oversized clusters are re-verified directly against the cluster
      hub via ``split_oversized_clusters`` (requires ``attrs`` +
      ``verify``); failures become singletons instead of silently
      riding the chain.
    """
    if oversize_action not in ("raise", "split"):
        raise ValueError(f"unknown oversize_action: {oversize_action!r}")
    if oversize_action == "split" and max_cluster_size is None:
        # An explicitly configured escalation must never silently no-op
        # (r7 review: the old nesting skipped the whole stage).
        raise ValueError(
            "oversize_action='split' requires max_cluster_size — without "
            "a cap the escalation would silently never fire"
        )
    cc_fns = {
        "contract": connected_components_contract,
        "star": connected_components_star,
        "labelprop": connected_components,
    }
    if cc not in cc_fns:
        raise ValueError(f"unknown cc engine: {cc!r}")
    comp = cc_fns[cc](pairs, a, b)
    if max_cluster_size is not None and oversize_action == "split":
        if attrs is None or verify is None:
            raise ValueError(
                "oversize_action='split' needs attrs (node, attr) and a "
                "verify(member, hub) predicate"
            )
        comp = split_oversized_clusters(comp, attrs, verify, max_cluster_size)
    elif max_cluster_size is not None:
        bad = (
            comp.groupBy("comp")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > max_cluster_size)
            .limit(5)
            .collect()
        )
        if bad:
            ids = [(r["comp"], r["n"]) for r in bad]
            raise ValueError(
                f"over-merged clusters exceed max_cluster_size="
                f"{max_cluster_size}: (cluster_id, size) = {ids} — "
                "transitive chaining has fused dissimilar records; "
                "re-verify pairs within these clusters (oversize_action="
                "'split') or tighten the match predicate"
            )
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("cluster_id"),
        (F.col("node") == F.col("comp")).cast("int").alias("is_canonical"),
    )


def connected_components_contract(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_iters: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Min-label CC by GRAPH CONTRACTION (r7, VERDICT r6 #2): instead of
    joining the FULL edge list against the label table every round (the
    ``connected_components`` loop's fixed per-round cost), relabel the
    edges themselves into the label graph each round — edge (u, v)
    becomes (l(u), l(v)), self-loops drop, duplicates collapse. Dense
    near-dup graphs (quasi-cliques from LSH buckets) collapse almost
    entirely in the first contraction, so rounds 2+ run on a vanishing
    edge set; before each application the round's mapping is compressed
    to idempotence by repeated squaring (l ← l∘l until stable —
    self-joins of the tiny mapping table only, ≤ log₂ chain length of
    them), so even a pure path graph collapses in O(1) contraction
    rounds of O(log n) squarings.

    Exactness: l(u) = min(u, Γ(u)) maps every node to a node of the
    same component; the component minimum maps to itself every round,
    and the label-graph image of a connected set is connected, so a
    component becomes edgeless only when contracted to a single node —
    necessarily its min. Composing the per-round mappings into
    ``labels`` therefore yields exactly the (node, min-reachable-id)
    contract of ``connected_components`` (equality pytest-proven on
    chains, cliques, random graphs, and the real LSH pair graph).

    Measured vs the pointer-jumping label-prop loop on the sf0.1
    MinHash-LSH pair graph (190,925 pairs): see SCALE.md "r7: CC by
    contraction" — the one-directional edge list shrinks 190,925 →
    ~hundreds after one contraction, and the loop's cost concentrates
    in round 1 (which reads the caller's pair list as-is; there is no
    symmetric-edge materialization at all).

    Job-overhead discipline (the loop's data is tiny after round 1, so
    scheduling fixed costs dominate locally and round-trips dominate on
    a cluster): the stability probe rides INSIDE the squaring join (a
    scan of the checkpointed mapping, not an extra join job); per-round
    mappings are composed into the final labels ONCE after the loop
    (k left-joins in one plan over checkpointed inputs) instead of a
    checkpointed fold per round; and loop frames are coalesced to
    ~``_LOOP_ROWS_PER_PARTITION`` rows per partition from the measured
    edge count — size-based like AQE's advisory target, so a 10B-node
    graph still gets thousands of partitions while a 381k-edge local
    graph stops scheduling 32-task stages for 2k-row tables.
    """
    # r13 (guide §1.2 "per-task work" is NOT the cost here — §2.6-style
    # fixed job overhead is): every driver probe that used to be its own
    # job (per-round edge count, squaring stability, relabeled-edge
    # count) now rides the frame's eager-checkpoint job as an observed
    # metric (``Observation`` fires when the checkpoint materializes),
    # cutting the loop from ~7 to ~4 jobs per round. Values are exactly
    # the counts the probes computed — same termination, same stats.
    base_obs = Observation()
    base = (
        pairs.select(
            F.col(a).cast("long").alias("u"), F.col(b).cast("long").alias("v")
        )
        .observe(
            base_obs,
            F.count(F.lit(1)).alias("n"),
            F.count(
                F.when(F.col("u").isNull() | F.col("v").isNull(), 1)
            ).alias("nulls"),
        )
        .localCheckpoint(eager=True)
    )
    sym = base.union(base.select(F.col("v").alias("u"), F.col("u").alias("v")))
    next_n_edges = int(base_obs.get["n"])
    # r14 (guide §4.2/§2.6): gate-bounded graphs skip the loop — one
    # Arrow crossing computes the same (node, min-reachable-id) labels
    # in a single task (see _cc_local_finish). The gate uses the
    # MEASURED count riding the checkpoint job, and NULL endpoints
    # (whose group/join semantics the loop defines) keep the loop.
    if (
        0 < next_n_edges
        and 2 * next_n_edges <= _CC_LOCAL_FINISH_ROWS
        and int(base_obs.get["nulls"]) == 0
    ):
        if stats is not None:
            stats["rounds"] = 0
            stats["edges_per_round"] = [next_n_edges]
            stats["local_finish"] = True
        return _cc_local_finish(base)
    in_parts = max(base.rdd.getNumPartitions(), 1)
    # The loop's edge list stays ONE-DIRECTIONAL: the per-round min is
    # computed over a lazy two-scan union of the checkpointed frame
    # (symmetrizing inside the aggregation), and contracted edges are
    # re-canonicalized with greatest/least. This removes the 2×-row
    # symmetric materialization entirely — round 1 reads the caller's
    # pair list as-is (dups and self-loops are harmless: min() ignores
    # dups, a self-loop contributes its own id, and relabeled
    # self-loops drop at the lu != lv filter).
    edges = base
    rounds = 0
    edge_counts: list[int] = []
    mappings: list[DataFrame] = []
    mapping_bounds: list[int] = []
    while True:
        n_edges = next_n_edges
        if n_edges == 0:
            break
        if rounds >= max_iters:
            # Checked AFTER the emptiness probe so a graph that converges
            # in exactly max_iters rounds doesn't raise spuriously (the
            # old for/else only discovered emptiness one iteration late).
            raise RuntimeError(
                f"connected_components_contract did not converge in "
                f"{max_iters} rounds (pathological input — raise max_iters)"
            )
        rounds += 1
        edge_counts.append(n_edges)
        nparts = max(1, min(in_parts, -(-n_edges // _LOOP_ROWS_PER_PARTITION)))
        # Mapping table rows = nodes of the current graph <= 2·n_edges.
        node_bound = 2 * n_edges
        # r13 OPT (guide §2.4 "remove shuffles outright"): in the
        # broadcast regime the loop frames are small enough that the
        # shuffle exchanges themselves are pure overhead — coalescing
        # the aggregation INPUT to one partition makes SinglePartition
        # satisfy every downstream distribution requirement, so the
        # min-label aggregate and the contracted-edge distinct plan
        # with ZERO exchanges (one job per checkpoint instead of an
        # AQE stage-materialization job per exchange). Bounded work: a
        # gate-open round processes <= _CC_BROADCAST_ROWS/2 edges on
        # one core — sub-second — while 100 TB round one (gate shut)
        # keeps the hash-partitioned shuffle plan unchanged.
        tight = node_bound <= _CC_BROADCAST_ROWS
        if tight:
            nparts = 1
        un = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        if tight:
            un = un.coalesce(1)
        l = (
            un.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("u", "mv").alias("l"))
            .coalesce(nparts)
            .localCheckpoint(eager=True)
        )
        # Compress the mapping to idempotence before applying it:
        # pointer-chain reach must cover the longest label chain —
        # quasi-cliques converge immediately, a path graph needs
        # log-many passes. A SINGLE jump is not enough: on a chain it
        # only shifts labels by a constant, leaving Θ(n) contraction
        # rounds. The jump target l(u) is a current-graph node, hence
        # in l's own domain (the symmetrized aggregation puts every
        # endpoint in u); LEFT + coalesce is defensive only. Two
        # regimes (r13 OPT, guide §2.6 — job round-trips, not data,
        # dominate the compressed mapping):
        #
        # - broadcast regime (node_bound clears the r13 gate): each
        #   checkpointed pass chains ``_CC_JUMP_HOPS`` lookups of the
        #   SAME pass-input mapping g — all hops probe one broadcast,
        #   built once — computing g^(hops+1) in 2 jobs. Passes feed
        #   their output back as the next lookup, so reach is
        #   (hops+1)^passes. The pass is SELF-CERTIFYING: if the FINAL
        #   hop moved zero rows then g(x_h(u)) = x_h(u) for every u
        #   (x_h = x_{h-1} pointwise and x_h = g(x_{h-1})), i.e. every
        #   VALUE w of the output satisfies g(w) = w, hence
        #   out(out(u)) = g^(hops+1)(w) = w = out(u) — idempotent with
        #   no confirming pass. Measured on the sf0.1 LSH pair graph:
        #   round-1 compression 4 squaring passes (8 jobs) → 2 chain
        #   passes (4 jobs); rounds 2-3 one pass each.
        # - sort-merge regime (gate shut — 100 TB round 1, billions of
        #   edges): per-squaring checkpoints exactly as before (l ← l∘l,
        #   reach 2^passes). Chaining hops here would stack ``hops``
        #   full shuffle joins of a billion-row table in one plan —
        #   the broadcast reuse that makes hops free does not exist.
        if node_bound <= _CC_BROADCAST_ROWS:
            lk = F.broadcast(
                l.select(F.col("u").alias("_k"), F.col("l").alias("_v"))
            )
            for _ in range(64):
                sq_obs = Observation()
                cur = l
                for h in range(_CC_JUMP_HOPS):
                    hop = F.coalesce("_v", "l")
                    cols = ["u", hop.alias("l")]
                    if h == _CC_JUMP_HOPS - 1:  # stability rides last hop
                        cols.append((hop != F.col("l")).alias("_moved"))
                    cur = cur.join(
                        lk, F.col("l") == F.col("_k"), "left"
                    ).select(*cols)
                l2 = (
                    cur.coalesce(nparts)
                    .observe(
                        sq_obs,
                        F.count(F.when(F.col("_moved"), 1)).alias("moved"),
                    )
                    .localCheckpoint(eager=True)
                )
                stable = int(sq_obs.get["moved"]) == 0
                l = l2.select("u", "l")
                if stable:
                    break
                lk = F.broadcast(
                    l.select(F.col("u").alias("_k"), F.col("l").alias("_v"))
                )
            else:  # pragma: no cover — 8^64 exceeds any pointer chain
                raise RuntimeError("mapping compression did not converge")
        else:
            for _ in range(64):
                sq_obs = Observation()
                l2 = (
                    l.join(
                        _maybe_broadcast(
                            l.select(
                                F.col("u").alias("l"), F.col("l").alias("ll")
                            ),
                            node_bound,
                        ),
                        "l",
                        "left",
                    )
                    .select(
                        "u",
                        F.coalesce("ll", "l").alias("l"),
                        (F.coalesce("ll", "l") != F.col("l")).alias("_moved"),
                    )
                    .coalesce(nparts)
                    .observe(
                        sq_obs,
                        F.count(F.when(F.col("_moved"), 1)).alias("moved"),
                    )
                    .localCheckpoint(eager=True)
                )
                # stability rides the checkpoint job (r13) — no probe job
                stable = int(sq_obs.get["moved"]) == 0
                l = l2.select("u", "l")
                if stable:
                    break
            else:  # pragma: no cover — 2^64 exceeds any pointer chain
                raise RuntimeError("mapping compression did not converge")
        mappings.append(l)
        mapping_bounds.append(node_bound)
        e_obs = Observation()
        if tight:
            # single-partition probe side → the post-join distinct needs
            # no exchange (see the tight-regime note above)
            edges = edges.coalesce(1)
        edges = (
            edges.join(
                _maybe_broadcast(
                    l.select("u", F.col("l").alias("lu")), node_bound
                ),
                "u",
            )
            .join(
                _maybe_broadcast(
                    l.select(F.col("u").alias("v"), F.col("l").alias("lv")),
                    node_bound,
                ),
                "v",
            )
            .where(F.col("lu") != F.col("lv"))
            .select(
                F.greatest("lu", "lv").alias("u"),
                F.least("lu", "lv").alias("v"),
            )
            .distinct()
            .coalesce(nparts)
            .observe(e_obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        next_n_edges = int(e_obs.get["n"])
    if stats is not None:
        stats["rounds"] = rounds
        # free telemetry — the counts double as the termination checks
        stats["edges_per_round"] = edge_counts
    # Compose the per-round mappings once: node → l₁ → l₂ → … → lₖ.
    # Every input is checkpointed, so this is k small left-joins in ONE
    # plan/action instead of k checkpointed folds inside the loop. A
    # node absent from a round's mapping had already contracted to its
    # final (edgeless) label — the coalesce keeps it. Labels cover every
    # edge-touched node INCLUDING self-loop-only ones (the same node
    # set ``connected_components`` returns).
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
    )
    for i, m in enumerate(mappings):
        labels = labels.join(
            _maybe_broadcast(
                m.select(
                    F.col("u").alias("comp"), F.col("l").alias(f"_n{i}")
                ),
                mapping_bounds[i],
            ),
            "comp",
            "left",
        ).select("node", F.coalesce(f"_n{i}", "comp").alias("comp"))
    return labels


def _canon(edges: DataFrame) -> DataFrame:
    """Undirected edge set as distinct (u > v) pairs, self-loops dropped."""
    return (
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame, node_bound: int = 2**62) -> DataFrame:
    """Large-star(u): every neighbor v > u re-attaches to
    m = min(Γ(u) ∪ {u}). ``node_bound`` bounds the per-node min table
    (one row per node) for the r13 broadcast gate.

    Output is oriented-but-not-distinct (r13 OPT, guide §2.4 "remove
    shuffles outright"): every emitted row (v, m) already satisfies
    v > m and v != m BY CONSTRUCTION — m = min(Γ(u) ∪ {u}) ≤ u and the
    where() keeps only v > u, so v > u ≥ m strictly — which is all of
    ``_canon``'s work except the duplicate drop. ``_small_star``
    tolerates duplicate input rows exactly (its per-node min is
    dup-insensitive and its own closing ``_canon`` dedups), so the
    intermediate distinct was one full shuffle exchange per alternation
    spent removing rows the next aggregation ignores. Dup volume is
    bounded by the symmetric edge count (each input row emits ≤ 1 row).
    """
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    tight = node_bound <= _CC_BROADCAST_ROWS
    if tight:
        # tight regime (r13 OPT / r14 VERDICT #4): one partition → the
        # aggregate plans without an exchange (SinglePartition
        # satisfies its distribution requirement). r14 removes the
        # per-alternation join + broadcast-build job entirely: the
        # join only re-attached m = min(Γ(u) ∪ {u}) to u's neighbor
        # rows, which a collect_list aggregate carries directly —
        # explode(filter(vs, v > u)) emits exactly the join's
        # (v, m) rows. collect_list is safe HERE ONLY because the
        # measured gate bounds the round's edges (≤ _CC_BROADCAST_ROWS
        # /2 rows in one task); a hub node at 100 TB would make the
        # list a skew bomb, so the gate-shut path keeps the join.
        # (A plain SinglePartition join is NOT an option: the
        # checkpointed inputs carry default 8 EiB size stats, and
        # spark.sql.maxSinglePartitionBytes makes EnsureRequirements
        # re-shuffle single-partition JOIN children it estimates too
        # big — measured: 2 exchanges + 4 extra jobs per alternation.)
        agg = sym.coalesce(1).groupBy("u").agg(
            F.collect_list("v").alias("vs")
        )
        return agg.select(
            F.explode(
                F.filter(F.col("vs"), lambda x: x > F.col("u"))
            ).alias("u"),
            F.least(F.array_min("vs"), F.col("u")).alias("v"),
        )
    mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
    m = mins.select(
        "u", F.least(F.col("mv"), F.col("u")).alias("m")
    )
    return (
        sym.join(_maybe_broadcast(m, node_bound), "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame, node_bound: int = 2**62) -> DataFrame:
    """Small-star(u): all smaller neighbors (and u itself) attach to
    the minimum smaller neighbor. Input must be oriented (u > v, no
    self-loops); duplicate rows are tolerated — the per-node min is
    dup-insensitive and the closing ``_canon`` dedups (r13: lets
    ``_large_star`` skip its intermediate distinct exchange).
    ``node_bound`` as in ``_large_star``."""
    tight = node_bound <= _CC_BROADCAST_ROWS
    if tight:
        # tight regime (r14 — see _large_star's note): the join +
        # union only re-attached m = min of the smaller neighbors to
        # each neighbor row and appended u's own (u, m) row; one
        # collect_list aggregate + explode(vs ++ [u]) emits the same
        # multiset in a single exchange-free SinglePartition stage —
        # no broadcast-build job, no union branch. Gate-bounded rows
        # only; the gate-shut path keeps the join.
        agg = edges.coalesce(1).groupBy("u").agg(
            F.collect_list("v").alias("vs")
        )
        un = agg.select(
            F.explode(
                F.concat(F.col("vs"), F.array(F.col("u")))
            ).alias("u"),
            F.array_min("vs").alias("v"),
        )
        return _canon(un)
    mins = edges.groupBy("u").agg(F.min("v").alias("m"))
    nbr = edges.join(_maybe_broadcast(mins, node_bound), "u").select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    own = mins.select("u", F.col("m").alias("v"))
    return _canon(nbr.union(own))


def connected_components_star(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_iters: int = 40,
    stats: dict | None = None,
) -> DataFrame:
    """Alternating large-star/small-star contraction — the scale path
    for graphs whose diameter rivals their size (min-label propagation
    pays one round PER HOP of diameter; star contraction halves tree
    heights every alternation, so chains collapse in O(log n) rounds).

    Same contract as ``connected_components``: (a, b) edges → (node,
    comp) with comp = min reachable id, only edge-touched nodes
    returned. Fixpoint = the edge set is stable, at which point it is
    a union of stars rooted at component minimums. ``stats['rounds']``
    (if a dict is passed) records the alternations used.
    """
    raw = pairs.select(
        F.col(a).cast("long").alias("u"), F.col(b).cast("long").alias("v")
    ).localCheckpoint(eager=True)
    e_obs = Observation()
    edges = (
        _canon(raw)
        .observe(e_obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    # Node set comes from the RAW pairs, not the canonicalized edges:
    # _canon drops self-loops, and a node appearing ONLY in a self-loop
    # must still be labeled (as its own singleton) to match the other
    # two engines' contract exactly. r14 (guide §2.6 fixed job
    # overhead): built LAZILY — it is consumed exactly once, by the
    # final labels join, and ``raw`` is already checkpointed, so the
    # old eager checkpoint materialized the distinct in its own job
    # only for the final action to re-read it. Folding it into the
    # final plan is one fewer job for identical total work.
    n_edges = int(e_obs.get["n"])
    node_union = raw.select(F.col("u").alias("node")).union(
        raw.select(F.col("v").alias("node"))
    )
    if 2 * n_edges <= _CC_BROADCAST_ROWS:
        # tight regime: SinglePartition input lets the node distinct
        # plan exchange-free inside the final action (see _large_star)
        node_union = node_union.coalesce(1)
    nodes = node_union.distinct()
    for rounds in range(1, max_iters + 1):
        # r13: the round count rides the checkpoint job as an observed
        # metric (same fixed-job-overhead cut as the contract loop).
        r_obs = Observation()
        node_bound = 2 * n_edges
        new_edges = (
            _small_star(_large_star(edges, node_bound), node_bound)
            .observe(r_obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        # Convergence = edge-set equality. Count-gate the expensive
        # check (r7): counts come from cheap scans of the checkpointed
        # frames; only when they match can the sets be equal, and then
        # ONE exceptAll suffices — _canon output is a distinct SET, so
        # new ⊆ old with |new| = |old| forces new = old. The old
        # two-sided exceptAll ran every round.
        n_new = int(r_obs.get["n"])
        changed = 1
        if n_new == n_edges:
            changed = new_edges.exceptAll(edges).limit(1).count()
        edges, n_edges = new_edges, n_new
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iters} "
            "alternations (pathological input — raise max_iters)"
        )
    if stats is not None:
        stats["rounds"] = rounds
    # Stable star edges are (child, root); roots and any node whose
    # component fully contracted label themselves. The broadcast hint
    # is required for the exchange-free final plan even though both
    # sides are SinglePartition in the tight regime: the checkpointed
    # parents side carries default 8 EiB size stats and
    # spark.sql.maxSinglePartitionBytes would re-shuffle a plain
    # single-partition join (see _large_star's r14 note).
    parents = edges.select(F.col("u").alias("node"), F.col("v").alias("comp"))
    return nodes.join(
        _maybe_broadcast(parents, 2 * n_edges), "node", "left"
    ).select(
        "node", F.coalesce(F.col("comp"), F.col("node")).alias("comp")
    )
