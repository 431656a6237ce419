"""Connected components over near-duplicate pair graphs.

Pair mining (operators/dedup.py) emits edges; a curation pipeline needs
CLUSTERS — transitive closure of the near-dup relation — so it can keep
one canonical document per cluster and drop the rest. Components are the
min-reachable-id labeling computed by iterative label propagation:

    label(v) <- min(label(v), min over neighbors(label(u)))

repeated to fixpoint. Each round is one shuffle (edge-label join +
min-aggregate); rounds needed = graph diameter, and near-dup graphs are
almost all tiny cliques (diameter 1-2), so 2-3 rounds converge. For
adversarially long chains the large-star/small-star variant (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14) converges
in O(log n) rounds with the same per-round shape — propagation is kept
here because real dedup graphs never get deep and the per-round cost is
lower.

Scale notes (100 TB posture):
  * The edge list (including one self-loop per node, see below) is
    repartitioned by the JOIN key and cached once — every round reuses
    the same co-partitioned edges, so only the (small) label side moves.
  * Self-loops fold the proposal step into the neighbor aggregation:
    min over labels of nbrs(v) ∪ {v} IS the new label, so a round is
    ONE join + ONE aggregation — no join back onto the previous label
    relation (round 13; the old shape paid a second corpus-keyed
    shuffle per round for that left join).
  * Each round stage-checkpoints the labels: iterative joins otherwise
    stack lineage, and round N replans rounds 1..N-1 (exponential plan
    growth). On a real cluster set spark.hridaya.reliableCheckpoints
    (checkpoints.py) to route every round through a reliable
    `checkpoint()` to the DFS checkpoint dir instead.
  * Convergence is detected with the same order-insensitive
    (xor-of-hash, swapped-args xor-of-hash) signature pair the
    alternating variant uses — one tiny aggregation action per round
    over the CURRENT label blocks only, instead of the old
    changed-label count that joined each round's labels against the
    previous round's (re-reading both checkpoint block sets). Labels
    are monotone non-increasing, so labels-stable ⟺ signature-stable
    up to a simultaneous 64+64-bit collision.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hridaya_steam_market_tracker_spark.checkpoints import stage_checkpoint


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 15,
) -> DataFrame:
    """Label every node with min reachable node id (undirected edges
    ``(i, j)``).

    Returns (node, component); component == min id in the node's
    connected component, so `node == component` marks one canonical
    survivor per cluster. Nodes absent from `edges` come out as
    singletons labeled by themselves. Precondition (every in-repo pair
    miner satisfies it by construction — pairs are mined from the same
    relation the nodes come from): edge endpoints ⊆ `nodes`; an edge
    referencing an unknown id would add that id to the output.

    Per-round shape (round 13): ONE edge-label equi-join + ONE
    min-aggregation. The symmetric edge relation carries a self-loop
    per node, so min(component over nbrs(v) ∪ {v}) is already the
    proposed label — the old second shuffle per round (left-joining
    proposals back onto the previous labels for `least(...)` and the
    changed-count) is gone, and convergence is the alternating
    variant's double xor-hash signature over the current round's
    blocks only. The label TRAJECTORY is unchanged: round k's labels
    equal the old implementation's round k labels exactly.

    A fixpoint shows one round after the labels settle, so a graph of
    diameter D needs at most D + 1 rounds; if ``max_iter`` rounds end
    without two equal consecutive signatures, this raises rather than
    return unconverged labels.
    """
    sym = (
        edges.select(F.col("i").alias("s"), F.col("j").alias("d"))
        .unionByName(edges.select(F.col("j").alias("s"), F.col("i").alias("d")))
        # one self-loop per node: folds `least(own, neighbor-min)` into
        # the aggregation and guarantees every node a row each round
        .unionByName(
            nodes.select(F.col(id_col).alias("s"), F.col(id_col).alias("d"))
        )
        # co-partition on the JOIN key (labels attach on d == node; the
        # old code partitioned by s, which no per-round operator used,
        # so at scale every round re-shuffled the cached edges)
        .repartition("d")
        .cache()
    )
    labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("component")
    )
    prev_sig = None
    converged = False
    for _ in range(max_iter):
        labels = (
            sym.join(labels, sym["d"] == labels["node"])
            .groupBy(F.col("s").alias("node"))
            .agg(F.min("component").alias("component"))
            # Lazy checkpoint: the signature action below materializes
            # the round's blocks while it computes — one job per round.
            .transform(lambda d: stage_checkpoint(d, eager=False))
        )
        row = labels.agg(
            # bit_xor: order-independent, cannot overflow under ANSI.
            # Swapped-argument variant is an independent second checksum
            # (same convergence detector as alternating_components).
            F.expr("bit_xor(xxhash64(node, component))").alias("h1"),
            F.expr("bit_xor(xxhash64(component, node))").alias("h2"),
        ).first()
        sig = (row["h1"], row["h2"])
        if prev_sig == sig:
            converged = True
            break
        prev_sig = sig
    sym.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_iter} rounds; "
            f"labels would be wrong — refusing to return them"
        )
    return labels


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to u's min-neighborhood id."""
    sym = edges.select("s", "d").unionByName(
        edges.select(F.col("d").alias("s"), F.col("s").alias("d"))
    )
    w = F.min(F.least(F.col("d"), F.col("s")))
    per_u = sym.groupBy("s").agg(
        w.alias("m"), F.collect_set("d").alias("nbrs")
    )
    return (
        per_u.select(
            "m", F.explode(F.filter("nbrs", lambda v: v > F.col("s"))).alias("v")
        )
        .select(F.col("v").alias("s"), F.col("m").alias("d"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Re-star each node's smaller-or-equal neighborhood onto its minimum."""
    oriented = edges.select(
        F.greatest("s", "d").alias("s"), F.least("s", "d").alias("d")
    ).filter(F.col("s") != F.col("d"))
    per_u = oriented.groupBy("s").agg(
        F.min("d").alias("m"), F.collect_set("d").alias("nbrs")
    )
    return (
        per_u.select(
            "s",
            "m",
            F.explode(F.array_union("nbrs", F.array(F.col("s")))).alias("v"),
        )
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("s"), F.col("m").alias("d"))
        .distinct()
    )


_STAR_ROUNDS = 12


def alternating_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Connected components in O(log n) rounds — large-star/small-star.

    Same contract as `connected_components` (returns (node, component) with
    component = min reachable id), but convergence is logarithmic in the
    longest chain instead of linear: each large-star/small-star pair at
    least halves path lengths (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14, public algorithm). Use this when the
    pair graph may contain adversarially deep chains — e.g. near-dup
    graphs over templated/boilerplate corpora where doc A ~ B ~ C ... form
    long similarity chains; label propagation's rounds == diameter is a
    stall there, while this stays ~log2(n).

    Per-round shape: two groupBy-on-node shuffles (the star re-hangs),
    each followed by a distinct — no joins at all, so no skewed build
    sides; the hottest key is a component minimum, whose fan-in is the
    component size, identical to the output's own skew. Fixpoint is
    detected with (count, xor-hash, xor-hash-with-swapped-args) — two
    independent order-insensitive checksums, so a false fixpoint needs a
    simultaneous 64+64-bit collision (one tiny action per round); labels
    stage-checkpoint each round to keep lineage flat.

    The downstream star extraction is only valid on FIXPOINT edges; a
    non-converged edge set would yield wrong component minima with no
    other signal. If ``_STAR_ROUNDS`` rounds don't stabilize, a warning
    is emitted and up to ``_STAR_ROUNDS`` extra rounds run; if still
    unstable, this raises rather than return silently wrong labels. In
    12 rounds the algorithm's geometric contraction covers chains of
    length ~2^12, so reaching the fallback means pathological input.
    """
    # Lazy checkpoints (round 13): each round's signature aggregation
    # below is the action that materializes that round's checkpoint
    # blocks — one job per round instead of a dedicated materialization
    # job plus a signature job. Blocks, lineage cuts and the fixpoint
    # trajectory are identical.
    e = (
        edges.select(F.col("i").alias("s"), F.col("j").alias("d"))
        .filter(F.col("s") != F.col("d"))
        .distinct()
        .transform(lambda d: stage_checkpoint(d, eager=False))
    )
    prev_sig = None
    converged = False
    for rounds in range(1, 2 * _STAR_ROUNDS + 1):
        e = _small_star(_large_star(e)).transform(
            lambda d: stage_checkpoint(d, eager=False)
        )
        sig = e.agg(
            F.count(F.lit(1)).alias("n"),
            # bit_xor: order-independent, cannot overflow under ANSI mode.
            # Swapped-argument variant is an independent second checksum.
            F.expr("bit_xor(xxhash64(s, d))").alias("h1"),
            F.expr("bit_xor(xxhash64(d, s))").alias("h2"),
        ).first()
        cur = (sig["n"], sig["h1"], sig["h2"])
        if prev_sig == cur:
            converged = True
            break
        prev_sig = cur
        if rounds == _STAR_ROUNDS:
            warnings.warn(
                f"alternating_components: no fixpoint after {_STAR_ROUNDS} "
                f"rounds; running up to {_STAR_ROUNDS} more",
                RuntimeWarning,
                stacklevel=2,
            )
    if not converged:
        raise RuntimeError(
            f"alternating_components failed to reach a fixpoint after "
            f"{2 * _STAR_ROUNDS} large-star/small-star rounds; labels would be "
            f"wrong — refusing to return them"
        )
    # Fixpoint edges are stars hi->component-min; every non-canonical node
    # has exactly one outgoing edge to its component minimum.
    star = e.select(
        F.greatest("s", "d").alias("node"), F.least("s", "d").alias("component")
    ).groupBy("node").agg(F.min("component").alias("component"))
    return (
        nodes.select(F.col(id_col).alias("node"))
        .join(star, "node", "left")
        .select("node", F.coalesce("component", "node").alias("component"))
    )


def cluster_labels(
    ids: DataFrame, pairs: DataFrame, components=connected_components
) -> DataFrame:
    """(id, component) for every row of the one-column id frame ``ids``
    over the ``(i, j)`` pair graph ``pairs``, the id column keeping its
    name; ``component`` is the cluster's min id, so ``id == component``
    marks its canonical member. ``components`` is either algorithm."""
    (id_col,) = ids.columns
    return components(ids, pairs, id_col=id_col).withColumnRenamed("node", id_col)
