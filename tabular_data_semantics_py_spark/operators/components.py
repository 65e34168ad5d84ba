"""Distributed connected components over the identity graph
(redirects ∪ sameAs) — the web-scale canonicalization primitive.

The reference resolves identity with a BOUNDED closure: ≤2 redirect
hops (challenge_utils.py:441-453) and one symmetric sameAs step
(kg/endpoints.py:530-538) — enough for its fixtures, where chains are
short by construction. At 10^12-file scale identity chains are
unbounded (redirect→redirect→sameAs→…), and the exact closure is
connected components over the union graph. ``connected_components``
implements the alternating large-star / small-star algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond",
ACM SoCC'14): O(log² n) rounds worst-case (O(log n) observed), each
round two key-shuffles, no driver-side graph state — the published
shape for trillion-edge graphs, expressed here as plain DataFrame
groupBy/join so Catalyst/AQE handle partitioning and skew.

Component ids are the MINIMUM node id (lexicographic for URI strings)
— deterministic, join-free to interpret, and stable under
repartitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dedup(edges: DataFrame) -> DataFrame:
    return edges.where(F.col("src") != F.col("dst")).dropDuplicates(
        ["src", "dst"]
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u over the SYMMETRIZED graph: m = min(Γ(u) ∪ {u});
    emit (v, m) for every neighbor v > u. Strictly-larger neighbors
    re-hang onto the local minimum; small neighbors keep their edges
    (emitted from their own perspective).

    Precondition: ``edges`` is deduplicated with src != dst (the loop
    guarantees it — every producer ends in ``_dedup``). The symmetric
    union is therefore at worst 2x-duplicated (both directions present
    in the caller's initial input only); min-agg is duplicate-
    insensitive and the trailing ``_dedup`` absorbs the join fan-out,
    so deduplicating ``sym`` here would be a pure extra shuffle of the
    full edge set per iteration."""
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("nbr_min"))
        .select(
            "src",
            F.least(F.col("nbr_min"), F.col("src")).alias("m"),
        )
    )
    # sym is already hash-partitioned by src from the groupBy — AQE
    # reuses the exchange for this equi-join
    return _dedup(
        sym.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient every edge large→small, then for each node u with
    smaller-or-equal neighbors N: m = min(N ∪ {u}); emit (v, m) for
    v ∈ N ∪ {u} \\ {m} — flattens local chains into stars.

    Precondition: ``edges`` is ``_large_star`` output — deduplicated
    and already oriented large→small, so the greatest/least rewrite is
    a no-op rename and re-deduplicating it would be a wasted shuffle;
    the trailing ``_dedup`` bounds the output."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"),
        F.least("src", "dst").alias("dst"),
    )
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    rehung = (
        oriented.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .unionByName(mins.select("src", F.col("m").alias("dst")))
    )
    return _dedup(rehung)


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    """(row count, order-insensitive multiset checksum). The checksum
    is a sum of per-edge xxhash64 values in decimal(38,0) — exact
    arithmetic, no long overflow. Two multisets colliding on BOTH
    count and a 64-bit-per-element sum has probability ~2⁻⁶⁴ per
    comparison; a false fixed-point would need a collision on the
    exact iteration the sets first differ."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.xxhash64("src", "dst").cast("decimal(38,0)")
        ).alias("h"),
    ).collect()[0]
    return int(row["n"] or 0), int(row["h"] or 0)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """(src, dst) undirected edge table → (node, component) with
    component = min node id of the connected component. Every node
    incident to an edge appears exactly once; callers union isolated
    nodes as (node, node) if they need total coverage. ``stats``, when
    given, receives {"rounds": <iterations to convergence>} — the
    scale-governing quantity (~log2(diameter), docs/components_rounds.md).

    Driver state per iteration: one (count, checksum) row — O(1).
    Lineage is truncated with a LAZY localCheckpoint per round — the
    fingerprint aggregation is the action that materializes it, so
    each iteration costs exactly one job (an eager checkpoint would
    add a second, count-only job per round for nothing; same
    lineage-truncation pattern as closure.build_closure_distributed's
    doubling loop).
    """
    cur = _dedup(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    ).localCheckpoint(False)
    prev_fp = _fingerprint(cur)
    rounds = 0
    for _ in range(max_iter):
        nxt = _small_star(_large_star(cur)).localCheckpoint(False)
        fp = _fingerprint(nxt)
        cur = nxt
        rounds += 1
        if fp == prev_fp:
            break
        prev_fp = fp
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "iterations (theoretical bound is O(log² n) rounds)"
        )
    if stats is not None:
        stats["rounds"] = rounds
    # fixed point = per-component stars centered on the min node;
    # min-agg (not dropDuplicates) so the result is deterministic
    # even on a not-quite-flattened graph
    return (
        cur.select(F.col("src").alias("node"), F.col("dst").alias("component"))
        .unionByName(
            cur.select(
                F.col("dst").alias("node"), F.col("dst").alias("component")
            )
        )
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )


def canonical_ids(nodes: DataFrame, edges: DataFrame, id_col: str) -> DataFrame:
    """The survivor-selection tail of corpus canonicalization:
    ``nodes`` (node) plus near-dup ``edges`` (src, dst) → (id_col,
    canonical_id, is_canonical), every node mapped to its component's
    min id and nodes without edges canonical to themselves."""
    comp = connected_components(edges)
    canonical = F.coalesce(F.col("component"), F.col("node"))
    return nodes.join(comp, "node", "left").select(
        F.col("node").alias(id_col),
        canonical.alias("canonical_id"),
        (canonical == F.col("node")).alias("is_canonical"),
    )
