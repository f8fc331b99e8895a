"""Transitive clustering: iterative large-star / small-star connected
components as DataFrame self-joins with checkpointed convergence.

The reference makes per-pair decisions only (check_landing_page...py emits
one decision per row; no transitive closure anywhere) — clusters are the
north_rule extension. Algorithm: Kiveris et al., "Connected Components in
MapReduce and Beyond" (SOCC'14) — alternating large-star/small-star rounds,
each a groupBy-min + join, O(log n) rounds on any graph shape.

Scale notes:
- every round is one shuffle (groupBy node) + one broadcast-size-agnostic
  join on node; ``localCheckpoint()`` after each round truncates lineage so
  the plan doesn't grow across iterations (SURVEY.md §7.4 risk (e)),
- convergence = the edge multiset stops changing, tested every round
  with a cheap count + xxhash64 checksum aggregate (no full exceptAll at
  scale); hitting the round cap raises instead of rolling up an
  unconverged graph,
- node ids are strings; min() over the string total order picks the root.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor v > u to min(N(u) ∪ {u}).

    No output ``distinct`` (one Exchange less per round): the composed
    round ``_small_star(_large_star(e))`` is duplicate-insensitive —
    small-star's groupBy-min ignores multiplicity and its own final
    distinct collapses the round's output — and the un-deduped
    intermediate is bounded by the input edge count, so the round result
    is identical while shuffling one fewer pass.
    """
    und = edges.select("u", "v").unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = und.groupBy("u").agg(F.min("v").alias("mv"))
    mins = mins.withColumn("m", F.least(F.col("mv"), F.col("u"))).drop("mv")
    return (
        und.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Within each node's smaller-or-equal neighborhood, connect all to the min."""
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    out = (
        directed.join(mins, "u")
        .select(F.col("v").alias("node"), "m")
        .unionByName(mins.select(F.col("u").alias("node"), "m"))
        .where(F.col("node") != F.col("m"))
        .select(F.col("node").alias("u"), F.col("m").alias("v"))
        .distinct()
    )
    return out


def _checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count("*").alias("n"),
        # decimal sum: ANSI-safe (no long overflow) and order-independent
        F.coalesce(
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
    assume_no_self_loops: bool = False,
) -> DataFrame:
    """(node, cluster_id) for every node appearing in ``edges``(u, v).

    cluster_id = min node id of the component (deterministic, order-free —
    the CC invariants of SURVEY.md §5.5).

    Raises ``RuntimeError`` when ``max_iter`` star rounds pass without two
    equal consecutive checksums: the roll-up below is correct only on a
    converged star graph, and an unconverged one yields duplicate,
    conflicting rows. The input plan is deliberately NOT persisted: an A/B
    at the 10x proxy measured the cache materialization barrier costing
    MORE (+1.5s) than it saves, and the input plan is evaluated ONCE
    anyway (round 0) — the roll-up reads only the converged, checkpointed
    star graph (plus, when self-loops are possible, one filter-pushed pass
    for them).

    ``assume_no_self_loops=True`` skips the self-loop singleton pass —
    pass it when no input row can have ``u == v`` (pair generators
    emitting ``left < right``, side-prefixed bipartite keys). A node seen
    ONLY in ``u == v`` rows then vanishes from the output. The incremental
    plan's seed edges carry a ``(r, r)`` row for the root of every prior
    cluster (each has at least 2 members); that plan keeps the default.
    """
    e = edges.select("u", "v").where(F.col("u") != F.col("v")).distinct()
    prev = None
    for _ in range(max_iter):
        # Checkpointing EVERY round is load-bearing, not just lineage
        # hygiene: a round reads its input from several places (both union
        # branches of ``und`` and the groupBy), so an un-truncated 2-round
        # plan recomputes the previous round multiplicatively — measured 5x
        # slower at sf1.0 with checkpoints at check boundaries only. Lazy:
        # the checksum action materializes it, so a round costs ONE job.
        # Checking every round converges in the minimum number of rounds —
        # the checksum is a cheap count+sum agg, a wasted star round a full
        # groupBy+join+distinct pass (r6: 4.4s -> 3.2s on the j5 graph).
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        cur = _checksum(e)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components: no convergence after {max_iter} rounds"
            f" (max_iter={max_iter})"
        )
    # Converged star graph: every edge is (member, root), members and roots
    # are disjoint, and the rounds preserve the (u != v)-filtered node set —
    # so labels ∪ distinct-roots IS the full non-isolated node assignment.
    # The roll-up therefore reads ONLY the checkpointed converged edges,
    # never the upstream edge DAG a second time.
    labels = e.select(F.col("u").alias("node"), F.col("v").alias("cluster_id"))
    roots = (
        e.select(F.col("v").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("cluster_id"))
    )
    out = labels.unionByName(roots)
    if not assume_no_self_loops:
        # nodes seen ONLY in self-loop rows never enter the rounds; recover
        # them with one highly selective filter-pushed pass over the input
        # (u == v prunes at the scan) anti-joined against the converged
        # node set. When the pass yields nothing — every production caller —
        # AQE's empty-relation propagation elides the join at runtime.
        self_nodes = (
            edges.where(F.col("u") == F.col("v"))
            .select(F.col("u").alias("node"))
            .distinct()
        )
        in_e = labels.select("node").unionByName(
            e.select(F.col("v").alias("node"))
        )
        singles = self_nodes.join(in_e, "node", "left_anti").select(
            "node", F.col("node").alias("cluster_id")
        )
        out = out.unionByName(singles)
    return out
