"""Distributed PageRank as a DataFrame loop — the iterative-algorithm
pattern (fixed-point over a shuffle-joined edge table) the engine's other
iteration, connected components (operators/dedup.py::components_from_pairs),
also uses.

No GraphFrames dependency: ranks and edges are plain DataFrames, one hash
join + one aggregation per iteration, lineage truncated by
``localCheckpoint`` every iteration so the plan stays O(1) deep (at
cluster scale, ``checkpoint()`` to durable storage). Dangling-node mass is
redistributed uniformly, so total rank is conserved at every step — the
numpy power-iteration oracle in tests/test_operators.py matches to 1e-9.

Scale: per iteration the only shuffle is the edge join keyed on ``src``
(co-partitionable with the previous iteration's ranks — Spark reuses the
hash partitioning across iterations) plus a groupBy on ``dst``. Rank state
is one row per node; edges are never mutated. The reference has no graph
surface (SURVEY.md §1.4); this is engine surface for the north-star
lineage/link-analysis ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# per-iteration checkpoint release — shared helper (session.py), pinned
# by the private-API smoke test so a Spark upgrade that breaks it is loud
from ..session import release_checkpoint as _release_checkpoint  # noqa: E402


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    tol: float | None = None,
    checkpoint_every: int = 1,
) -> DataFrame:
    """PageRank over a directed edge list ``(src, dst)``.

    Returns ``(node, rank)`` with ``sum(rank) == 1`` (dangling mass
    redistributed uniformly each step). Deterministic up to float
    aggregation order (~1e-15 per step).

    Everything that does not change across iterations is computed ONCE,
    outside the loop:

    - ``links`` = distinct edges + out-degree, hash-partitioned by
      ``src`` and persisted — so the per-iteration join re-shuffles only
      the rank vector (one row per node), never the edge table. At 100 TB
      the edge table is the big side; shuffling it once instead of once
      per iteration is the difference between O(E) and O(E × iters)
      network traffic. The links build itself is ONE edge shuffle —
      ``repartition("src")`` first, then ``dropDuplicates(src, dst)``
      and a window ``count over (partition by src)`` for the degree,
      both of which Catalyst satisfies WITHOUT further exchange because
      hash(src) already clusters every (src, dst) group and every src
      partition (a distinct on (src, dst), a degree groupBy and a
      repartition after the degree join pay three edge-table shuffles —
      measured 9.5s vs ~5s on the co-purchase entry).
    - the DANGLING NODE SET is static (a node either has out-edges or it
      doesn't); deriving it per-iteration via a left join against the
      degree table (the old shape) paid an extra rank-vector join every
      step. Now the loop does one broadcast semi-join agg for the mass.

    Per iteration: one shuffle of the rank vector (join on ``src``), one
    aggregation (``groupBy dst``), one 1-row broadcast for dangling mass;
    lineage truncated by eager ``localCheckpoint`` with the PREVIOUS
    iteration's checkpoint explicitly unpersisted (bounds storage to one
    rank-vector copy regardless of iteration count).

    CONVERGENCE EARLY-EXIT: with ``tol`` set,
    iteration stops when ``max|rank_t − rank_{t−1}| < tol``. The delta
    rides INSIDE the rank update: the previous checkpoint joins into the
    new rank plan before materialization (same hash(node) partitioning —
    no extra exchange), so the probe is one tiny ``max(_delta)`` agg
    over the freshly materialized checkpoint blocks. A separate
    join+agg job per iteration would cost MORE than the fixed
    iterations it is meant to save (measured +0.85s/iter on
    the sf0.1 co-purchase graph). ``tol=None`` (default) preserves the
    exact fixed-``iterations`` contract the numpy power-iteration oracle
    pins to 1e-9; ``iterations`` is then the CAP. Measured co-purchase
    deltas (sf0.1, 20k nodes / 2.4M edges): 3.6e-5, 2.7e-6, 3.0e-7,
    4.2e-8, 5.5e-9 — geometric ~7.1× per step, so a tol at the output
    rounding quantum (1e-9) fires just past the 5-iteration cap; graphs
    that DO converge early stop paying scheduler latency, and the probe
    is cheap enough to leave on. The probe is STRICT per-step even
    with ``checkpoint_every > 1`` — tol callers pay one extra
    checkpoint per chain to pin the state one step before the chain's
    end (see the loop comment); tol=None callers are untouched.

    SKEW: the per-iteration
    ``groupBy("dst")`` on a power-law graph concentrates a hot node's
    in-edges on one reducer ONLY in name — Catalyst plans a partial
    (map-side) aggregation, so each map partition emits at most one
    pre-summed row per hot key and the final agg receives ≤ n_partitions
    rows per node, independent of in-degree. The skew-exposed edge is
    the ranks⋈links join keyed on ``src`` (a hot OUT-degree node inflates
    one join partition); AQE's skew-join split handles that at runtime
    (enabled in session defaults). Both behaviors are pinned by
    tests/test_operators.py::test_pagerank_power_law_hot_node."""
    from pyspark.sql.window import Window

    # (src, dst, deg): the only big table anything touches, built with
    # ONE edge shuffle. hash(src) clusters every (src, dst) group and
    # every src window partition, so the dedup and the degree count add
    # no exchange; the persisted partitioning then lets every iteration
    # plan a one-sided exchange (rank vector only).
    links = (
        edges.select("src", "dst")
        .repartition("src")
        .dropDuplicates(["src", "dst"])
        .withColumn("deg", F.count(F.lit(1)).over(Window.partitionBy("src")))
        .persist()
    )
    links.count()
    nodes = (
        links.select(F.col("src").alias("node"))
        .union(links.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n_nodes = nodes.count()
    # Static dangling set: nodes with no out-edge. Usually tiny (empty for
    # any symmetrized graph); broadcast into the per-iteration mass agg.
    dangling_nodes = nodes.join(
        links.select(F.col("src").alias("node")).distinct(), "node", "left_anti"
    ).persist()
    has_dangling = dangling_nodes.count() > 0

    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("rank"))

    def step(cur: DataFrame) -> DataFrame:
        contribs = (
            cur.join(links, cur["node"] == links["src"])
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("contrib"))
        )
        updated = nodes.join(contribs, nodes["node"] == contribs["dst"], "left")
        if not has_dangling:
            # No dangling nodes (e.g. any symmetrized graph, like the
            # co-purchase entry): the mass term is the CONSTANT +0.0 —
            # damping·0.0/n ≡ +0.0 and x + 0.0 is exact for the positive
            # base term — so the 1-row crossJoin the general path pays is
            # a per-step Range scan + BroadcastExchange +
            # BroadcastNestedLoopJoin that computes nothing. Ranks are
            # bit-identical to the general path (the numpy oracle pins
            # the values; test_pagerank_no_dangling_skips_mass_crossjoin
            # pins the plan).
            return updated.select(
                "node",
                (
                    F.lit((1.0 - damping) / n_nodes)
                    + F.lit(damping) * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("rank"),
            )
        # Rank mass parked on dangling nodes this step, as a 1-row
        # broadcast — no driver-side collect inside the loop.
        dangling = (
            cur.join(F.broadcast(dangling_nodes), "node", "leftsemi")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling_mass"))
        )
        return (
            updated.crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n_nodes)
                    + F.lit(damping) * F.col("dangling_mass") / F.lit(float(n_nodes))
                    + F.lit(damping) * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("rank"),
            )
        )

    prev_ck = None
    done = 0
    while done < iterations:
        # ``checkpoint_every`` chains this many update steps into ONE
        # materialization job (identical ranks, ~5% wall at sf0.1 —
        # half the scheduler/checkpoint round-trips; lineage depth stays
        # bounded at ``checkpoint_every`` steps).
        steps = min(max(checkpoint_every, 1), iterations - done)
        if tol is not None and steps > 1:
            # STRICT per-step probe: with chaining,
            # comparing ranks ``checkpoint_every`` steps apart was
            # conservative only for monotone convergence — an
            # oscillatory mode (eigenvalue near −damping) cancels across
            # 2 steps, reading ~6-7× tighter than the true per-step
            # delta at damping 0.85. So when a tolerance is
            # actually in force, materialize the chain MINUS its final
            # step, then run the final step with the delta piggybacked
            # against that checkpoint: the probe now measures a true
            # single-step delta for ANY spectrum, no caveat. Cost: one
            # extra checkpoint job per chain, paid ONLY by tol callers —
            # the fixed-iteration contract (tol=None, what the catalog
            # entry pins) keeps the single-job chain and its measured
            # wall win. Carrying the pre-final-step ranks through the
            # plan instead would duplicate the chain subtree (Spark 4
            # AQE does not stage-reuse it — PLANS.md), i.e. ~2× the
            # chain's work; the extra checkpoint is strictly cheaper.
            mid = ranks
            for _ in range(steps - 1):
                mid = step(mid)
            mid_ck = mid.localCheckpoint(eager=True)
            if prev_ck is not None:
                _release_checkpoint(prev_ck)
            prev_ck = mid_ck
            new_ranks = step(mid_ck)
            track_delta = True
        else:
            # single-step chains: prev_ck is already exactly one step
            # behind, so the piggybacked delta is per-step by
            # construction
            new_ranks = ranks
            for _ in range(steps):
                new_ranks = step(new_ranks)
            track_delta = tol is not None and prev_ck is not None
        if track_delta:
            # PIGGYBACKED delta: the previous checkpoint carries the
            # same hash(node) partitioning as the update's agg output, so
            # this join folds into the checkpoint-materialization job
            # with no extra exchange — a separate post-hoc delta join
            # costs a full join+agg JOB per iteration, measured +3.4s on
            # the 5-iteration co-purchase entry.
            new_ranks = new_ranks.join(
                prev_ck.select("node", F.col("rank").alias("_prev")), "node", "left"
            ).select(
                "node",
                "rank",
                F.abs(
                    F.col("rank") - F.coalesce(F.col("_prev"), F.lit(0.0))
                ).alias("_delta"),
            )
        ck = new_ranks.localCheckpoint(eager=True)
        converged = False
        if track_delta:
            # tiny agg over the already-materialized checkpoint blocks
            d = ck.agg(F.max("_delta").alias("d")).first()[0]
            converged = d is not None and d < tol
            ranks = ck.select("node", "rank")
        else:
            ranks = ck
        if prev_ck is not None:
            _release_checkpoint(prev_ck)
        prev_ck = ck
        done += steps
        if converged:
            break
    links.unpersist()
    nodes.unpersist()
    dangling_nodes.unpersist()
    return ranks
