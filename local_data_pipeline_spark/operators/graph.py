"""PageRank and HITS over an edge DataFrame — the iterative graph
operators beside connected-components label propagation
(operators/dedup.dedup_clusters).

Reference scope: the reference has no graph operators; this is §2.E
extension surface (graph centrality over co-occurrence graphs — e.g.
ranking parts by co-purchase centrality, or documents by citation).

Determinism: per-node contribution sums accumulate in exact DECIMAL
(order-insensitive at any parallelism — the same rule as
functions/numeric.dsum), so repeated runs and different partitionings
produce bit-identical ranks. The damping/dangling arithmetic is plain
double with identical expression shape every iteration.

Scale: each iteration is one join (ranks x edges, shuffled on the
edge source) plus one aggregate on the destination — the standard
Pregel-as-joins shape. Ranks are localCheckpoint'd (eager) each
iteration to stop lineage growth; the dangling-mass / normalizer
1-row totals ride that SAME job as ``Observation`` metrics (round
12 — the dedup_clusters convergence-probe pattern): previously each
was a separate in-plan broadcast cross join whose build was its own
job, doubling jobs per iteration. Exactness: the metrics are decimal
sums (order-insensitive), and the observe node executes inside the
checkpoint job's RESULT stage, where the scheduler ignores duplicate
completions of an already-finished result partition (speculative or
retried result tasks update accumulators at most once per partition
— unlike shuffle-map stages, the known SQL-metrics double-count
caveat does not apply) — so the literal fed into the next iteration
is bit-equal to the old in-plan broadcast column."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Decimal shape for rank mass: ranks are probabilities (<= 1), so all
#: 25 digits serve the fraction; 18 fractional digits keeps round-off
#: far below float64 epsilon while staying exactly mergeable.
_RANK_DEC = "decimal(25,18)"


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Rank nodes of the directed graph ``edges`` (columns src, dst).

    Returns (node, rank) with ranks summing to 1. Nodes are the union
    of sources and destinations; dangling nodes (no out-edges)
    redistribute their mass uniformly, so total mass is conserved
    exactly (up to the documented decimal scale)."""
    from pyspark.sql import Observation

    # checkpoint the edge relation ONCE (round 12): `nodes` and `shares`
    # below each eager-checkpoint a derivation of it, and an un-cut edge
    # plan — for the co-purchase callers a per-basket-quadratic
    # self-join + aggregate — re-executed inside BOTH jobs (measured at
    # sf0.1: 2.6-4.8 s + 2.8-3.3 s for the two checkpoints, vs ~0.45 s
    # per actual iteration). hits/kcore/label_propagation already cut
    # here; pagerank was the one that didn't.
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    out_deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
    # nodes carry a loop-invariant IS-DANGLING flag (no out-edges), so
    # each iteration's dangling mass is observable on the rank rows
    # themselves instead of through a per-iteration semi join + 1-row
    # broadcast aggregate (round 12 — see module docstring).
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
        .join(
            out_deg.select(F.col("src").alias("node"), F.lit(False).alias("__d")),
            "node",
            "left",
        )
        .select("node", F.coalesce(F.col("__d"), F.lit(True)).alias("__dang"))
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    # edges annotated with the 1/out_deg share; checkpointed once — the
    # loop re-reads this relation every iteration.
    shares = (
        e.join(out_deg, "src")
        .select("src", "dst", (F.lit(1.0) / F.col("out_deg")).alias("share"))
        .localCheckpoint(eager=True)
    )
    ranks = nodes.select("node", "__dang", F.lit(1.0 / n).alias("rank"))
    # initial dangling mass — same exact-decimal expression the loop
    # observes, over the (tiny, checkpointed) flag relation: one
    # O(|nodes|) job before the loop instead of a per-iteration subtree.
    dmass = nodes.filter(F.col("__dang")).agg(
        F.coalesce(
            F.sum(F.lit(1.0 / n).cast(_RANK_DEC)).cast("double"), F.lit(0.0)
        )
    ).first()[0]
    for _ in range(iterations):
        contribs = (
            ranks.join(shares, ranks["node"] == shares["src"])
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") * F.col("share")).cast(_RANK_DEC).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("double").alias("inflow"))
        )
        obs = Observation()
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                "__dang",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping) * F.lit(dmass) / F.lit(float(n))
                    + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("rank"),
            )
            # next iteration's dangling mass rides the checkpoint job as
            # an observed metric: exact decimal sum over the flagged rows
            # — the same value set the old semi-join aggregate summed
            # (sum skips the NULLs the `when` leaves on non-dangling
            # rows), and decimal addition is order-insensitive.
            .observe(
                obs,
                F.coalesce(
                    F.sum(
                        F.when(F.col("__dang"), F.col("rank").cast(_RANK_DEC))
                    ).cast("double"),
                    F.lit(0.0),
                ).alias("dmass"),
            )
            # cut lineage EVERY iteration (round-11 measurement; round 12
            # made the cut EAGER — the observed metric must be collected
            # before the next iteration's plan is built, and the lazy
            # variant was materialized by the next iteration's first job
            # anyway). At scale an uncached level is a corpus-sized
            # recompute, so one block-manager write per iteration is the
            # cheap side of the trade.
            .localCheckpoint(eager=True)
        )
        dmass = obs.get["dmass"]
    return ranks.select("node", "rank")


def hits(
    edges: DataFrame,
    iterations: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> "tuple[DataFrame, DataFrame]":
    """HITS hubs & authorities (Kleinberg, JACM 1999 — public paper) on
    the directed graph ``edges``; returns ``(hubs, auths)`` DataFrames of
    (node, score).

    Sum-normalized (scores sum to 1 per side) rather than the classic
    L2 norm: the normalizer is then an exact DECIMAL sum instead of a
    sqrt, which keeps every iteration's arithmetic bit-identical to a
    SQL oracle on any engine at any parallelism — the same determinism
    rule as :func:`pagerank`. Normalization direction (which side ranks
    first) is unchanged. Fixed ``iterations`` → known job count.

    Scale: per iteration, two join+agg passes (edges x scores shuffled
    on the join key); each side's sum-normalizer total rides the side's
    eager checkpoint job as an ``Observation`` metric (round 12 — see
    module docstring; previously a 1-row aggregate broadcast in-plan as
    a cross join, whose build was an extra job per side). Lineage is
    cut every iteration, exactly like pagerank; the normalizing
    division is applied as a projection OVER the checkpointed raw sums
    with the observed total as a literal — bit-equal to the old
    broadcast column (same decimal sum, same double division)."""
    from pyspark.sql import Observation

    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    hub_nodes = e.select(F.col("src").alias("node")).distinct()
    # driver-side count over the checkpointed edge relation (tiny job)
    # replaces the 1-row count broadcast: 1.0 / n is the identical IEEE
    # division either way.
    n_hubs = hub_nodes.count()
    h = hub_nodes.select("node", F.lit(1.0 / n_hubs).alias("score"))
    a = None
    from ..functions.numeric import dsum

    def _normalized(raw: DataFrame, key: str) -> DataFrame:
        """Checkpoint the raw per-node sums, observing their total on
        the same job; normalize as a projection over the checkpoint."""
        obs = Observation()
        raw = raw.observe(obs, dsum("s", 18).alias("t")).localCheckpoint(
            eager=True
        )
        return raw.select(
            F.col(key).alias("node"),
            (F.col("s") / F.lit(obs.get["t"])).alias("score"),
        )

    for _ in range(iterations):
        a = _normalized(
            e.join(h.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(dsum("score", 18).alias("s")),
            "dst",
        )
        h = _normalized(
            e.join(a.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(dsum("score", 18).alias("s")),
            "src",
        )
    return h, a


def label_propagation(
    edges: DataFrame,
    iterations: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007, the LPA
    community detector): every node seeds with its own id; each
    iteration every node adopts the MOST FREQUENT label among its
    in-neighbors, ties broken by the smallest label — which makes the
    whole recurrence deterministic, so the DuckDB twin can unroll the
    identical update into CTEs (the HITS-oracle pattern,
    queries._lpa_oracle_sql). ``edges`` must already contain both
    directions of each undirected edge; every node is assumed to have
    at least one in-edge (true for symmetrized edge sets).

    Scale: one shuffle join (labels x edges on the source) + one
    map-side-combinable (node, label) count + one per-node MIN-STRUCT
    argmax per iteration — Pregel-as-joins, same as pagerank/hits
    above. The argmax is ``min(struct(-c, label))``: struct ordering
    compares -c first (highest count wins), then the label itself, so
    ties break to the SMALLEST label — exactly the ``row_number() OVER
    (ORDER BY c DESC, label ASC) = 1`` window, but as a partially-aggregable
    hash aggregate instead of a sort-based window (no per-partition
    sort, and the second exchange carries one pre-merged row per
    (node, map task) instead of every (node, label) pair). No driver
    collect anywhere; labels are localCheckpoint'd (lazy) each
    iteration to stop lineage growth. Returns (node, label) after
    ``iterations`` rounds. Node ids may be of any orderable type
    (strings, any integer including ``Long.MIN_VALUE``): only the
    non-negative count is negated, never the label."""
    # checkpoint the edge relation ONCE (round-11): every iteration's
    # message join reads ``edges``, and an un-checkpointed edge plan —
    # for the co-purchase callers a per-basket-quadratic self-join —
    # re-executes inside EVERY iteration's checkpoint segment (the
    # round-11 LPA fix; see OPTIMIZATION_r11.md for the measured
    # before/after). pagerank/kcore already did this; LPA was the one
    # iterative operator that didn't.
    edges = edges.select(
        F.col(src).alias(src), F.col(dst).alias(dst)
    ).localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(iterations):
        msgs = edges.join(
            labels.withColumnRenamed("node", src), src
        ).select(F.col(dst).alias("node"), "label")
        counts = msgs.groupBy("node", "label").agg(F.count("*").alias("c"))
        labels = (
            counts.groupBy("node")
            .agg(
                F.min(F.struct((-F.col("c")).alias("nc"), F.col("label"))).alias(
                    "__best"
                )
            )
            .select("node", F.col("__best.label").alias("label"))
            .localCheckpoint(eager=False)
        )
    return labels


def kcore(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-core peel (Seidman 1983; the degeneracy-ordering workhorse for
    community cores and graph sparsification): iteratively remove nodes
    with fewer than ``k`` neighbors among the still-alive set, a fixed
    ``rounds`` times, then report each survivor's degree WITHIN the
    surviving subgraph. ``edges`` must be SYMMETRIZED (both directions
    present) so per-src counts are full degrees.

    Fixed rounds → known job count and an exactly-unrollable SQL twin
    (the hits/label_propagation oracle pattern); peeling is monotone
    (the alive set only shrinks), so once a round removes nothing the
    remaining rounds are no-ops and the result IS the true k-core —
    pytest pins convergence-within-rounds on the query's graph, and a
    cascade test pins the multi-round chain collapse.

    Scale: each round is one join+agg shuffled on the node key; the
    alive set shrinks monotonically, so later rounds cost less;
    lineage is cut every round (iterative-operator contract)."""
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    alive = e.select(F.col("src").alias("node")).distinct()
    for r in range(rounds):
        deg = (
            e.join(alive.withColumnRenamed("node", "src"), "src")
            .join(alive.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.count("*").alias("degree"))
        )
        alive = deg.filter(F.col("degree") >= k).select(
            F.col("src").alias("node")
        )
        # cut EVERY round (round-11): the alive set is referenced twice
        # per round (src and dst semi-joins), so an uncached round
        # re-executes — measured 2.7-3.1 s vs 2.4-2.7 s at sf0.1.
        alive = alive.localCheckpoint(eager=False)
    return (
        e.join(alive.withColumnRenamed("node", "src"), "src")
        .join(alive.withColumnRenamed("node", "dst"), "dst")
        .groupBy(F.col("src").alias("node"))
        .agg(F.count("*").alias("degree"))
    )
