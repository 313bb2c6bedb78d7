"""PageRank, HITS, label propagation and k-core over an edge DataFrame,
plus :func:`iterate`, the round loop they and connected components
(operators/dedup.dedup_clusters) share.

Reference scope: the reference has no graph operators; this is §2.E
extension surface (graph centrality over co-occurrence graphs — e.g.
ranking parts by co-purchase centrality, or documents by citation).

Determinism: per-node contribution sums accumulate in exact DECIMAL
(order-insensitive at any parallelism — the same rule as
functions/numeric.dsum), so repeated runs and different partitionings
produce bit-identical ranks. The damping/dangling arithmetic is plain
double with identical expression shape every iteration.

Scale: each round is one join (state x edges, shuffled on the join key)
plus one aggregate — the standard Pregel-as-joins shape. The edge
relation is cut once before the loop; how each round's lineage is cut
and how a 1-row total reaches the next round is :func:`iterate`'s
business."""

from __future__ import annotations

import itertools
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.numeric import dsum

#: Decimal shape for rank mass: ranks are probabilities (<= 1), so all
#: 25 digits serve the fraction; 18 fractional digits keeps round-off
#: far below float64 epsilon while staying exactly mergeable.
_RANK_DEC = "decimal(25,18)"


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, dict | None], DataFrame],
    rounds: int,
    observe: Sequence[Column] = (),
    until: Callable[[dict], bool] | None = None,
) -> tuple[DataFrame, dict | None]:
    """The round loop of every iterative DataFrame operator: run
    ``state = step(state, metrics)`` at most ``rounds`` times and return
    ``(state, metrics)`` after the last round. ``metrics`` is the dict of
    ``observe`` aggregates over the state ``step`` is given (None in the
    first round, and always None when nothing is observed).

    Lineage is cut every round, since at scale an uncut level is a
    corpus-sized recompute in every later round. The cut follows from the
    arguments:

    - with ``observe``, the round's output is checkpointed EAGERLY and the
      aggregates ride that checkpoint's own job as ``Observation``
      metrics, so no separate action runs;
    - without, it is checkpointed LAZILY and its last stage runs inside
      the next round's job (under AQE the round's shuffle stages still run
      when the cut is taken).

    ``until(metrics)`` ends the loop after the first round where it holds
    (connected components' ``changed == 0``). A sum over an empty relation
    observes None, so a predicate such as ``not m["changed"]`` counts an
    empty state as converged instead of looping forever.

    Retries cannot change a metric: the observe node sits on top of the
    round's plan, so it runs in the checkpoint job's RESULT stage, where
    the scheduler ignores duplicate completions of an already-finished
    partition — a speculative or retried task updates the metric at most
    once per partition (the SQL-metrics double count applies to
    shuffle-map stages only). Decimal sums are order-insensitive, so a
    metric fed into the next round as a literal is bit-equal to the same
    total computed in-plan."""
    metrics = None
    for _ in range(rounds):
        state = step(state, metrics)
        if not observe:
            state = state.localCheckpoint(eager=False)
            continue
        obs = Observation()
        state = state.observe(obs, *observe).localCheckpoint(eager=True)
        metrics = obs.get
        if until is not None and until(metrics):
            break
    return state, metrics


def _edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The distinct (src, dst) relation, cut once: every round re-reads
    it, and an uncut edge plan — for the co-purchase callers a
    per-basket-quadratic self-join + aggregate — would re-execute inside
    every round's job (OPTIMIZATION_r11.md, round 12)."""
    return (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )


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
    exactly (up to the documented decimal scale). Each iteration's
    dangling mass is observed on the previous ranks' cut; a first round
    only cuts the uniform start to observe its mass."""
    e = _edges(edges, src, dst)
    out_deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
    # nodes carry a loop-invariant IS-DANGLING flag (no out-edges), so
    # each iteration's dangling mass is observable on the rank rows
    # themselves instead of through a per-iteration semi join + 1-row
    # broadcast aggregate.
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

    def step(ranks: DataFrame, m: dict | None) -> DataFrame:
        if m is None:  # the first round only cuts and observes the start
            return ranks
        contribs = (
            ranks.join(shares, ranks["node"] == shares["src"])
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") * F.col("share")).cast(_RANK_DEC).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("double").alias("inflow"))
        )
        return nodes.join(contribs, "node", "left").select(
            "node",
            "__dang",
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping) * F.lit(m["dmass"]) / F.lit(float(n))
                + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))
            ).alias("rank"),
        )

    # dangling mass: exact decimal sum over the flagged rows (sum skips
    # the NULLs the `when` leaves on non-dangling rows)
    dmass = F.coalesce(
        F.sum(F.when(F.col("__dang"), F.col("rank").cast(_RANK_DEC))).cast("double"),
        F.lit(0.0),
    ).alias("dmass")
    start = nodes.select("node", "__dang", F.lit(1.0 / n).alias("rank"))
    ranks, _ = iterate(start, step, iterations + 1, observe=[dmass])
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

    Scale: each iteration is two :func:`iterate` rounds, authorities from
    hubs and then hubs from authorities, each one join+agg over the edges.
    A round outputs raw per-node sums and observes their total; the next
    round normalizes them as a projection over the cut with the total as
    a literal. A first round only cuts the start (every hub at 1) to
    observe its total, the hub count."""
    e = _edges(edges, src, dst)
    sides = itertools.cycle((("src", "dst"), ("dst", "src")))
    used: dict[str, DataFrame] = {}  # last normalized side, by join key

    def normalized(raw: DataFrame, m: dict) -> DataFrame:
        return raw.select("node", (F.col("s") / F.lit(m["t"])).alias("score"))

    def step(raw: DataFrame, m: dict | None) -> DataFrame:
        if m is None:  # the first round only cuts and observes the start
            return raw
        frm, to = next(sides)
        used[frm] = scores = normalized(raw, m)
        return (
            e.join(scores.withColumnRenamed("node", frm), frm)
            .groupBy(F.col(to).alias("node"))
            .agg(dsum("score", 18).alias("s"))
        )

    start = e.select(F.col("src").alias("node")).distinct().select(
        "node", F.lit(1.0).alias("s")
    )
    raw, m = iterate(
        start, step, 2 * iterations + 1, observe=[dsum("s", 18).alias("t")]
    )
    return normalized(raw, m), used.get("dst")


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
    collect anywhere; the rounds run through :func:`iterate`, which
    cuts each round's labels lazily. Returns (node, label) after
    ``iterations`` rounds. Node ids may be of any orderable type
    (strings, any integer including ``Long.MIN_VALUE``): only the
    non-negative count is negated, never the label."""
    # the edge relation is cut once, as in _edges but without the
    # distinct: a repeated edge is a repeated message here
    edges = edges.select(
        F.col(src).alias(src), F.col(dst).alias(dst)
    ).localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )

    def step(labels: DataFrame, _m: None) -> DataFrame:
        msgs = edges.join(
            labels.withColumnRenamed("node", src), src
        ).select(F.col(dst).alias("node"), "label")
        counts = msgs.groupBy("node", "label").agg(F.count("*").alias("c"))
        return (
            counts.groupBy("node")
            .agg(
                F.min(F.struct((-F.col("c")).alias("nc"), F.col("label"))).alias(
                    "__best"
                )
            )
            .select("node", F.col("__best.label").alias("label"))
        )

    start = nodes.select("node", F.col("node").alias("label"))
    labels, _ = iterate(start, step, iterations)
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
    remaining rounds are no-ops and the result IS the true k-core. A
    peel that has not converged by then returns the ``rounds``-round
    peel, a superset of the k-core; pytest pins convergence within the
    declared query's budget on the sf0.001 test data, and a cascade test
    pins the multi-round chain collapse.

    Scale: each round is one join+agg shuffled on the node key; the
    alive set shrinks monotonically, so later rounds cost less. The
    alive set is referenced twice per round (src and dst semi-joins), so
    an uncut round would re-execute: :func:`iterate` cuts it lazily
    every round."""
    e = _edges(edges, src, dst)

    def step(alive: DataFrame, _m: None) -> DataFrame:
        deg = (
            e.join(alive.withColumnRenamed("node", "src"), "src")
            .join(alive.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.count("*").alias("degree"))
        )
        return deg.filter(F.col("degree") >= k).select(F.col("src").alias("node"))

    alive, _ = iterate(e.select(F.col("src").alias("node")).distinct(), step, rounds)
    return (
        e.join(alive.withColumnRenamed("node", "src"), "src")
        .join(alive.withColumnRenamed("node", "dst"), "dst")
        .groupBy(F.col("src").alias("node"))
        .agg(F.count("*").alias("degree"))
    )
