"""graph.iterate, the one round loop of the iterative operators: its exit,
its two cut modes, the jobs each operator runs on one small fixed graph,
and a scan that keeps ``Observation`` inside the kernel."""

import ast
import os

from pyspark.sql import functions as F

from local_data_pipeline_spark.operators import clustering, dedup, graph, pq
from local_data_pipeline_spark.operators.graph import iterate

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: a directed graph of three triangles in a chain plus two tails
PAIRS = [
    (1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4),
    (6, 7), (7, 8), (8, 9), (9, 7), (9, 10), (10, 11), (12, 1),
]


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn fired), counted by job group."""
    sc = spark.sparkContext
    group = f"test_iterate-{os.urandom(4).hex()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _double(df, _m):
    return df.select((F.col("id") * 2).alias("id"))


def test_until_stops_at_first_round_where_it_holds(spark):
    seen = []

    def step(df, m):
        seen.append(m)
        return df.select((F.col("id") + 1).alias("id"))

    state, m = iterate(
        spark.range(3),
        step,
        10,
        observe=[F.max("id").alias("top")],
        until=lambda m: m["top"] >= 5,
    )
    # the top id after r rounds is 2 + r: the exit holds first at r = 3
    assert seen == [None, {"top": 3}, {"top": 4}]
    assert m == {"top": 5}
    assert sorted(r.id for r in state.collect()) == [3, 4, 5]


def test_empty_state_counts_as_converged(spark):
    """A sum over an empty relation observes None, which the exit reads
    as converged: one round, not ``rounds``."""
    calls = []

    def step(df, m):
        calls.append(m)
        return df

    empty = spark.createDataFrame([], "label long, old_label long")
    changed = F.sum((F.col("label") < F.col("old_label")).cast("long"))
    _, m = iterate(
        empty,
        step,
        5,
        observe=[changed.alias("changed")],
        until=lambda m: not m["changed"],
    )
    assert calls == [None]
    assert m == {"changed": None}


def test_unobserved_round_runs_no_job_of_its_own(spark):
    """Nothing to observe: each round is cut lazily, and the rounds run
    inside the next action's job."""
    (state, m), jobs = _jobs(spark, lambda: iterate(spark.range(4), _double, 3))
    assert (jobs, m) == (0, None)
    rows, jobs = _jobs(spark, lambda: sorted(r.id for r in state.collect()))
    assert (rows, jobs) == ([0, 8, 16, 24], 1)


def test_observed_round_reads_its_metrics_from_the_cut_job(spark):
    (state, m), jobs = _jobs(
        spark,
        lambda: iterate(spark.range(4), _double, 3, observe=[F.sum("id").alias("s")]),
    )
    assert (jobs, m) == (3, {"s": 48})


def test_unobserved_aggregating_round_runs_only_its_shuffle_stage(spark):
    """Under AQE taking a lazy cut still runs the round's shuffle stage
    (one job per round here); the eager cut adds the round's last stage
    as a second job."""

    def regroup(df, _m):
        return df.groupBy((F.col("id") % 7).alias("id")).agg(F.count("*").alias("n"))

    _, lazy = _jobs(spark, lambda: iterate(spark.range(50), regroup, 3))
    _, eager = _jobs(
        spark,
        lambda: iterate(spark.range(50), regroup, 3, observe=[F.count("*").alias("c")]),
    )
    assert (lazy, eager) == (3, 6)


def _graph(spark, symmetric=False):
    pairs = PAIRS + [(b, a) for a, b in PAIRS] if symmetric else PAIRS
    return spark.createDataFrame(pairs, "src long, dst long")


def _vectors(spark):
    rows = [(i, [float(i % 5), float(i % 3), float(i % 7), 1.0]) for i in range(40)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_iterative_operator_job_counts(spark):
    """Jobs per call, results collected, on one fixed small graph. A
    kernel that added a job per round would move every count here.
    pagerank and HITS each run one job fewer than their hand-rolled
    loops did (50 and 37): the start state's cut observes the first
    dangling mass and hub count, instead of a separate action. pagerank
    is down two more, to 47: its node count rides the nodes' own cut
    instead of a separate ``count()``, which costs two jobs under AQE."""
    directed, sym = _graph(spark), _graph(spark, symmetric=True)
    pairs = directed.toDF("id_a", "id_b")
    emb = _vectors(spark)
    runs = {
        "pagerank": lambda: graph.pagerank(directed, iterations=5).collect(),
        "hits": lambda: [s.collect() for s in graph.hits(directed, iterations=3)],
        "label_propagation": lambda: graph.label_propagation(sym, iterations=4).collect(),
        "dedup_clusters": lambda: dedup.dedup_clusters(pairs).collect(),
        "kmeans_fit": lambda: clustering.kmeans_fit(emb, k=3, n_iters=3),
        "pq_train": lambda: pq.pq_train(emb, m=2, k=4, n_iters=3),
    }
    got = {name: _jobs(spark, run)[1] for name, run in runs.items()}
    assert got == {
        "pagerank": 47,
        "hits": 36,
        "label_propagation": 21,
        "dedup_clusters": 38,
        "kmeans_fit": 7,
        "pq_train": 7,
    }
    # kcore's count varies by one from run to run under AQE
    _, kcore = _jobs(spark, lambda: graph.kcore(sym, k=2, rounds=4).collect())
    assert kcore in (22, 23)


def test_iterative_operator_results_on_fixed_graph(spark):
    """The same calls' results, pinned as the hand-rolled loops gave them."""
    directed, sym = _graph(spark), _graph(spark, symmetric=True)
    ranks = {r.node: r.rank for r in graph.pagerank(directed, iterations=5).collect()}
    assert round(ranks[1], 12) == 0.067394814621
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    hubs, auths = graph.hits(directed, iterations=3)
    assert {r.node: r.score for r in hubs.collect()}[1] == 0.00606060606060606
    assert {r.node: r.score for r in auths.collect()}[1] == 0.2197802197802198
    h0, a0 = graph.hits(directed, iterations=0)
    assert a0 is None and {r.score for r in h0.collect()} == {1.0 / 11}
    labels = dict(graph.label_propagation(sym, iterations=4).collect())
    assert [labels[n] for n in (1, 2, 3, 4)] == [1, 1, 1, 3]
    core = sorted(tuple(r) for r in graph.kcore(sym, k=2, rounds=4).collect())
    assert core == [(1, 2), (2, 2), (3, 3), (4, 3), (5, 2), (6, 3), (7, 3), (8, 2), (9, 2)]
    clusters = dedup.dedup_clusters(directed.toDF("id_a", "id_b")).collect()
    assert {r.cluster_id for r in clusters} == {1} and len(clusters) == 12
    emb = _vectors(spark)
    assert [round(float(x), 9) for x in clustering.kmeans_fit(emb, k=3, n_iters=3)[0]] == [
        0.333333333, 0.333333333, 0.666666667, 1.0
    ]


def test_observation_only_in_the_round_kernel():
    """Every ``Observation(`` under operators/ is graph.iterate's."""
    ops = os.path.join(ROOT, "local_data_pipeline_spark", "operators")
    kernel = os.path.join(ops, "graph.py")
    tree = ast.parse(open(kernel, encoding="utf-8").read())
    fn = next(
        n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "iterate"
    )
    allowed = range(fn.lineno, fn.end_lineno + 1)
    bad = []
    for fname in sorted(os.listdir(ops)):
        if not fname.endswith(".py"):
            continue
        path = os.path.join(ops, fname)
        for i, line in enumerate(open(path, encoding="utf-8"), 1):
            if "Observation(" in line and not (path == kernel and i in allowed):
                bad.append(f"operators/{fname}:{i}")
    assert not bad, "observe through graph.iterate:\n" + "\n".join(bad)
