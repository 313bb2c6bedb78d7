"""Similarity search over embedding columns (SURVEY §2.E3).

Every top-k operator here (and the PQ searches in pq.py) is "local
top-k, then one global merge", and each step of that shape is decided in
one place:

- :func:`_jvm_topk` — the Catalyst tail: broadcast the query side, join
  it to the corpus (cross, or equi on a candidate key), drop self, score
  the round-6 cosine, rank. ``brute_force_topk`` cross-joins; ``lsh_topk``
  joins on a hyperplane bucket; the IVF searches join on a cell.
- :func:`_arrow_topk` — the numpy path: collect and broadcast the query
  side, score each corpus partition as one matrix in ``mapInPandas``,
  keep each partition's tie-inclusive local top-k
  (:func:`_tie_inclusive_prune`), rank. Callers supply only the score
  matrix: the cosine (``brute_force_topk_arrow``), squared L2 or PQ ADC
  distances (pq.py).
- :func:`_rank_topk` — the one ranking window: per query, score, then
  neighbor id.
- :func:`_ivf_quantizer` — the IVF coarse quantizer ``ivf_topk`` and
  ``ivf_write_bucketed`` share.

Brute force costs |Q|·|C| dot products with no shuffle of the corpus;
random-hyperplane LSH and IVF cut the candidate set sub-linearly, with
recall tunable by n_planes / probe_hamming and n_probe.
"""

from __future__ import annotations

from typing import Any, Callable

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import dot, l2_norm


def salt_hot_postings(
    anchors: DataFrame,
    corpus: DataFrame,
    hot_tokens: DataFrame,
    token_col: str = "token",
    corpus_part_col: str = "b_id",
    n_salts: int = 16,
    salt_col: str = "__salt",
) -> "tuple[DataFrame, DataFrame, list[str]]":
    """Exact skew guard for postings joins (``anchors ⋈ corpus ON
    token``): a stop-word-grade token present in most documents fans
    out |anchors|×df pairs through ONE hash partition — correct at any
    test scale but the classic straggler at 100 TB. For every token in
    ``hot_tokens`` (a small one-column frame, broadcast), the corpus
    side is split into ``n_salts`` buckets by ``pmod(corpus_part_col,
    n_salts)`` and the anchor side is replicated across all buckets, so
    each (anchor, corpus) pair still meets EXACTLY once — the salt
    redistributes, it never drops or duplicates — while the hot token's
    work spreads over ``n_salts`` partitions. Cold tokens keep salt 0
    on both sides (no replication cost).

    Returns ``(anchors_salted, corpus_salted, join_keys)`` where
    ``join_keys = [token_col, salt_col]``; callers join on those keys
    and drop/ignore ``salt_col`` afterwards.
    """
    # the helper flag column must not collide with caller columns, same
    # contract as salt_col: a pre-existing __hot on either side would
    # make the left-joins below ambiguous (analysis error at best,
    # wrong-bucket routing at worst)
    for side, df in (("anchors", anchors), ("corpus", corpus)):
        for col in ("__hot", salt_col):
            if col in df.columns:
                raise ValueError(
                    f"{side} already carries helper column {col!r} — "
                    "rename it or pass a different salt_col"
                )
    hot = F.broadcast(
        hot_tokens.select(token_col).distinct().withColumn(
            "__hot", F.lit(True)
        )
    )
    a = (
        anchors.join(hot, token_col, "left")
        .withColumn(
            salt_col,
            F.explode(
                F.when(
                    F.col("__hot").isNotNull(),
                    F.sequence(F.lit(0), F.lit(n_salts - 1)),
                ).otherwise(F.array(F.lit(0)))
            ),
        )
        .withColumn(salt_col, F.col(salt_col).cast("int"))
        .drop("__hot")
    )
    c = (
        corpus.join(hot, token_col, "left")
        .withColumn(
            salt_col,
            F.when(
                F.col("__hot").isNotNull(),
                # coalesce: a NULL partitioning value must still land in
                # SOME bucket (0) — pmod(NULL)=NULL would make the inner
                # join silently drop the row, breaking the exactness
                # contract
                F.coalesce(
                    F.pmod(F.col(corpus_part_col), F.lit(n_salts)),
                    F.lit(0),
                ),
            )
            .otherwise(F.lit(0))
            .cast("int"),
        )
        .drop("__hot")
    )
    return a, c, [token_col, salt_col]


def _rank_topk(
    scored: DataFrame, k: int, score: str = "cos_sim", rank: str = "rank"
) -> DataFrame:
    """The final ranking of every top-k operator: per query, ``score``
    (descending for the cosine, ascending for a distance), then neighbor
    id ascending, so ties break the same way at any partitioning; keeps
    ranks 1..k."""
    order = F.desc(score) if score == "cos_sim" else F.asc(score)
    w = Window.partitionBy("query_id").orderBy(order, F.asc("neighbor_id"))
    return scored.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= k)


def _jvm_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    on: str | None = None,
    exclude_self: bool = True,
    label_col: str | None = None,
    exclude_same_label: bool = False,
) -> DataFrame:
    """Exact cosine top-k over candidate pairs, JVM-side — the tail every
    Catalyst search operator shares. The query side is broadcast against
    the corpus side: a cross join, or an equi-join on the candidate key
    ``on`` (an LSH bucket, an IVF cell) that both sides carry. Self pairs
    are dropped, the cosine is rounded to 6 places (so ranking is
    reproducible cross-engine) and :func:`_rank_topk` ranks it. Norms are
    per-ROW columns before the join; inside the pair expression they
    would be recomputed once per pair.

    With ``label_col`` both sides carry their label through as
    ``own_label`` / ``nb_label``; ``exclude_same_label=True`` keeps only
    different-label pairs. Returns (query_id, neighbor_id[, own_label,
    nb_label], cos_sim, rank)."""
    if exclude_same_label and label_col is None:
        raise ValueError("exclude_same_label requires label_col")
    keys = [] if on is None else [on]
    q_cols = [
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(F.col(vec_col)).alias("q_norm"),
        *keys,
    ]
    c_cols = [
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        l2_norm(F.col(vec_col)).alias("c_norm"),
        *keys,
    ]
    labels = []
    if label_col is not None:
        q_cols.append(F.col(label_col).alias("own_label"))
        c_cols.append(F.col(label_col).alias("nb_label"))
        labels = ["own_label", "nb_label"]
    q = F.broadcast(queries.select(*q_cols))
    c = corpus.select(*c_cols)
    joined = c.join(q, how="cross") if on is None else c.join(q, on)
    if exclude_self:
        joined = joined.filter(F.col("query_id") != F.col("neighbor_id"))
    if exclude_same_label:
        joined = joined.filter(F.col("own_label") != F.col("nb_label"))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        *labels,
        F.round(
            dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm")),
            6,
        ).alias("cos_sim"),
    )
    return _rank_topk(scored, k)


def _tie_inclusive_prune(d: np.ndarray, k: int) -> np.ndarray:
    """Mask of the candidates one corpus partition passes on: per row of
    the |Q|x|C| matrix ``d`` (smaller ranks first), every FINITE entry <=
    the row's k-th smallest. Keeping the whole tie group at the k-th value
    lets the global (score, neighbor_id) window break ties, so the result
    cannot depend on partitioning (``argsort[:k]`` would keep a
    partition-order subset; ADC ties are common, since identical code
    tuples give bit-identical distances). Non-finite entries sort last, so
    a NaN k-th value means the row has fewer than k finite entries: it
    reads as +inf and the row keeps them all."""
    finite = np.isfinite(d)
    if d.shape[1] <= k:
        return finite
    kth = np.partition(d, k - 1, axis=1)[:, k - 1 : k]
    return finite & (d <= np.where(np.isnan(kth), np.inf, kth))


def _arrow_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    metric: str,
    rank: str,
    score: Callable[[Any, pd.Series], np.ndarray],
    prepare: Callable[[np.ndarray], Any] | None = None,
    corpus_col: str | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Top-k by a numpy score matrix per corpus partition — the shape of
    every Arrow search operator (local top-k per partition, then one
    global merge). The query side (``id_col``, ``vec_col``) is collected
    once (queries are the SMALL side by contract) and broadcast as
    ``(ids, prepare(vectors))``; each corpus partition computes its
    |Q|x|C| ``metric`` matrix in one ``score(prepared, corpus_col
    values)`` call inside ``mapInPandas``, sets self pairs to +inf, and
    passes on only its :func:`_tie_inclusive_prune` survivors, so the
    ranking shuffle moves about |partitions|·|Q|·k rows instead of
    |Q|·|C|. Candidates rank by :func:`_rank_topk`: the cosine
    descending, a distance ascending (the prune negates the cosine).
    Returns (query_id, neighbor_id, ``metric``, ``rank``)."""
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    sc = queries.sparkSession.sparkContext
    bq = sc.broadcast((q_ids, q_mat if prepare is None else prepare(q_mat)))
    sign = -1.0 if metric == "cos_sim" else 1.0
    corpus_col = corpus_col or vec_col

    def local_topk(batches):
        ids, prepared = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            nids = pdf[id_col].values
            s = score(prepared, pdf[corpus_col])
            key = sign * s
            if exclude_self:
                key[ids[:, None] == nids[None, :]] = np.inf
            qi, ci = np.nonzero(_tie_inclusive_prune(key, k))
            yield pd.DataFrame(
                {"query_id": ids[qi], "neighbor_id": nids[ci], metric: s[qi, ci]}
            )

    cand = corpus.select(id_col, corpus_col).mapInPandas(
        local_topk, f"query_id long, neighbor_id long, {metric} double"
    )
    return _rank_topk(cand, k, metric, rank)


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    label_col: str | None = None,
    exclude_same_label: bool = False,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cos_sim, rank).

    The query side is broadcast — at scale the corpus (the 100 TB side)
    streams through executors exactly once with zero shuffle; only the
    scored candidate rows move.

    With ``label_col`` set, both sides carry their label through as
    ``own_label`` / ``nb_label``; ``exclude_same_label=True`` restricts
    candidates to different-label vectors (hard-negative mining)."""
    return _jvm_topk(
        queries,
        corpus,
        k,
        id_col,
        vec_col,
        exclude_self=exclude_self,
        label_col=label_col,
        exclude_same_label=exclude_same_label,
    )


def brute_force_topk_arrow(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k via Arrow-batched numpy matmul — the fast path
    for larger dimensions / corpora.

    Catalyst higher-order functions are interpreted (CodegenFallback), so
    the pure-DataFrame ``brute_force_topk`` pays per-element overhead on
    every pair. Here :func:`_arrow_topk` scores each corpus partition in
    one BLAS matmul. Results match ``brute_force_topk`` to the same
    6-decimal rounding."""

    def cosine6(qs, vecs):
        qm, qn = qs
        c_mat = np.array(list(vecs), dtype=np.float64)
        c_norm = np.linalg.norm(c_mat, axis=1)
        # rounded once — the same rounding the final ranking compares
        return np.round((qm @ c_mat.T) / np.outer(qn, c_norm), 6)

    return _arrow_topk(
        queries,
        corpus,
        k,
        id_col,
        vec_col,
        "cos_sim",
        "rank",
        cosine6,
        prepare=lambda qm: (qm, np.linalg.norm(qm, axis=1)),
        exclude_self=exclude_self,
    )


def hyperplane_bucket(
    vec: Column, dim: int, n_planes: int = 8, seed: int = 42
) -> Column:
    """Sign-pattern bucket id in [0, 2^n_planes): bit p = 1 iff
    dot(vec, plane_p) > 0, planes drawn from a fixed splitmix-style integer
    hash of (seed, p, i) mapped to [-0.5, 0.5) — deterministic everywhere."""

    def plane_component(p: int, i: Column) -> Column:
        h = F.xxhash64(F.lit(seed), F.lit(p), i)
        return (F.pmod(h, F.lit(10_000_019)).cast("double") / 10_000_019.0) - 0.5

    def projector(p: int):
        # factory closure (a default-arg lambda would change the arity
        # Spark infers for the higher-order function)
        return lambda x, i: x.cast("double") * plane_component(p, i)

    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(vec, F.sequence(F.lit(0), F.lit(dim - 1)), projector(p)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << p).cast("long")).otherwise(0)
    return bucket


def rademacher_bucket(vec_micro: Column, dim: int, n_planes: int) -> Column:
    """ENGINE-REPLAYABLE sign-pattern bucket (Charikar sign-random-
    projection with ±1 coefficients): bit p = 1 iff the INTEGER dot of
    the micro-quantized vector against the constant Rademacher plane p
    (functions/replay.rademacher_planes — pow5-parity-derived literals)
    is > 0. The projection is exact int64 (|dot| ≤ dim·|v|·1e6 ≪ 2⁶³),
    so the sign — and therefore the bucket, the candidate set, and the
    whole downstream output — can never diverge between engines, which
    is what lets the declared LSH/near-dup queries carry full value-hash
    oracles. ``vec_micro`` must be a BOUND array<long> column of
    floor(x·1e6 + 0.5) components (replay.micro; HOF-inlining note on
    shingles_from_tokens applies)."""
    from ..functions.replay import rademacher_planes

    planes = rademacher_planes(n_planes, dim)
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        coeffs = F.array(*[F.lit(c).cast("long") for c in planes[p]])
        # coalesce: a vector shorter than dim must project its valid
        # PREFIX (zip_with null-pads the shorter side; acc + NULL would
        # otherwise null the whole projection → bit 0, while the SQL
        # twin's list_sum SKIPS nulls → prefix dot — a cross-engine
        # bucket divergence on mixed-dim corpora)
        proj = F.aggregate(
            F.zip_with(
                vec_micro, coeffs, lambda x, r: F.coalesce(x * r, F.lit(0))
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << p).cast("long")).otherwise(0)
    return bucket


#: Memoized bucket-expression trees, keyed by every constant that
#: parameterizes them (including the input COLUMN NAME — the tree embeds
#: it). Columns are unresolved expression trees resolved per-plan, not
#: data (the dedup._SIG_EXPR_CACHE rationale): building a 6-plane
#: hyperplane/rademacher bucket costs ~0.5 s of driver-side py4j chatter
#: per call (round-12 measurement — lsh_topk construction was ~1.2 s,
#: called twice per declared ANN query), and ann_recall_eval builds four
#: such operators per run.
_BUCKET_EXPR_CACHE: "dict[tuple, Column]" = {}


def _bucket_col(
    vec_col: str, dim: int, n_planes: int, seed: int, hash_family: str
) -> Column:
    """Bucket expression for either hash family (near-dup operators).
    The rademacher path inlines the micro-quantization (re-evaluated
    once per plane — acceptable: n_planes ≤ 8 cheap int ops; the hot
    lsh_topk path binds it instead). Memoized per parameter tuple."""
    key = (vec_col, dim, n_planes, seed, hash_family)
    hit = _BUCKET_EXPR_CACHE.get(key)
    if hit is not None:
        return hit
    if hash_family == "xx_float":
        out = hyperplane_bucket(F.col(vec_col), dim, n_planes, seed)
    elif hash_family == "rademacher":
        from ..functions.replay import micro

        vm = F.transform(F.col(vec_col), lambda x: micro(x))
        out = rademacher_bucket(vm, dim, n_planes)
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    _BUCKET_EXPR_CACHE[key] = out
    return out


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
    exclude_self: bool = True,
    probe_hamming: int = 0,
    hash_family: str = "xx_float",
) -> DataFrame:
    """Approximate top-k: score only within the query's hyperplane bucket.

    ``hash_family``: ``"xx_float"`` (default, production) buckets by
    xxhash64-derived float hyperplanes; ``"rademacher"`` buckets by the
    engine-replayable integer sign projection (``rademacher_bucket``) so
    the declared query's full output value-hashes against a SQL twin.

    Equi-join on bucket replaces the crossJoin — candidate count drops by
    ~2^n_planes. Recall < 1 by design; ``probe_hamming`` is the recall
    knob: 1 probes every Hamming-1 neighbor bucket as well (the
    single-bit sign flips a near-boundary vector is most likely to land
    in), multiplying candidates by ~(1 + n_planes) while staying far
    below brute force (2^n_planes / (1+n_planes) buckets pruned).

    Scale shape: multi-probe EXPLODES THE QUERY SIDE ONLY — the corpus
    keeps exactly one bucket per vector, so corpus shuffle volume is
    unchanged and the (broadcast) query relation grows by the probe
    factor. A (query, neighbor) pair can match in at most one probe
    bucket (probe buckets are distinct, the neighbor's bucket is fixed),
    so no dedup pass is needed. Measured recall@10 at the defaults used
    by ``ann_recall_eval``: ~0.7 exact-bucket → >=0.95 with
    probe_hamming=1 (pinned in tests/test_dedup_similarity.py)."""
    from ..functions.replay import micro

    if hash_family == "xx_float":
        def with_bucket(df: DataFrame) -> DataFrame:
            return df.withColumn(
                "__bucket", _bucket_col(vec_col, dim, n_planes, seed, hash_family)
            )
    elif hash_family == "rademacher":
        # memoized like _bucket_col (same rationale): the tree is a pure
        # function of (dim, n_planes) over the bound "__vm" column
        key = ("__vm", dim, n_planes, "rademacher_bound")
        bucket_expr = _BUCKET_EXPR_CACHE.get(key)
        if bucket_expr is None:
            bucket_expr = rademacher_bucket(F.col("__vm"), dim, n_planes)
            _BUCKET_EXPR_CACHE[key] = bucket_expr

        def with_bucket(df: DataFrame) -> DataFrame:
            # bind the micro-quantized vector once (HOF-inlining note)
            vm = df.withColumn(
                "__vm", F.transform(F.col(vec_col), lambda x: micro(x))
            )
            return vm.withColumn("__bucket", bucket_expr).drop("__vm")
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    if probe_hamming not in (0, 1):
        raise ValueError("probe_hamming supports 0 (exact bucket) or 1")
    bq = with_bucket(queries)
    if probe_hamming == 1:
        probes = F.array(
            F.col("__bucket"),
            *[
                F.col("__bucket").bitwiseXOR(F.lit(1 << p).cast("long"))
                for p in range(n_planes)
            ],
        )
        bq = bq.withColumn("__bucket", F.explode(probes))
    return _jvm_topk(
        bq, with_bucket(corpus), k, id_col, vec_col, "__bucket", exclude_self
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 2,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF-style approximate top-k: a deterministic coarse quantizer
    (centroids = the ``n_centroids`` corpus vectors with smallest
    xxhash64(id) — a seeded pseudo-random sample, stable across runs),
    corpus vectors assigned to their nearest centroid, queries probing
    their ``n_probe`` nearest cells; exact cosine within probed cells.

    Scale shape: centroids broadcast; assignment is one numpy matmul per
    partition (mapInPandas); the search join is equi on cell id, so the
    corpus shuffles once by cell (or is bucketed by cell at write time and
    never re-shuffles). Recall rises with n_probe — the classic IVF knob.
    A corpus vector sits in exactly one cell and a query probes distinct
    cells, so a (query, neighbor) pair meets at most once: no dedup pass."""
    _, cells = _ivf_quantizer(corpus, n_centroids, id_col, vec_col)
    return _jvm_topk(
        cells(queries, n_probe),
        cells(corpus, 1),
        k,
        id_col,
        vec_col,
        "cell",
        exclude_self,
    )


def _ivf_quantizer(
    corpus: DataFrame, n_centroids: int, id_col: str, vec_col: str
) -> "tuple[np.ndarray, Callable[[DataFrame, int], DataFrame]]":
    """The deterministic IVF coarse quantizer: centroids are the
    ``n_centroids`` corpus vectors with the smallest xxhash64(id),
    normalized (the only collect, a config-constant row count), and
    broadcast. Returns ``(centroids, cells)``: ``cells(df, n)`` gives one
    (id, vec, cell) row for each of a vector's ``n`` nearest centroids
    (cosine, ties -> lower cell id), one numpy matmul per partition."""
    cent_rows = (
        corpus.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)))
        .limit(n_centroids)
        .collect()
    )
    c_mat = np.array([r[1] for r in cent_rows], dtype=np.float64)
    c_mat /= np.linalg.norm(c_mat, axis=1, keepdims=True)
    bcent = corpus.sparkSession.sparkContext.broadcast(c_mat)

    def cells(df: DataFrame, n_cells: int) -> DataFrame:
        def run(batches):
            cm = bcent.value
            for pdf in batches:
                if pdf.empty:
                    continue
                m = np.array(list(pdf[vec_col]), dtype=np.float64)
                m_n = m / np.linalg.norm(m, axis=1, keepdims=True)
                sims = m_n @ cm.T  # |rows| x |centroids|
                order = np.argsort(-sims, axis=1, kind="stable")[:, :n_cells]
                yield pd.DataFrame(
                    {
                        id_col: np.repeat(pdf[id_col].values, n_cells),
                        vec_col: [
                            v for v in pdf[vec_col] for _ in range(n_cells)
                        ],
                        "cell": order.ravel(),
                    }
                )

        return df.select(id_col, vec_col).mapInPandas(
            run, f"{id_col} long, {vec_col} array<float>, cell int"
        )

    return c_mat, cells


def ivf_topk_replayable(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 2,
    exclude_self: bool = True,
) -> DataFrame:
    """ENGINE-REPLAYABLE IVF top-k — same index structure as
    :func:`ivf_topk` (deterministic pseudo-random coarse centroids, cell
    assignment by nearest centroid, queries probing ``n_probe`` cells,
    exact cosine within probed cells) with every engine-specific step
    swapped for an arithmetic twin any engine reproduces:

    - centroid sample: smallest ``pow5(vec_id mod p)`` (the replayable
      permutation, functions/replay.py) instead of smallest xxhash64;
      ties → lowest vec_id; cell id = rank in that order.
    - assignment: argmax of ROUND-6 cosine (ties → lowest cell id). The
      rounding makes the argmax a comparison of identical doubles on
      both engines (the attested cosine_topk pattern), instead of a
      numpy-vs-SQL float argmax that can flip at ulp-level ties.

    Fully Catalyst (no mapInPandas): assignment is a broadcast crossJoin
    against the ``n_centroids``-row centroid relation + one window — the
    right shape up to ~thousands of centroids; the numpy-matmul
    ``ivf_topk`` remains the production path for large codebooks. The
    declared ``ivf_topk_embeddings`` query uses this variant so the
    driver can value-hash its full output."""
    from ..functions.replay import POW_P, pow5

    cent = (
        corpus.select(id_col, vec_col)
        .withColumn("__r", pow5(F.pmod(F.col(id_col), F.lit(POW_P))))
        .orderBy("__r", id_col)
        .limit(n_centroids)
    )
    cent = cent.select(
        (
            F.row_number().over(Window.orderBy("__r", id_col)) - 1
        ).alias("cell"),
        F.col(vec_col).alias("cent_vec"),
        l2_norm(F.col(vec_col)).alias("cent_norm"),
    )
    # the centroid sample feeds both assignment sides; checkpoint it
    # once (orderBy+limit is a TakeOrdered over the corpus). The
    # trailing limit() is a no-op over the <= n_centroids checkpointed
    # rows that keeps the crossJoin's bounded-side bound IN-PLAN (the
    # checkpoint erases the original limit from the logical plan, which
    # the S2 cross-join linter rule reads).
    cent = cent.localCheckpoint(eager=False).limit(n_centroids)

    def assign(df: DataFrame, keep_rn: int) -> DataFrame:
        """Rank cells for each of df's vectors (broadcast crossJoin
        against the n_centroids-row relation + one window) — queries
        are assigned INDEPENDENTLY of the corpus (the ivf_topk
        contract: external query vectors work, they just probe)."""
        base = df.select(
            F.col(id_col),
            F.col(vec_col),
            l2_norm(F.col(vec_col)).alias("__nrm"),
        )
        scored_cells = base.crossJoin(F.broadcast(cent)).select(
            id_col,
            vec_col,
            "__nrm",
            "cell",
            F.round(
                dot(F.col(vec_col), F.col("cent_vec"))
                / (F.col("__nrm") * F.col("cent_norm")),
                6,
            ).alias("__cos6"),
        )
        w = Window.partitionBy(id_col).orderBy(
            F.desc("__cos6"), F.asc("cell")
        )
        return (
            scored_cells.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= keep_rn)
        )

    return _jvm_topk(
        assign(queries, n_probe),
        assign(corpus, 1),
        k,
        id_col,
        vec_col,
        "cell",
        exclude_self,
    )


def ivf_write_bucketed(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "list[list[float]]":
    """Persist the corpus as an IVF index laid out for PARTITION-PRUNED
    search: vectors are assigned to their nearest coarse centroid (the
    same deterministic quantizer as :func:`ivf_topk`) and written as
    parquet PARTITIONED BY cell, with the centroid codebook in a
    ``_CENTROIDS.json`` sidecar. At 100 TB this is the difference
    between an index and a scan: a search that probes 2 of 1024 cells
    reads ~0.2% of the files, enforced by the storage layout itself —
    no runtime shuffle, no re-assignment, partition pruning visible in
    the scan's PartitionFilters. Returns the centroid matrix."""
    import json
    import os

    c_mat, cells = _ivf_quantizer(corpus, n_centroids, id_col, vec_col)
    cells(corpus, 1).write.mode("overwrite").partitionBy("cell").parquet(path)
    with open(os.path.join(path, "_CENTROIDS.json"), "w") as fh:
        json.dump(c_mat.tolist(), fh)
    return c_mat.tolist()


def ivf_search_bucketed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Search an :func:`ivf_write_bucketed` index: per query, the
    ``n_probe`` nearest centroids from the sidecar codebook; the scan
    carries ``cell IN (probed)`` so parquet PARTITION PRUNING skips every
    unprobed cell directory (plan-pinned in tests) — the corpus is never
    re-assigned or shuffled. Exact cosine within probed cells, same
    ranking contract as ivf_topk."""
    import json
    import os

    with open(os.path.join(path, "_CENTROIDS.json")) as fh:
        c_mat = np.array(json.load(fh), dtype=np.float64)
    q_rows = queries.select(id_col, vec_col).collect()
    probes: dict[int, list[int]] = {}
    for r in q_rows:
        v = np.array(r[1], dtype=np.float64)
        v = v / np.linalg.norm(v)
        cells = np.argsort(-(c_mat @ v), kind="stable")[:n_probe]
        probes[r[0]] = [int(c) for c in cells]
    probe_pairs = [
        (qid, cell) for qid, cells in probes.items() for cell in cells
    ]
    probed_cells = sorted({c for _, c in probe_pairs})

    corpus = spark.read.parquet(path).filter(F.col("cell").isin(probed_cells))
    q_cells = queries.sparkSession.createDataFrame(
        probe_pairs, f"{id_col} long, cell int"
    ).join(queries.select(id_col, vec_col), id_col)
    return _jvm_topk(q_cells, corpus, k, id_col, vec_col, "cell", exclude_self)


def embedding_near_dups(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 6,
    seed: int = 42,
    hash_family: str = "xx_float",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a, id_b, cos_sim), id_a <
    id_b: hyperplane buckets, then one numpy gram matrix per bucket via
    ``applyInPandas`` (upper triangle ≥ threshold at 6-decimal rounding;
    ``hash_family`` as on ``lsh_topk`` — "rademacher" makes the bucketing
    engine-replayable; the numpy round-6 cosine already is, per the
    attested cosine_topk_arrow pattern). Skew note: a degenerate
    bucket lands on one task — split hot buckets with a secondary salt
    when bucket-size monitoring trips."""
    b = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _bucket_col(vec_col, dim, n_planes, seed, hash_family).alias("bucket"),
    )

    def per_bucket(pdf):
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos_sim": "float64"}
            )
        ids = pdf["id"].values
        m = np.array(list(pdf["v"]), dtype=np.float64)
        n = np.linalg.norm(m, axis=1)
        sims = (m @ m.T) / np.outer(n, n)
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = np.round(sims[iu, ju], 6) >= threshold
        ia, ib = ids[iu[keep]], ids[ju[keep]]
        lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame(
            {"id_a": lo, "id_b": hi, "cos_sim": np.round(sims[iu, ju][keep], 6)}
        )

    return (
        b.groupBy("bucket")
        .applyInPandas(per_bucket, "id_a long, id_b long, cos_sim double")
        .distinct()
    )


def mmr_select(
    cand: DataFrame,
    pairs: DataFrame,
    k: int = 8,
    lam_num: int = 7,
    div_num: int = 3,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998): from each query's candidate pool, greedily pick the
    item maximizing ``λ·rel − (1−λ)·max_sim_to_already_picked`` — the
    standard diversity-aware cut between retrieval and context packing
    (dedupes near-identical passages out of a RAG window).

    INTEGER-ONLY selection: ``cand`` carries ``(query_id, doc_id,
    rel_u)`` and ``pairs`` carries ``(query_id, x, y, s_u)`` with scores
    pre-quantized to micro-units (round(score·1e6)) IN-PLAN, so the
    greedy argmax compares exact int64s — no accumulated float noise,
    bit-identical picks on any engine. λ is the rational ``lam_num/10``
    (default 0.7): mmr_e7 = lam_num·rel_u − div_num·max(s_u), in 1e-7
    score units.

    Scale: the iterative argmax runs per query inside ONE cogrouped
    ``applyInPandas`` pass — candidate pools are BOUNDED by construction
    (a top-N cut upstream), so per-group state is N rows + N² pair
    lookups regardless of corpus size; queries parallelize across
    groups. The corpus-sized work (scoring, top-N, pairwise sims of the
    top-N) all stays in Catalyst upstream.

    CONTRACT: ``pairs`` must contain BOTH ordered pairs (x, y) and
    (y, x) for every distinct pair of candidates in the pool — the
    kernel looks up sim[(candidate, picked)] directly. Pruning
    low-similarity pairs or supplying only x < y halves would be a
    semantic change (MMR's diversity term needs the true max over
    picked items), so an incomplete matrix raises a descriptive error
    instead of a bare executor-side KeyError."""
    def kernel(key, cand_pdf, pairs_pdf):
        qid = int(key[0])
        rel = dict(zip(cand_pdf["doc_id"].astype("int64"),
                       cand_pdf["rel_u"].astype("int64")))
        sim = {
            (int(x), int(y)): int(s)
            for x, y, s in zip(
                pairs_pdf["x"], pairs_pdf["y"], pairs_pdf["s_u"]
            )
        }
        picked: list[int] = []
        out = []
        while len(picked) < min(k, len(rel)):
            best = None  # (neg mmr, doc_id) minimized -> mmr desc, id asc
            for doc, r in rel.items():
                if doc in picked:
                    continue
                if picked:
                    try:
                        div = max(sim[(doc, p)] for p in picked)
                    except KeyError as e:
                        raise ValueError(
                            f"mmr_select: pairs for query_id={qid} is "
                            f"missing ordered pair {e.args[0]} — the "
                            "similarity matrix must contain BOTH (x,y) "
                            "and (y,x) for every candidate pair in the "
                            "pool (do not prune or halve it)"
                        ) from None
                    mmr = lam_num * r - div_num * div
                else:
                    mmr = lam_num * r
                cand_key = (-mmr, doc)
                if best is None or cand_key < best:
                    best = cand_key
            mmr_e7, doc = -best[0], best[1]
            picked.append(doc)
            out.append((qid, len(picked), doc, mmr_e7))
        return pd.DataFrame(
            out, columns=["query_id", "rnk", "doc_id", "mmr_e7"]
        )

    return (
        cand.groupBy("query_id")
        .cogroup(pairs.groupBy("query_id"))
        .applyInPandas(
            kernel,
            "query_id bigint, rnk bigint, doc_id bigint, mmr_e7 bigint",
        )
    )
