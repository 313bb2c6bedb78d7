"""Similarity search over embedding columns (SURVEY §2.E3).

Two paths, as a real 100 TB pipeline would ship them:

- **Brute-force top-k** (the exact baseline): broadcast the query set,
  compute cosine against every corpus vector JVM-side, rank per query.
  Cost is |Q|·|C| dot products with NO shuffle of the corpus (queries are
  broadcast; ranking shuffles only |Q|·|C| scored rows — prune first with
  a per-partition pre-top-k to cut that).
- **Random-hyperplane LSH** (the scale path): bucket vectors by the sign
  pattern of dot products against ``n_planes`` fixed pseudo-random
  hyperplanes (deterministic, seeded); search only within matching buckets
  (optionally multi-probe neighbors at Hamming distance 1). Sub-linear
  candidate sets; recall tunable by n_planes / n_tables.

Everything is Catalyst expressions (zip_with/aggregate); no UDFs.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine, dot, l2_norm


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


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Deterministic per-query ranking: cosine desc (rounded to 6 so ranking
    is reproducible cross-engine), then neighbor id asc."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


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
    # norms are hoisted to per-ROW columns before the join; computing
    # l2_norm inside the pair expression would redo it once per pair
    q_cols = [
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(F.col(vec_col)).alias("q_norm"),
    ]
    c_cols = [
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        l2_norm(F.col(vec_col)).alias("c_norm"),
    ]
    if label_col is not None:
        q_cols.append(F.col(label_col).alias("own_label"))
        c_cols.append(F.col(label_col).alias("nb_label"))
    q = queries.select(*q_cols)
    c = corpus.select(*c_cols)
    joined = c.join(F.broadcast(q), how="cross")
    if exclude_self:
        joined = joined.filter(F.col("query_id") != F.col("neighbor_id"))
    if exclude_same_label:
        if label_col is None:
            raise ValueError("exclude_same_label requires label_col")
        joined = joined.filter(F.col("own_label") != F.col("nb_label"))
    out_cols = ["query_id", "neighbor_id"]
    if label_col is not None:
        out_cols += ["own_label", "nb_label"]
    scored = joined.select(
        *out_cols,
        F.round(
            dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm")),
            6,
        ).alias("cos_sim"),
    )
    return _rank_topk(scored, k)


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
    every pair. Here the query matrix is collected once (queries are the
    SMALL side by contract), broadcast to executors, and each corpus
    partition computes all its scores in one BLAS matmul via
    ``mapInPandas``; per-partition top-k shrinks the ranking shuffle to
    |partitions|·|Q|·k rows. Results match ``brute_force_topk`` to the
    same 6-decimal rounding."""
    import numpy as np

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = [r[0] for r in q_rows]
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)
    sc = queries.sparkSession.sparkContext
    bq = sc.broadcast((q_ids, q_mat, q_norm))

    def score(batches):
        import pandas as pd

        ids, qm, qn = bq.value
        q_ids_arr = np.asarray(ids, dtype=np.int64)
        for pdf in batches:
            if pdf.empty:
                continue
            c_mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            c_norm = np.linalg.norm(c_mat, axis=1)
            # |Q| x |C|, rounded once — the same rounding the final global
            # ranking uses, so the per-partition prune sees the exact
            # values the ranking will compare.
            sims = np.round((qm @ c_mat.T) / np.outer(qn, c_norm), 6)
            n_c = sims.shape[1]
            kk = min(k + 1, n_c)
            # Per-partition prune WITHOUT materializing the |C|·|Q| pair
            # frame (a pandas sort over millions of rows dominated the
            # runtime): np.partition finds each query's kk-th largest
            # score in O(|C|); keeping every candidate >= that threshold
            # is tie-INCLUSIVE, so the deterministic global tie-break
            # (cos desc, neighbor_id asc) still sees all contenders.
            kth = np.partition(sims, n_c - kk, axis=1)[:, n_c - kk]
            qi, ci = np.nonzero(sims >= kth[:, None])
            yield pd.DataFrame(
                {
                    "query_id": q_ids_arr[qi],
                    "neighbor_id": pdf[id_col].values[ci],
                    "cos_sim": sims[qi, ci],
                }
            )

    scored = corpus.select(id_col, vec_col).mapInPandas(
        score, "query_id long, neighbor_id long, cos_sim double"
    )
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    return _rank_topk(scored, k)


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
    bq = with_bucket(queries).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(F.col(vec_col)).alias("q_norm"),
        F.col("__bucket").alias("bucket"),
    )
    if probe_hamming not in (0, 1):
        raise ValueError("probe_hamming supports 0 (exact bucket) or 1")
    if probe_hamming == 1:
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << p).cast("long"))
                for p in range(n_planes)
            ],
        )
        bq = bq.withColumn("bucket", F.explode(probes))
    bc = with_bucket(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        l2_norm(F.col(vec_col)).alias("c_norm"),
        F.col("__bucket").alias("bucket"),
    )
    joined = bc.join(F.broadcast(bq), "bucket")
    if exclude_self:
        joined = joined.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        F.round(
            dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm")),
            6,
        ).alias("cos_sim"),
    )
    return _rank_topk(scored, k)


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
    never re-shuffles). Recall rises with n_probe — the classic IVF knob."""
    import numpy as np

    cent_rows = (
        corpus.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)))
        .limit(n_centroids)
        .collect()
    )
    c_mat = np.array([r[1] for r in cent_rows], dtype=np.float64)
    c_mat /= np.linalg.norm(c_mat, axis=1, keepdims=True)
    sc = corpus.sparkSession.sparkContext
    bcent = sc.broadcast(c_mat)

    def assign(n_cells: int):
        def run(batches):
            import pandas as pd

            cm = bcent.value
            for pdf in batches:
                if pdf.empty:
                    continue
                m = np.array(list(pdf[vec_col]), dtype=np.float64)
                m_n = m / np.linalg.norm(m, axis=1, keepdims=True)
                sims = m_n @ cm.T  # |rows| x |centroids|
                # n_cells nearest centroids per row (ties → lower cell id)
                order = np.argsort(-sims, axis=1, kind="stable")[:, :n_cells]
                n = len(pdf)
                yield pd.DataFrame(
                    {
                        id_col: np.repeat(pdf[id_col].values, n_cells),
                        vec_col: [
                            v for v in pdf[vec_col] for _ in range(n_cells)
                        ],
                        "cell": order.ravel(),
                    }
                )

        return run

    corpus_cells = corpus.select(id_col, vec_col).mapInPandas(
        assign(1), f"{id_col} long, {vec_col} array<float>, cell int"
    )
    query_cells = queries.select(id_col, vec_col).mapInPandas(
        assign(n_probe), f"{id_col} long, {vec_col} array<float>, cell int"
    )
    cq = query_cells.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(F.col(vec_col)).alias("q_norm"),
        "cell",
    )
    cc = corpus_cells.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        l2_norm(F.col(vec_col)).alias("c_norm"),
        "cell",
    )
    joined = cc.join(F.broadcast(cq), "cell")
    if exclude_self:
        joined = joined.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        F.round(
            dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm")),
            6,
        ).alias("cos_sim"),
    ).distinct()  # a (query, neighbor) pair can meet in multiple probed cells
    return _rank_topk(scored, k)


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

    cq = assign(queries, n_probe).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("__nrm").alias("q_norm"),
        "cell",
    )
    cc = assign(corpus, 1).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.col("__nrm").alias("c_norm"),
        "cell",
    )
    joined = cc.join(F.broadcast(cq), "cell")
    if exclude_self:
        joined = joined.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        F.round(
            dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm")),
            6,
        ).alias("cos_sim"),
    ).distinct()  # a (query, neighbor) pair can meet in multiple probed cells
    return _rank_topk(scored, k)


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

    import numpy as np

    cent_rows = (
        corpus.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)))
        .limit(n_centroids)
        .collect()
    )
    c_mat = np.array([r[1] for r in cent_rows], dtype=np.float64)
    c_mat /= np.linalg.norm(c_mat, axis=1, keepdims=True)
    sc = corpus.sparkSession.sparkContext
    bcent = sc.broadcast(c_mat)

    def assign(batches):
        import pandas as pd

        cm = bcent.value
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            m_n = m / np.linalg.norm(m, axis=1, keepdims=True)
            cells = np.argsort(-(m_n @ cm.T), axis=1, kind="stable")[:, 0]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    vec_col: pdf[vec_col],
                    "cell": cells.astype("int32"),
                }
            )

    assigned = corpus.select(id_col, vec_col).mapInPandas(
        assign, f"{id_col} long, {vec_col} array<float>, cell int"
    )
    assigned.write.mode("overwrite").partitionBy("cell").parquet(path)
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

    import numpy as np

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
    qdf = queries.sparkSession.createDataFrame(
        probe_pairs, "query_id long, cell int"
    ).join(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            l2_norm(F.col(vec_col)).alias("q_norm"),
        ),
        "query_id",
    )
    cc = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        l2_norm(F.col(vec_col)).alias("c_norm"),
        "cell",
    )
    joined = cc.join(F.broadcast(qdf), "cell")
    if exclude_self:
        joined = joined.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        F.round(
            dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm")),
            6,
        ).alias("cos_sim"),
    ).distinct()
    return _rank_topk(scored, k)


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
    import numpy as np

    b = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _bucket_col(vec_col, dim, n_planes, seed, hash_family).alias("bucket"),
    )

    def per_bucket(pdf):
        import pandas as pd

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
    import pandas as pd

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
