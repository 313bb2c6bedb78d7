"""Product quantization (PQ) for embedding columns — train / encode / ADC.

The reference has no vector-compression surface; this extends the
training-data operator set (SURVEY §2.E3 scale path) with the standard
100 TB embedding-store compression: split each d-dim vector into ``m``
subspaces of d/m dims, k-means each subspace independently (Jégou,
Douze, Schmid, "Product Quantization for Nearest Neighbor Search",
IEEE TPAMI 2011 — public paper), and store each vector as ``m`` small
codes. With m=8, k=16 a 64-dim float64 vector (512 B) becomes 8 nibbles
(4 B) — a 128x compression — while asymmetric distance computation
(ADC: per-query lookup tables over the codebook) preserves approximate
nearest-neighbor ranking without ever reconstructing the vectors.

Determinism contract (same result at any parallelism / partitioning):
- init: per subspace, the sub-vectors of the k smallest ids (no RNG —
  same rule as clustering.kmeans_fit, which is this training loop with
  one subspace);
- assignment: squared-L2 argmin, ties -> lowest code (numpy argmin);
- centroid recompute: exact decimal sums per (subspace, code, dim)
  divided by counts (functions/numeric.dsum) — order-insensitive;
- empty codes keep their previous centroid.

Scale shape: training is one Arrow-batched assignment pass per
iteration (codebook broadcast, no shuffle on the corpus) plus one
map-side-combinable aggregate whose result is m*k*(d/m) rows regardless
of corpus size; the driver only ever sees that model-constant codebook
(S4-allowlisted in tools/plan_lint.py). Encoding is a single
``mapInPandas`` pass — no shuffle at all. ADC search broadcasts the
query-side distance tables (small side by contract, same as
similarity.brute_force_topk_arrow) and reduces each corpus partition to
its local top-k before the final k-row-per-query shuffle.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.numeric import dsum

def pq_train(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Train the PQ codebook: ``codebook[sub][code] = centroid`` with
    ``len(codebook) == m`` and ``len(codebook[sub]) == k``.

    One exploded (id, sub, subvec) frame drives ALL m subspace k-means
    runs simultaneously through one Lloyd loop (:func:`_lloyd`, which
    k-means shares as its m=1 case) — each iteration is a single
    assignment pass plus a single (sub, code, dim) aggregate, not m
    separate jobs."""
    init_rows = df.orderBy(id_col).limit(k).select(vec_col).collect()
    if len(init_rows) < k:
        # a short corpus would silently yield < k centroids per subspace,
        # breaking the documented len(codebook[sub]) == k shape that
        # nibble-packing and ADC table sizing assume
        raise ValueError("pq_train needs at least k vectors")
    dim = len(init_rows[0][0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m
    codebook = [
        [[float(x) for x in r[0][s * d_sub : (s + 1) * d_sub]] for r in init_rows]
        for s in range(m)
    ]

    subs = df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.slice(
                    F.col(vec_col), s * d_sub + 1, F.lit(d_sub)
                ),
            )
        ).alias("sub", "v"),
    ).localCheckpoint(eager=False)

    return _lloyd(subs, codebook, n_iters)


def _lloyd(
    subs: DataFrame, codebook: list[list[list[float]]], n_iters: int
) -> list[list[list[float]]]:
    """Lloyd's algorithm over (sub, v) rows for every subspace at once;
    k-means (clustering.kmeans_fit) is the one-subspace case. Each
    iteration is one assignment pass plus one (sub, code, d) exact-decimal
    aggregate collected to the driver; an empty code keeps its centroid."""
    for _ in range(n_iters):
        assigned = subs.select(
            "sub", "v", _pq_assign_udf(codebook)(F.col("sub"), F.col("v")).alias("code")
        )
        stats = (
            assigned.select("sub", "code", F.posexplode("v").alias("d", "x"))
            .groupBy("sub", "code", "d")
            .agg(dsum("x").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        new_cb = [[list(c) for c in sub_cb] for sub_cb in codebook]
        for r in stats:
            new_cb[r["sub"]][r["code"]][r["d"]] = r["s"] / r["n"]
        codebook = new_cb
    return codebook


def _pq_assign_udf(codebook):
    """Scalar pandas UDF: nearest-centroid code within the row's
    subspace (squared L2, ties -> lowest code), from a driver-broadcast
    m x k x d_sub codebook; k-means passes its centroids as m=1."""
    from pyspark.sql.functions import pandas_udf

    cb = np.array(codebook, dtype=np.float64)  # m x k x d_sub

    @pandas_udf(T.IntegerType())
    def assign(sub: pd.Series, vecs: pd.Series) -> pd.Series:
        x = np.array(list(vecs), dtype=np.float64)  # n x d_sub
        out = np.empty(len(x), dtype="int32")
        for s in np.unique(sub.values):
            sel = sub.values == s
            c = cb[s]  # k x d_sub
            # ||x-c||^2 = ||x||^2 - 2x.c + ||c||^2; ||x||^2 constant per row
            d = -2.0 * (x[sel] @ c.T) + (c * c).sum(axis=1)[None, :]
            out[sel] = np.argmin(d, axis=1).astype("int32")
        return pd.Series(out)

    return assign


def pq_encode(
    df: DataFrame,
    codebook: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>, recon_mse double): one shuffle-free
    ``mapInPandas`` pass; recon_mse is the squared reconstruction error
    of the quantized vector (rounded to 6 decimals for cross-run-stable
    hashing)."""
    cb = np.array(codebook, dtype=np.float64)  # m x k x d_sub
    m, _, d_sub = cb.shape

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            x = np.array(list(pdf[vec_col]), dtype=np.float64)  # n x dim
            n = len(x)
            codes = np.empty((n, m), dtype="int32")
            err = np.zeros(n, dtype=np.float64)
            for s in range(m):
                xs = x[:, s * d_sub : (s + 1) * d_sub]
                c = cb[s]
                d = (
                    (xs * xs).sum(axis=1)[:, None]
                    - 2.0 * (xs @ c.T)
                    + (c * c).sum(axis=1)[None, :]
                )
                codes[:, s] = np.argmin(d, axis=1)
                err += d[np.arange(n), codes[:, s]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "codes": list(codes),
                    # floor(x*1e6+0.5)/1e6, NOT np.round: half-even vs the
                    # SQL oracle's quantization would diverge on a
                    # knife-edge 7th decimal (functions/numeric.floor6)
                    "recon_mse": np.floor(
                        np.maximum(err, 0.0) / x.shape[1] * 1e6 + 0.5
                    )
                    / 1e6,
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        encode, f"{id_col} long, codes array<int>, recon_mse double"
    )


def _tie_inclusive_prune(dq: np.ndarray, k: int) -> np.ndarray:
    """Indices of every candidate whose distance is <= the k-th smallest
    (finite) distance. A plain ``argsort[:k]`` breaks distance ties by
    partition row order, so which tied candidate survives the LOCAL
    prune would depend on partitioning — violating the module's
    determinism contract. Emitting the whole tie group (like
    similarity.brute_force_topk_arrow) lets the deterministic global
    (dist, neighbor_id) window break ties. ADC ties are common:
    identical code tuples give bit-identical distances."""
    finite = np.isfinite(dq)
    n_finite = int(finite.sum())
    if n_finite == 0:
        return np.empty(0, dtype=np.int64)
    if n_finite > k:
        # infs sort to the end, so the k-th smallest overall is the
        # k-th smallest finite value when n_finite > k
        thresh = np.partition(dq, k - 1)[k - 1]
        keep = finite & (dq <= thresh)
    else:
        keep = finite
    return np.flatnonzero(keep)


def exact_l2_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact squared-L2 top-k — the ground truth ADC recall is measured
    against. Same broadcast-small-query-side / per-partition-prune shape
    as similarity.brute_force_topk_arrow (which ranks by cosine);
    S4-allowlisted via adc_topk's contract (queries are the small
    side)."""
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    sc = queries.sparkSession.sparkContext
    bq = sc.broadcast((q_ids, q_mat))

    def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, qm = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            c = np.array(list(pdf[vec_col]), dtype=np.float64)
            nids = pdf[id_col].values
            d = (
                (qm * qm).sum(axis=1)[:, None]
                - 2.0 * (qm @ c.T)
                + (c * c).sum(axis=1)[None, :]
            )
            rows = []
            for qi in range(len(ids)):
                dq = d[qi]
                if exclude_self:
                    dq = np.where(nids == ids[qi], np.inf, dq)
                for ni in _tie_inclusive_prune(dq, k):
                    rows.append((int(ids[qi]), int(nids[ni]), float(dq[ni])))
            yield pd.DataFrame(
                rows or None, columns=["query_id", "neighbor_id", "l2_dist"]
            )

    cand = corpus.select(id_col, vec_col).mapInPandas(
        local_topk, "query_id long, neighbor_id long, l2_dist double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.asc("l2_dist"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("l2_dist", 6).alias("l2_dist"),
            "rnk",
        )
    )


def adc_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebook: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k by PQ asymmetric distance: per query, an m*k'
    lookup table of exact subspace distances to every code; corpus rows
    cost m table lookups each — the vectors are never touched.

    The query side is COLLECTED AND BROADCAST (small-side contract,
    identical to similarity.brute_force_topk_arrow; S4-allowlisted);
    each codes partition emits only its local top-k per query before the
    final shuffle. Returns (query_id, neighbor_id, adc_dist, rnk)."""
    cb = np.array(codebook, dtype=np.float64)
    m, kk, d_sub = cb.shape
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)  # nq x dim
    # tables[q][s][code] = || q_s - c_{s,code} ||^2
    nq = len(q_ids)
    tables = np.empty((nq, m, kk), dtype=np.float64)
    for s in range(m):
        qs = q_mat[:, s * d_sub : (s + 1) * d_sub]
        c = cb[s]
        tables[:, s, :] = (
            (qs * qs).sum(axis=1)[:, None]
            - 2.0 * (qs @ c.T)
            + (c * c).sum(axis=1)[None, :]
        )
    sc = queries.sparkSession.sparkContext
    bq = sc.broadcast((q_ids, tables))

    def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, tabs = bq.value
        for pdf in batches:
            if pdf.empty:
                # an empty Arrow batch makes np.array(list(...)) a 1-D
                # empty array and cmat[:, s] would raise IndexError
                continue
            cmat = np.array(list(pdf["codes"]), dtype=np.int64)  # n x m
            nids = pdf[id_col].values
            # dist[q, n] = sum_s tabs[q, s, cmat[n, s]]
            d = np.zeros((len(ids), len(nids)), dtype=np.float64)
            for s in range(m):
                d += tabs[:, s, :][:, cmat[:, s]]
            rows = []
            for qi in range(len(ids)):
                dq = d[qi]
                if exclude_self:
                    dq = np.where(nids == ids[qi], np.inf, dq)
                for ni in _tie_inclusive_prune(dq, k):
                    rows.append((int(ids[qi]), int(nids[ni]), float(dq[ni])))
            yield pd.DataFrame(
                rows or None,
                columns=["query_id", "neighbor_id", "adc_dist"],
            )

    cand = codes.select(id_col, "codes").mapInPandas(
        local_topk, "query_id long, neighbor_id long, adc_dist double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("adc_dist", 6).alias("adc_dist"),
            "rnk",
        )
    )
