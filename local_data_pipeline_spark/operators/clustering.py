"""Embedding-space clustering and semantic dedup (SemDeDup-style).

The reference has no clustering surface; this extends the training-data
operator set (BASELINE.json north star) with the two standard
embedding-space passes a 100 TB curation pipeline runs:

- **k-means** (Lloyd's) as the coarse partitioner — also the quantizer
  behind the IVF similarity index (similarity.py ivf_topk);
- **semantic dedup**: within each k-means cluster, drop vectors whose
  cosine similarity to a kept vector exceeds a tight threshold
  (Abbas et al., "SemDeDup", arXiv:2303.09540 — public paper) — the
  pass that removes *semantically* identical documents exact and
  MinHash dedup both miss.

Determinism contract (same result at any parallelism / partitioning):
- init = the k vectors with the smallest ids (no RNG);
- assignment: squared-L2 argmin, ties -> lowest cluster index
  (numpy argmin semantics), computed per-row from broadcast centroids;
- centroid recompute: per-(cluster, dim) **exact decimal sums**
  (functions/numeric.dsum) divided by counts — order-insensitive where
  a float sum would drift with partitioning;
- empty clusters keep their previous centroid.

Scale notes: k-means is product quantization's Lloyd loop with one
subspace (pq._lloyd and its assignment UDF): each iteration is one
Arrow-batched assignment pass (k*dim broadcast, no shuffle) plus one
hash aggregate of (cluster, dim) partial sums — map-side combinable,
k*dim result rows regardless of input size. The gram-matrix dedup runs
per cluster via applyInPandas; clusters are size-bounded by k, and a hot
cluster splits with a salt the same way embedding_near_dups's buckets
do.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.numeric import dsum, floor6
from .dedup import dedup_clusters
from .pq import _lloyd, _pq_assign_udf


def _dist_udf(centroids: list[list[float]]):
    """Scalar pandas UDF: squared L2 distance to the given cluster's
    centroid, pinned to 6 decimals via floor(x*1e6+0.5)/1e6 — the same
    quantization rule the SQL oracle runs (np.round is half-EVEN, SQL
    round() is half-up: a knife-edge 7th decimal would diverge even
    when the underlying sums agree to machine precision)."""
    from pyspark.sql.functions import pandas_udf

    c = np.array(centroids, dtype=np.float64)

    @pandas_udf(T.DoubleType())
    def dist(vecs: pd.Series, cluster: pd.Series) -> pd.Series:
        m = np.array(list(vecs), dtype=np.float64)
        diff = m - c[cluster.values]
        return pd.Series(
            np.floor((diff * diff).sum(axis=1) * 1e6 + 0.5) / 1e6
        )

    return dist


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    n_iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Lloyd's k-means; returns the k centroids (list of dim-length lists).
    It is PQ's training loop (pq._lloyd) with one subspace.

    Deterministic by construction (module docstring); fixed ``n_iters``
    rather than a convergence probe so the job count is known up front
    (inertia is non-increasing per iteration — pinned in tests)."""
    init_rows = df.orderBy(id_col).limit(k).select(vec_col).collect()
    centroids = [[float(x) for x in r[0]] for r in init_rows]
    subs = df.select(F.lit(0).alias("sub"), F.col(vec_col).alias("v"))
    return _lloyd(subs, [centroids], n_iters)[0]


def kmeans_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "cluster",
) -> DataFrame:
    return df.withColumn(
        out_col, _pq_assign_udf([centroids])(F.lit(0), F.col(vec_col))
    )


def kmeans_cluster_stats(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cluster size and mean squared distance to centroid (floor-
    quantized to 6 decimals per row, exact-decimal sum, double division,
    floor-quantized mean — stable at any parallelism and expressible
    with identical arithmetic in the DuckDB oracle)."""
    a = kmeans_assign(df, centroids, vec_col=vec_col)
    withd = a.withColumn(
        "sqdist", _dist_udf(centroids)(F.col(vec_col), F.col("cluster"))
    )
    return withd.groupBy("cluster").agg(
        F.count("*").alias("n"),
        floor6(dsum("sqdist") / F.count("*")).alias("avg_sqdist"),
    )


def inertia(
    df: DataFrame, centroids: list[list[float]], vec_col: str = "embedding"
) -> float:
    """Total within-cluster squared distance (the Lloyd objective)."""
    a = kmeans_assign(df, centroids, vec_col=vec_col)
    row = a.agg(
        dsum(_dist_udf(centroids)(F.col(vec_col), F.col("cluster"))).alias("i")
    ).collect()[0]
    return float(row["i"])


def semantic_dedup_pairs(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.995,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_a, id_b, cos_sim) pairs with cosine >= threshold within the
    same k-means cluster — one numpy gram matrix per cluster."""
    import numpy as np

    b = kmeans_assign(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")),
        centroids,
        vec_col="v",
    )

    def per_cluster(pdf):
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos_sim": "float64"}
            )
        ids = pdf["id"].values
        m = np.array(list(pdf["v"]), dtype=np.float64)
        n = np.linalg.norm(m, axis=1)
        sims = (m @ m.T) / np.outer(n, n)
        iu, ju = np.triu_indices(len(ids), k=1)
        # floor(x*1e6+0.5)/1e6, NOT np.round (half-even): the threshold
        # compare must quantize identically to the SQL oracle's floor6
        q = np.floor(sims[iu, ju] * 1e6 + 0.5) / 1e6
        keep = q >= threshold
        ia, ib = ids[iu[keep]], ids[ju[keep]]
        lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame(
            {"id_a": lo, "id_b": hi, "cos_sim": q[keep]}
        )

    return b.groupBy("cluster").applyInPandas(
        per_cluster, "id_a long, id_b long, cos_sim double"
    )


def semantic_dedup(
    df: DataFrame,
    k: int = 8,
    n_iters: int = 4,
    threshold: float = 0.995,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Drop all but the min-id representative of every semantic near-dup
    group (connected components over the within-cluster pair graph, so
    A~B~C collapses transitively). Returns the surviving rows of ``df``.

    Caveat shared with SemDeDup itself: pairs straddling a k-means
    boundary are not candidates — raise k-means quality or k to trade
    recall vs cost."""
    centroids = kmeans_fit(df, k=k, n_iters=n_iters, id_col=id_col, vec_col=vec_col)
    pairs = semantic_dedup_pairs(
        df, centroids, threshold=threshold, id_col=id_col, vec_col=vec_col
    )
    clusters = dedup_clusters(pairs)
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias("__loser")
    )
    return df.join(
        losers, df[id_col] == F.col("__loser"), "left_anti"
    )
