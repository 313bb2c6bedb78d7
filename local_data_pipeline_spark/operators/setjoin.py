"""Exact set-similarity join via prefix filtering (PPJoin-family).

The exact-threshold complement to the MinHash/LSH approximate pipeline
(operators/dedup.py): for Jaccard >= t, a pair MUST share at least one
token in each side's *prefix* — the first ``|T| - ceil(t*|T|) + 1``
tokens under a single GLOBAL token order (public result from the
SSJoin/PPJoin literature). Candidate generation therefore joins on
prefix tokens only, and an exact intersection/union verify finishes the
job: no false negatives (guaranteed), no false positives (verified) —
unlike LSH there is no recall knob to tune.

Scale shape: the global order sorts tokens by ascending corpus
frequency, so the join keys are each document's RAREST tokens — the
skew defense is built into the algorithm (frequent tokens land outside
prefixes). The frequency relation is vocabulary-sized (broadcast); the
only wide shuffle is the candidate join keyed by rare tokens, run by
the pair kernel the dedup candidate generators share
(dedup.shared_key_pairs); the verify is a per-pair codegen expression.

Reference scope: the reference has no similarity operators (SURVEY.md
§2 ends at a window argmax); extension surface per BASELINE.json.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import shared_key_pairs


def prefix_filter_jaccard_join(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    threshold: float,
    block_col: str | None = None,
) -> DataFrame:
    """All pairs with Jaccard(tokens_a, tokens_b) >= threshold.

    ``tokens_col`` must hold the DISTINCT token set (array<string>).
    With ``block_col``, only same-block pairs are produced (the usual
    within-source restriction). Returns
    ``(id_a, id_b, jaccard)`` (+ block column first if given), with
    jaccard rounded to 6 decimals and ``id_a < id_b``.
    """
    keep = [block_col] if block_col else []
    base = df.select(
        *keep,
        F.col(id_col).alias("__id"),
        F.col(tokens_col).alias("__toks"),
    ).filter(F.size("__toks") > 0)

    # global token order: ascending corpus frequency, token as tie-break
    freq = (
        base.select(F.explode("__toks").alias("__t"))
        .groupBy("__t")
        .agg(F.count("*").alias("__f"))
    )
    # per-document tokens sorted by the global order; vocabulary-sized
    # broadcast join, then one array rebuild
    ordered = (
        base.select(*keep, "__id", "__toks", F.explode("__toks").alias("__t"))
        .join(F.broadcast(freq), "__t")
        .groupBy(*keep, "__id")
        .agg(
            F.first("__toks").alias("__toks"),
            F.transform(
                F.sort_array(F.collect_list(F.struct("__f", "__t"))),
                lambda s: s["__t"],
            ).alias("__sorted"),
        )
    )
    # prefix length |T| - ceil(t|T|) + 1 (>= 1)
    plen = (
        F.size("__sorted")
        - F.ceil(F.size("__sorted") * F.lit(float(threshold))).cast("int")
        + 1
    )
    pref = ordered.select(
        *keep,
        "__id",
        F.explode(F.slice("__sorted", 1, F.greatest(plen, F.lit(1)))).alias("__pt"),
    )
    # candidate pairs carry NO arrays: the kernel dedups the (id_a,
    # id_b) pairs (a pair sharing several prefix tokens appears once per
    # shared token), then each side's token array joins back by id for
    # ONE exact verify per pair. Measured on the dense-vocabulary
    # fixture at sf0.1: 2.1 s warm vs 6.4 s for verify-before-dedup
    # (every duplicate candidate paid the intersect) and ~2 s for
    # arrays-through-the-join — same local speed as the latter, but the
    # wide exploded join and the dedup exchange move only three small
    # columns, which is what matters when arrays are documents, not
    # 40-token fixtures.
    cand = shared_key_pairs(pref, "__id", ["__pt", *keep]).select("id_a", "id_b")
    ta = ordered.select(
        *keep, F.col("__id").alias("id_a"), F.col("__toks").alias("__ta")
    )
    tb = ordered.select(
        F.col("__id").alias("id_b"), F.col("__toks").alias("__tb")
    )
    jac = F.round(
        F.size(F.array_intersect("__ta", "__tb"))
        / F.size(F.array_union("__ta", "__tb")),
        6,
    )
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .drop("__ta", "__tb")
        .select(
            *([block_col] if block_col else []), "id_a", "id_b", "jaccard"
        )
    )
