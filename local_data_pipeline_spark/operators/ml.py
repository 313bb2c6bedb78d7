"""Distributed training-data ML primitives: BPE merge learning and PCA.

Both follow the same scale discipline as the rest of the engine — the big
input is only ever touched by map-side-combinable aggregations; anything
iterative or super-linear runs on a reduced relation (the word-frequency
vocabulary for BPE, the d×d scatter matrix for PCA) that is orders of
magnitude smaller than the corpus.

Parity note: the reference has no ML surface (SURVEY.md §2 — its
computational surface ends at a window argmax); these operators belong to
the BASELINE.json extension surface for LLM training-data pipelines.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """``(word string, freq bigint)`` for lowercase alphabetic words.

    This is the corpus-sized pass (one scan, one map-side-combinable
    count); everything BPE does afterwards runs on this vocabulary
    relation, exactly how word-level BPE trainers (the public
    Hugging Face ``tokenizers``/original Sennrich formulation) avoid
    re-scanning the corpus per merge.
    """
    from ..session import widen_to_parallelism

    # widen a narrow source so the tokenize/explode map stage
    # parallelizes (single-split parquet at bench scale)
    docs = widen_to_parallelism(docs.select(text_col))
    toks = docs.select(
        F.explode(TX.tokens(F.col(text_col))).alias("word")
    ).filter(F.col("word").rlike("^[a-z]+$"))
    return toks.groupBy("word").agg(F.count("*").alias("freq"))


def _merge_adjacent(sym_col, left: str, right: str):
    """Greedy left-to-right single-pass merge of adjacent (left, right)
    symbol pairs inside an array<string> column — pure Catalyst HOF
    (aggregate over indices with a (accumulated, consumed-flag) state),
    no UDF. "a a a" under merge (a,a) becomes ["aa","a"], matching the
    reference BPE apply order.
    """
    n = F.size(sym_col)
    return F.aggregate(
        F.sequence(F.lit(0), n - 1),
        F.struct(
            F.array().cast("array<string>").alias("acc"),
            F.lit(False).alias("skip"),
        ),
        lambda st, i: F.when(st["skip"], F.struct(st["acc"].alias("acc"), F.lit(False).alias("skip")))
        .when(
            (i < n - 1)
            & (F.element_at(sym_col, i + 1) == F.lit(left))
            & (F.element_at(sym_col, i + 2) == F.lit(right)),
            F.struct(
                F.concat(st["acc"], F.array(F.lit(left + right))).alias("acc"),
                F.lit(True).alias("skip"),
            ),
        )
        .otherwise(
            F.struct(
                F.concat(st["acc"], F.array(F.element_at(sym_col, i + 1))).alias("acc"),
                F.lit(False).alias("skip"),
            )
        ),
        lambda st: st["acc"],
    )


def train_bpe_merges(
    docs: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    return_vocab: bool = False,
    max_driver_vocab: int = 50_000,
):
    """Learn the first ``n_merges`` BPE merges from a document corpus.

    Returns ``[(left, right, pair_count), ...]`` in merge order. Ties on
    pair count break lexicographically on (left, right) so the learned
    tokenizer is deterministic on any engine/partitioning.

    With ``return_vocab=True``, returns ``(merges, encoded_vocab)``
    where ``encoded_vocab`` is the fully-merged vocabulary as
    ``(word string, freq bigint, n_subwords bigint)``. The encode half
    of a train+apply pipeline should consume this instead of
    re-scanning the corpus and re-applying the merge chain
    (``bpe_encode_vocab(..., precomputed=...)``).

    Size-gated hybrid (the unigram ``max_broadcast_vocab`` pattern):
    the corpus is scanned exactly once into the (word, freq) vocabulary
    relation and checkpointed; when the EXACT word-type count is ≤
    ``max_driver_vocab``, the merge loop runs driver-side over the
    collected vocabulary via :func:`train_bpe_merges_local` — 10
    sequential Spark jobs over a vocabulary-sized relation are pure
    job-floor overhead when the type count is small (bench corpora),
    and the local trainer is the SAME greedy argmax with the SAME
    (-count, (left, right)) tie-break (property-test-pinned parity).
    Above the gate, the distributed loop below runs: per merge
    iteration, one adjacent-pair count over the vocabulary relation
    (map-side combinable) + a driver argmax of the tiny aggregated pair
    table + one narrow rewrite applying the merge, vocabulary cached
    between iterations — the 100 TB shape, since real-corpus type
    counts are Zipf-unbounded and must never be collected. The gate is
    sized by driver CPU (the local loop is O(n_merges · total symbols)
    Python), not just driver memory.
    """
    base = word_frequencies(docs, text_col).localCheckpoint(eager=True)
    n_vocab = base.count()  # exact, off the checkpoint — no extra corpus pass
    if n_vocab <= max_driver_vocab:
        wf = sorted(
            (r["word"], int(r["freq"])) for r in base.collect()
        )
        merges = train_bpe_merges_local(wf, n_merges)
        if return_vocab:
            encoded = docs.sparkSession.createDataFrame(
                [
                    (w, f, len(bpe_encode_local(w, merges)))
                    for w, f in wf
                ],
                "word string, freq bigint, n_subwords bigint",
            )
            return merges, encoded
        return merges
    vocab = base.withColumn("syms", F.split(F.col("word"), ""))
    vocab = vocab.select("freq", "syms").cache()
    merges: list[tuple[str, str, int]] = []
    prev = None  # parent cache, dropped once the child is materialized
    try:
        for _ in range(n_merges):
            # this aggregate is ALSO the job that materializes the
            # current vocab's cache, so no separate count() pass is
            # needed per iteration (measured: one job per merge instead
            # of two)
            pairs = (
                vocab.select(
                    "freq",
                    F.explode(
                        F.zip_with(
                            F.slice(F.col("syms"), 1, F.size("syms") - 1),
                            F.slice(F.col("syms"), 2, F.size("syms") - 1),
                            lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                        )
                    ).alias("p"),
                )
                .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
                .agg(F.sum("freq").alias("c"))
            )
            top = (
                pairs.orderBy(F.desc("c"), F.asc("l"), F.asc("r")).limit(1).collect()
            )
            if prev is not None:
                prev.unpersist()  # child is materialized now
            if not top or top[0]["c"] is None:
                break
            left, right, count = top[0]["l"], top[0]["r"], int(top[0]["c"])
            merges.append((left, right, count))
            new_vocab = vocab.select(
                "freq",
                _merge_adjacent(F.col("syms"), left, right).alias("syms"),
            ).cache()
            prev = vocab
            vocab = new_vocab
        encoded = None
        if return_vocab:
            # one narrow HOF pass off the final cached vocab (or its
            # cached parent — the last .cache() is lazy); eager
            # checkpoint pins the result so the caches in `finally`
            # can be dropped safely
            encoded = vocab.select(
                F.array_join("syms", "").alias("word"),
                "freq",
                F.size("syms").cast("bigint").alias("n_subwords"),
            ).localCheckpoint(eager=True)
    finally:
        if prev is not None:
            prev.unpersist()
        vocab.unpersist()
    if return_vocab:
        return merges, encoded
    return merges


def bpe_merges_df(
    spark: SparkSession, docs: DataFrame, n_merges: int = 10
) -> DataFrame:
    """The learned merge table as a DataFrame:
    ``(merge_rank bigint, left string, right string, pair_count bigint)``."""
    merges = train_bpe_merges(docs, n_merges=n_merges)
    rows = [
        (i + 1, left, right, count) for i, (left, right, count) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows, "merge_rank bigint, left string, right string, pair_count bigint"
    )


def train_bpe_merges_local(
    word_freqs: list[tuple[str, int]], n_merges: int = 10
) -> list[tuple[str, str, int]]:
    """Pure-python reference implementation (test oracle) of
    :func:`train_bpe_merges` over an explicit (word, freq) list."""
    vocab = {w: list(w) for w, _ in word_freqs}
    freqs = dict(word_freqs)
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in vocab.items():
            f = freqs[w]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (left, right), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((left, right, c))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges


def logistic_irls(
    features: DataFrame,
    feature_cols: list[str],
    label_col: str,
    n_iters: int = 8,
    ridge: float = 1e-6,
) -> np.ndarray:
    """Distributed logistic regression via IRLS (Newton-Raphson).

    Per iteration, ONE Arrow pass reduces each partition to the (p×p,
    p) sufficient statistics of the weighted least-squares step —
    Hessian XᵀWX and gradient Xᵀ(y−μ) — and the driver solves the p×p
    system. p = len(feature_cols)+1 (intercept first), so the data
    moved per iteration is p² doubles per partition regardless of row
    count: the exact shape a quality-classifier fit needs at corpus
    scale. A small ridge term keeps the Hessian invertible on
    degenerate/separable slices.

    Returns the coefficient vector (intercept first).
    """
    import pandas as pd  # executor-side

    p = len(feature_cols) + 1
    beta = np.zeros(p)

    # cache the (usually derived) feature relation: every Newton step
    # re-reads it, and recomputing text features 8x would dominate
    sel = features.select(
        *feature_cols, F.col(label_col).cast("double").alias("__y")
    ).cache()

    for _ in range(n_iters):
        b = beta.copy()

        def partials(batches, b=b):
            h = np.zeros((p, p))
            g = np.zeros(p)
            for pdf in batches:
                x = np.column_stack(
                    [np.ones(len(pdf))]
                    + [pdf[c].to_numpy(dtype=np.float64) for c in feature_cols]
                )
                y = pdf["__y"].to_numpy(dtype=np.float64)
                eta = np.clip(x @ b, -30, 30)
                mu = 1.0 / (1.0 + np.exp(-eta))
                w = mu * (1.0 - mu)
                h += (x * w[:, None]).T @ x
                g += x.T @ (y - mu)
            yield pd.DataFrame(
                {"h": [h.reshape(-1).tolist()], "g": [g.tolist()]}
            )

        parts = sel.mapInPandas(
            partials, schema="h array<double>, g array<double>"
        ).collect()
        hess = np.sum([np.array(r["h"]).reshape(p, p) for r in parts], axis=0)
        grad = np.sum([np.array(r["g"]) for r in parts], axis=0)
        beta = beta + np.linalg.solve(hess + ridge * np.eye(p), grad)
    sel.unpersist()
    return beta


def ridge_fit_local(
    x: np.ndarray, y: np.ndarray, lam: float = 1.0
) -> np.ndarray:
    """Single-node reference (test oracle) of :func:`ridge_fit`;
    ``x`` excludes the intercept column."""
    xx = np.column_stack([np.ones(len(x)), x])
    p = xx.shape[1]
    reg = lam * np.eye(p)
    reg[0, 0] = 0.0
    return np.linalg.solve(xx.T @ xx + reg, xx.T @ y)


def logistic_irls_local(
    x: np.ndarray, y: np.ndarray, n_iters: int = 8, ridge: float = 1e-6
) -> np.ndarray:
    """Single-node reference (test oracle) of :func:`logistic_irls`;
    ``x`` excludes the intercept column."""
    xx = np.column_stack([np.ones(len(x)), x])
    p = xx.shape[1]
    beta = np.zeros(p)
    for _ in range(n_iters):
        eta = np.clip(xx @ beta, -30, 30)
        mu = 1.0 / (1.0 + np.exp(-eta))
        w = mu * (1.0 - mu)
        hess = (xx * w[:, None]).T @ xx
        grad = xx.T @ (y - mu)
        beta = beta + np.linalg.solve(hess + ridge * np.eye(p), grad)
    return beta


def embedding_scatter(
    emb: DataFrame, vec_col: str = "embedding"
) -> tuple[int, np.ndarray, np.ndarray]:
    """Sufficient statistics for PCA in one Arrow pass:
    ``(n, sum_vec (d,), scatter (d,d))`` where scatter = Σ xᵀx.

    Each partition reduces its rows to a single (n, Σx, Σxᵀx) triple with
    one BLAS syrk-shaped matmul — the map-side-combine shape — and the
    driver adds the K partial triples. d² doubles per partition is the
    only data that moves, independent of row count, so this holds at any
    corpus size (d=64 → 32 KiB per partition).
    """
    first = emb.select(vec_col).first()
    if first is None or first[0] is None:
        raise ValueError(
            "embedding_scatter: input has no rows (or a null first "
            "vector) — nothing to factor; check upstream filters"
        )
    d = len(first[0])

    def partials(batches):
        n = 0
        s = np.zeros(d)
        sc = np.zeros((d, d))
        for pdf in batches:
            x = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            if len(x):
                n += x.shape[0]
                s += x.sum(axis=0)
                sc += x.T @ x
        import pandas as pd

        yield pd.DataFrame(
            {
                "n": [n],
                "s": [s.tolist()],
                "sc": [sc.reshape(-1).tolist()],
            }
        )

    parts = emb.select(vec_col).mapInPandas(
        partials, schema="n long, s array<double>, sc array<double>"
    ).collect()
    n = sum(p["n"] for p in parts)
    s = np.sum([np.array(p["s"]) for p in parts], axis=0)
    sc = np.sum([np.array(p["sc"]).reshape(d, d) for p in parts], axis=0)
    return n, s, sc


def pca_explained_variance(
    spark: SparkSession,
    emb: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k PCA eigenvalues of the embedding covariance and their
    explained-variance ratios:
    ``(component bigint, eigenvalue double, explained_ratio double)``.

    Covariance = scatter/n − mean meanᵀ from :func:`embedding_scatter`
    (one distributed pass); the d×d eigendecomposition runs on the driver
    — at any corpus scale d stays model-sized (64–4096), so ``eigh`` on
    the driver is the right split of work.
    """
    n, s, sc = embedding_scatter(emb, vec_col)
    mean = s / n
    cov = sc / n - np.outer(mean, mean)
    vals = np.linalg.eigvalsh(cov)[::-1]  # descending
    total = float(vals.sum())
    rows = [
        (i + 1, round(float(vals[i]), 6), round(float(vals[i]) / total, 6))
        for i in range(min(k, len(vals)))
    ]
    return spark.createDataFrame(
        rows, "component bigint, eigenvalue double, explained_ratio double"
    )


def pca_variance_audit(
    spark: SparkSession,
    emb: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    scale: int = 12,
) -> DataFrame:
    """:func:`pca_explained_variance` graduated to a value-hash oracle
    (the ridge_fit split of exact-vs-flagged work): the EXACT,
    SQL-replayable side is the per-dimension variance diagonal — each
    dimension's Σx and Σx² are exact-decimal sums (``dsum``), variance
    forms by the identical double expression ``sq/n − (s/n)²`` on both
    engines, micro-quantized with the engine-identical floor rule — and
    the LAPACK-dependent eigenvalues collapse into a per-component
    ``eig_ok`` flag built from invariants that hold for ANY correct
    eigendecomposition of the covariance:

    - PSD: λᵢ ≥ −tol;
    - sorted: λᵢ ≤ λᵢ₋₁ + tol;
    - trace: Σλ equals the exact-decimal trace (within tol);
    - Schur–Horn majorization: the top-i eigenvalue partial sums
      dominate the top-i sorted-variance partial sums for every i.

    Output: ``(component, top_dim, dim_variance, trace_micro, eig_ok)``
    — the k highest-variance dimensions (desc, dim tie-break), total
    variance in exact micro-units, and the flag.

    Scale: one map-side-combinable d-group aggregate over the exploded
    corpus + the :func:`embedding_scatter` pass; the collect is d rows
    (model constant)."""
    import math

    from ..functions.numeric import dsum

    un = emb.select(
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "val")
    )
    stats = un.groupBy("dim").agg(
        F.count("*").alias("n"),
        dsum("val", scale).alias("s"),
        dsum(F.col("val") * F.col("val"), scale).alias("sq"),
    )
    pv = []
    for r in stats.collect():  # d rows — embedding dim, a model constant
        var = r["sq"] / r["n"] - (r["s"] / r["n"]) * (r["s"] / r["n"])
        pv.append((int(r["dim"]), int(math.floor(var * 1e6 + 0.5))))
    trace_micro = sum(v for _, v in pv)
    pv.sort(key=lambda t: (-t[1], t[0]))
    top = pv[: min(k, len(pv))]

    n, ssum, sc = embedding_scatter(emb, vec_col)
    mean = ssum / n
    cov = sc / n - np.outer(mean, mean)
    vals = np.linalg.eigvalsh(cov)[::-1]  # descending
    trace = trace_micro / 1e6
    # micro-quantizing d per-dim variances accumulates up to d·0.5e-6
    # of rounding against the unquantized eigen sums — the tolerance
    # must absorb that ON TOP of the float-path slack, or the flag
    # false-alarms on a perfectly consistent decomposition
    tol = 0.5e-6 * len(pv) + 1e-6 * max(1.0, abs(trace))
    trace_ok = abs(float(vals.sum()) - trace) <= tol
    rows = []
    cum_lam = 0.0
    cum_var = 0.0
    for i, (dim, vm) in enumerate(top):
        lam = float(vals[i])
        cum_lam += lam
        cum_var += vm / 1e6
        ok = (
            trace_ok
            and lam >= -tol
            and (i == 0 or lam <= float(vals[i - 1]) + tol)
            and cum_lam >= cum_var - tol
        )
        rows.append((i + 1, dim, vm / 1e6, trace_micro, int(ok)))
    return spark.createDataFrame(
        rows,
        "component bigint, top_dim bigint, dim_variance double, "
        "trace_micro bigint, eig_ok bigint",
    )


def bpe_encode_vocab(
    docs: DataFrame,
    merges: list[tuple[str, str, int]],
    text_col: str = "text",
    precomputed: "DataFrame | None" = None,
) -> DataFrame:
    """Apply a trained merge table to the corpus VOCABULARY: returns
    ``(word, freq, n_subwords)`` with every merge applied in training
    order via the same Catalyst HOF the trainer uses (no UDF).

    This is the tokenizer-apply step done the way production tokenizers
    amortize it at corpus scale: encode each DISTINCT word once
    (vocabulary-sized work), then join token counts back onto the
    corpus — never re-encode per occurrence.

    ``precomputed`` accepts the ``(word, freq, n_subwords)`` vocabulary
    that ``train_bpe_merges(..., return_vocab=True)`` already
    materialized, skipping the corpus re-scan and the 10-pass merge
    replay entirely — train+apply pipelines should always pass it
    (the r10→r11 warm-regression fix: the encode half used to re-derive
    state the trainer's cache chain had just computed)."""
    if precomputed is not None:
        return precomputed.select("word", "freq", "n_subwords")
    vocab = word_frequencies(docs, text_col).withColumn(
        "syms", F.split(F.col("word"), "")
    )
    for left, right, _ in merges:
        vocab = vocab.withColumn(
            "syms", _merge_adjacent(F.col("syms"), left, right)
        )
    # one lineage cut after the merge chain: 10 nested HOFs re-plan fine,
    # but downstream joins shouldn't re-derive them per consumer
    vocab = vocab.localCheckpoint(eager=False)
    return vocab.select(
        "word", "freq", F.size("syms").cast("bigint").alias("n_subwords")
    )


def bpe_encode_local(
    word: str, merges: list[tuple[str, str, int]]
) -> list[str]:
    """Pure-python reference (test oracle) of the greedy left-to-right
    merge application, mirroring :func:`_merge_adjacent` exactly."""
    syms = list(word)
    for left, right, _ in merges:
        out, i = [], 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == left and syms[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def unigram_vocab(
    docs: DataFrame,
    text_col: str = "text",
    max_piece_len: int = 6,
    vocab_size: int = 256,
) -> "dict[str, float]":
    """Unigram-LM vocabulary (the SentencePiece tokenizer family — Kudo,
    ACL 2018, arXiv:1804.10959 — with the EM pruning simplified to a
    frequency cut): the ``vocab_size`` most frequent word-substrings of
    length 2..``max_piece_len`` PLUS every single character seen (the
    coverage guarantee: any word can always segment), each with log-prob
    ln(count/total) over the selected set.

    Distributed shape: ONE pass — words exploded and pre-aggregated to
    (type, count) so the substring generation runs over word TYPES (the
    Zipf trick again), then a JVM-side double explode over (start,
    length) emits every substring weighted by its word's occurrence
    count; the weighted-sum aggregate is map-side combinable and only
    the vocab-sized top-K (+ alphabet) ever reaches the driver
    (S4-allowlisted). Ties at the cut break lexicographically, so the
    vocabulary is deterministic at any parallelism."""
    words = (
        docs.select(F.explode(TX.tokens(F.col(text_col))).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
    )
    subs = (
        words.select(
            F.col("wc"),
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(1), F.length("w")),
                        lambda i: F.transform(
                            F.sequence(
                                F.lit(1),
                                F.least(
                                    F.lit(max_piece_len),
                                    F.length("w") - i + 1,
                                ),
                            ),
                            lambda l: F.substring(F.col("w"), i, l),
                        ),
                    )
                )
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("wc").alias("c"))
    )
    chars = subs.filter(F.length("piece") == 1)
    multi = (
        subs.filter(F.length("piece") >= 2)
        .orderBy(F.desc("c"), F.asc("piece"))
        .limit(vocab_size)
    )
    rows = chars.unionAll(multi).collect()
    total = sum(r["c"] for r in rows)
    import math

    return {r["piece"]: math.log(r["c"] / total) for r in rows}


def viterbi_segment_local(word: str, vocab: "dict[str, float]") -> list[str]:
    """Pure-python Viterbi max-log-prob segmentation (test oracle and the
    executor-side kernel): best[i] = max over j of best[j] +
    logp(word[j:i]). Ties prefer the LONGER final piece (smaller j);
    characters absent from the vocabulary get logp(min)-10 as the UNK
    penalty, so segmentation never fails."""
    if not word:
        return []
    if not vocab:
        raise ValueError(
            "viterbi_segment_local: empty vocabulary — train "
            "unigram_vocab on a non-empty corpus first"
        )
    unk = min(vocab.values()) - 10.0
    n = len(word)
    best = [0.0] + [float("-inf")] * n
    back = [0] * (n + 1)
    max_len = max(len(p) for p in vocab)
    for i in range(1, n + 1):
        for j in range(max(0, i - max_len), i):
            piece = word[j:i]
            lp = vocab.get(piece)
            if lp is None:
                if i - j == 1:
                    lp = unk
                else:
                    continue
            score = best[j] + lp
            # strict >: j iterates ascending (longest final piece
            # first), so on an exact score tie the SMALLEST j — the
            # LONGEST final piece — is kept. Pinned by
            # test_viterbi_segmentation_planted_vocab.
            if score > best[i]:
                best[i] = score
                back[i] = j
    out = []
    i = n
    while i > 0:
        j = back[i]
        out.append(word[j:i])
        i = j
    return out[::-1]


def unigram_viterbi_encode(
    docs: DataFrame,
    vocab: "dict[str, float]",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_broadcast_vocab: int = 1_000_000,
) -> DataFrame:
    """(id, n_words, n_pieces, pieces) with Python cost proportional to
    the DISTINCT vocabulary, not the corpus: segment the word TYPES, not
    the token stream. Words are exploded with their position, the
    distinct word set (Zipf — orders of magnitude smaller than the
    corpus at scale) is Viterbi-segmented in one Arrow-batched
    mapInPandas pass against the broadcast model vocabulary, and
    documents are reassembled entirely JVM-side: shuffle join of the
    token stream back to its word's pieces, then an ordered flatten
    (array_sort over (pos, pieces) structs) per document. Empty
    documents survive via the left join from the id spine. Per-word
    Python work is O(len·max_piece_len); everything corpus-sized stays
    in Tungsten.

    The pieces join is broadcast-hinted only while the EXACT word-type
    count stays ≤ ``max_broadcast_vocab`` — the word-TYPE relation is
    Zipf-sublinear but UNBOUNDED on real corpora, and a forced
    broadcast of a 10⁸-type vocabulary would blow the driver/executor
    broadcast limits at the 100 TB framing; above the gate the planner
    (AQE) picks the join strategy for a plain shuffle join. The count
    is FREE in passes: word_pieces is locally checkpointed, so the
    gate's count() materializes the segmentation exactly once and the
    join reuses it (the first cut of this gate ran a separate HLL job
    over the token stream — a measured +2 s re-tokenization at sf0.1)."""
    import pandas as pd

    from ..session import widen_to_parallelism

    sc = docs.sparkSession.sparkContext
    bvocab = sc.broadcast(vocab)

    # widen a narrow source so the tokenize/posexplode map stage
    # parallelizes (single-digit input splits at sf1-sf10)
    docs = widen_to_parallelism(docs.select(id_col, text_col))
    spine = docs.select(id_col)
    toks = docs.select(
        F.col(id_col),
        F.posexplode(TX.tokens(F.col(text_col))).alias("__pos", "__w"),
    )

    def segment(batches):
        v = bvocab.value
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "__w": pdf["__w"],
                    "__ps": [
                        viterbi_segment_local(w, v) for w in pdf["__w"]
                    ],
                }
            )

    word_pieces = (
        toks.select("__w")
        .distinct()
        .mapInPandas(segment, "__w string, __ps array<string>")
        # checkpoint: the broadcast-gate count below and the pieces
        # join both read this one materialization of the Python
        # segmentation pass
        .localCheckpoint(eager=False)
    )
    # pin the per-doc aggregate's shuffle to the data size (~10k docs
    # of token/piece rows per partition): word_pieces broadcasts, so
    # the only exchange is this groupBy — a fixed
    # spark.sql.shuffle.partitions at 10x data puts ~15M piece-array
    # rows per partition (spill); partitioning never changes results
    cores = docs.sparkSession.sparkContext.defaultParallelism
    n_docs = docs.count()
    n_parts = min(cores * 8, max(cores, n_docs // 10_000))
    # broadcast gate: exact word-type count off the checkpointed
    # segmentation (no extra corpus pass)
    n_vocab = word_pieces.count()
    pieces_side = (
        F.broadcast(word_pieces)
        if n_vocab <= max_broadcast_vocab
        else word_pieces
    )
    per_doc = (
        toks.join(pieces_side, "__w")
        .repartition(n_parts, id_col)
        .groupBy(id_col)
        .agg(
            F.count("*").cast("int").alias("n_words"),
            F.sum(F.size("__ps")).cast("int").alias("n_pieces"),
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("__pos").alias("p"),
                                F.col("__ps").alias("ps"),
                            )
                        )
                    ),
                    lambda s: s["ps"],
                )
            ).alias("pieces"),
        )
    )
    return spine.join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_words", F.lit(0)).alias("n_words"),
        F.coalesce("n_pieces", F.lit(0)).alias("n_pieces"),
        F.coalesce(
            "pieces", F.array().cast("array<string>")
        ).alias("pieces"),
    )


def cramer_solve(xtx: np.ndarray, xty: np.ndarray) -> np.ndarray:
    """Solve a small linear system by Cramer's rule with the EXACT
    float-operation order of the SQL twins' generated Leibniz
    determinants (queries._det4_sql): permutations enumerated in
    lexicographic order, products left-associated, terms accumulated
    left-to-right signed by inversion parity, each coefficient one
    det_j / det division. Feeding this and the twin bit-identical
    sufficient statistics yields bit-identical coefficients — no κ·ε
    LU-vs-Cramer residual for quantization to absorb, and no LAPACK /
    OpenBLAS version dependence in any hashed value (round-8 advice:
    the previous np.linalg.solve path was only empirically inside the
    floor6 buckets and could drift on a BLAS upgrade).

    Cost is p!·p — this exists for the p ≤ 6 sufficient-statistic
    panels of the exact-ridge family, and guards against misuse."""
    from itertools import permutations

    p = len(xty)
    if p > 7:
        raise ValueError(
            f"cramer_solve is factorial in p (got {p}); solve a wide "
            "feature panel's normal equations with np.linalg.solve"
        )
    a = [[float(xtx[i][j]) for j in range(p)] for i in range(p)]
    b = [float(v) for v in xty]
    perms = []
    for perm in permutations(range(p)):
        inv = sum(
            1
            for x in range(p)
            for y in range(x + 1, p)
            if perm[x] > perm[y]
        )
        perms.append((perm, inv % 2 == 0))

    def det(entry):
        acc = 0.0
        for perm, even in perms:
            prod = entry(0, perm[0])
            for i in range(1, p):
                prod = prod * entry(i, perm[i])
            acc = acc + prod if even else acc - prod
        return acc

    d = det(lambda i, j: a[i][j])
    out = []
    for j in range(p):
        dj = det(lambda i, c, jj=j: b[i] if c == jj else a[i][c])
        out.append(dj / d)
    return np.array(out)


def ridge_fit(
    features: DataFrame,
    feature_cols: "list[str]",
    label_col: str,
    lam: float = 1.0,
    scale: int = 12,
) -> np.ndarray:
    """Ridge regression via normal equations with ORDER-INSENSITIVE
    sufficient statistics: every XᵀX / Xᵀy entry is an exact-decimal sum
    (``dsum`` at 12 fractional digits) computed in ONE JVM hash aggregate
    over one corpus pass, so the statistic is bit-identical at any
    parallelism AND reproducible by a SQL twin (``dsum_sql`` per entry),
    which is what lets the ridge query carry a value-hash oracle. The
    per-row 1e-12 quantization of products perturbs XᵀX relatively by
    ~1e-15 — far below the normal-equation conditioning floor. The driver
    solves ``(XᵀX + λI)β = Xᵀy`` by :func:`cramer_solve` (the intercept
    entry of λI is zeroed: the mean is never penalized); a NULL feature
    or label fails fast instead of poisoning the statistic.

    Returns coefficients, intercept first."""
    from ..functions.numeric import dsum

    p = len(feature_cols) + 1
    sel = features.select(
        *[F.col(c).cast("double").alias(c) for c in feature_cols],
        F.col(label_col).cast("double").alias("__y"),
    )
    non_null = F.col("__y").isNotNull()
    for c in feature_cols:
        non_null = non_null & F.col(c).isNotNull()
    sel = sel.withColumn(
        "__y",
        F.when(
            F.assert_true(
                non_null,
                F.lit(
                    "ridge_fit: NULL in feature/label column — "
                    "drop or impute upstream"
                ),
            ).isNull(),
            F.col("__y"),
        ),
    )
    terms = [F.lit(1.0)] + [F.col(c) for c in feature_cols]
    aggs = [F.count("*").cast("double").alias("n")]
    for i in range(p):
        for j in range(i, p):
            if i == 0 and j == 0:
                continue  # the (1,1) entry IS the count
            aggs.append(
                dsum(terms[i] * terms[j], scale).alias(f"xtx_{i}_{j}")
            )
    for i in range(p):
        aggs.append(dsum(terms[i] * F.col("__y"), scale).alias(f"xty_{i}"))
    row = sel.agg(*aggs).collect()[0]
    xtx = np.zeros((p, p))
    xtx[0, 0] = row["n"]
    for i in range(p):
        for j in range(i, p):
            if i == 0 and j == 0:
                continue
            xtx[i, j] = xtx[j, i] = row[f"xtx_{i}_{j}"]
    xty = np.array([row[f"xty_{i}"] for i in range(p)])
    reg = lam * np.eye(p)
    reg[0, 0] = 0.0
    # Cramer in the twin's exact float-op order, NOT np.linalg.solve:
    # bit-identical statistics then give bit-identical coefficients
    return cramer_solve(xtx + reg, xty)


def ridge_kfold_cv(
    features: DataFrame,
    feature_cols: "list[str]",
    label_col: str,
    fold_col: str,
    lam: float = 1.0,
    scale: int = 12,
) -> DataFrame:
    """K-fold cross-validation for normal-equations ridge WITHOUT
    training k times over the data — the additivity of sufficient
    statistics is the whole trick — with ORDER-INSENSITIVE statistics a
    SQL twin can replay:

    - pass 1 is one JVM hash aggregate of per-fold DECIMAL XᵀX / Xᵀy
      sums (no Arrow partials, no collect-order float summation);
    - leave-one-fold-out training statistics form by EXACT decimal
      subtraction (total − fold) on the driver, so the matrices handed
      to the solver are bit-identical to what the oracle's
      ``cast(cast(total − fold AS string) AS double)`` produces;
    - pass 2 scores every row against its own fold's model with a pure
      JVM when-chain (coefficients inlined as literals), per-row squared
      error quantized by floor(se·1e6 + 0.5) — the engine-identical
      rule, not np.round's half-even.

    Returns (fold, n_test, sse_micro). The solve is
    :func:`cramer_solve` — the twin's exact float-operation order — so
    with bit-identical statistics the coefficients, predictions, and
    per-row se_micro are bit-identical cross-engine; the coarse
    milli-RMSE output convention predates that and stays (it also
    keeps the hash robust to future feature-panel changes)."""
    from decimal import Decimal

    from ..functions.numeric import dsum_dec

    p = len(feature_cols) + 1
    sel = features.select(
        F.col(fold_col).cast("int").alias("__fold"),
        *[F.col(c).cast("double").alias(c) for c in feature_cols],
        F.col(label_col).cast("double").alias("__y"),
    )
    non_null = F.col("__fold").isNotNull() & F.col("__y").isNotNull()
    for c in feature_cols:
        non_null = non_null & F.col(c).isNotNull()
    sel = sel.withColumn(
        "__fold",
        F.when(
            F.assert_true(
                non_null,
                F.lit(
                    "ridge_kfold_cv: NULL in fold/feature/label "
                    "column — drop or impute upstream"
                ),
            ).isNull(),
            F.col("__fold"),
        ),
    )
    terms = [F.lit(1.0)] + [F.col(c) for c in feature_cols]
    aggs = [F.count("*").alias("n")]
    keys = []
    for i in range(p):
        for j in range(i, p):
            if i == 0 and j == 0:
                continue
            keys.append((i, j))
            aggs.append(
                dsum_dec(terms[i] * terms[j], scale).alias(f"xtx_{i}_{j}")
            )
    for i in range(p):
        aggs.append(
            dsum_dec(terms[i] * F.col("__y"), scale).alias(f"xty_{i}")
        )
    per = sel.groupBy("__fold").agg(*aggs).collect()
    names = [f"xtx_{i}_{j}" for i, j in keys] + [
        f"xty_{i}" for i in range(p)
    ]
    tot = {nm: sum((Decimal(r[nm]) for r in per), Decimal(0)) for nm in names}
    tot["n"] = sum(r["n"] for r in per)
    reg = lam * np.eye(p)
    reg[0, 0] = 0.0
    betas = {}
    for r in per:
        xtx = np.zeros((p, p))
        xtx[0, 0] = float(tot["n"] - r["n"])
        for i, j in keys:
            v = float(tot[f"xtx_{i}_{j}"] - Decimal(r[f"xtx_{i}_{j}"]))
            xtx[i, j] = xtx[j, i] = v
        xty = np.array(
            [float(tot[f"xty_{i}"] - Decimal(r[f"xty_{i}"])) for i in range(p)]
        )
        # same-order Cramer as the twin — see ridge_fit
        betas[int(r["__fold"])] = cramer_solve(xtx + reg, xty)
    pred = None
    for f, b in sorted(betas.items()):
        expr = F.lit(float(b[0]))
        for i, c in enumerate(feature_cols):
            expr = expr + F.lit(float(b[i + 1])) * F.col(c)
        pred = (
            F.when(F.col("__fold") == f, expr)
            if pred is None
            else pred.when(F.col("__fold") == f, expr)
        )
    se = (F.col("__y") - pred) * (F.col("__y") - pred)
    return (
        sel.withColumn(
            "se_micro",
            F.floor(se * F.lit(1e6) + F.lit(0.5)).cast("bigint"),
        )
        .groupBy(F.col("__fold").alias("fold"))
        .agg(
            F.count("*").alias("n_test"),
            F.sum("se_micro").alias("sse_micro"),
        )
    )
