"""Deduplication operators for training-data pipelines, 100 TB-first.

Five dedup families (SURVEY §2.E1-E2), all pure DataFrame/Catalyst — no
Python UDFs, so every stage is codegen'd and shuffle volumes are explicit:

- **exact**: group by content fingerprint, keep canonical row. One shuffle
  on a 128-bit hash — perfectly balanced by construction.
- **MinHash + LSH**: shingle → per-shingle xxhash64 under ``n`` seeds →
  per-doc min (the MinHash signature) → band the signature → group by
  (band_id, band_hash) → candidate pairs only within buckets → verify
  exact Jaccard on candidates. Avoids the O(n²) crossJoin: at 100 TB the
  only all-pairs work happens inside LSH buckets, whose expected size is
  controlled by (bands, rows-per-band).
- **SimHash**: 64-bit signed bit-vote over token hashes; near-dups differ
  in few bits. Banding the 64 bits into k chunks gives Hamming-ball
  candidate generation with the same group-by-bucket shape.
- **n-gram Jaccard**: exact set similarity for candidate verification or
  small corpora (explode shingles → self-join on shingle → count
  intersections; set sizes joined in).
- **embedding cosine**: near-dup by semantic similarity — random-hyperplane
  LSH buckets then exact cosine within buckets (see similarity.py for the
  search variant).

Determinism: all hashes are ``xxhash64`` with fixed integer seeds, so
signatures are stable across runs, partitionings, and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint, shingles_from_tokens, tokens, word_shingles


from ..session import widen_to_parallelism as _widen_to_parallelism


# ----------------------------------------------------------------- exact
def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one canonical row (min id) per normalized-content fingerprint.

    Exact-parity SQL twin: group by md5(normalized text), min(id).
    At scale: single shuffle on the md5; no skew (hash keys are uniform).
    """
    from pyspark.sql import Window

    with_fp = df.withColumn("fp", fingerprint(F.col(text_col)))
    w = Window.partitionBy("fp").orderBy(F.asc(id_col))
    return (
        with_fp.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# --------------------------------------------------------------- minhash
#: Memoized Column TREES for the signature pipeline, keyed by the
#: constants that parameterize them. Columns are unresolved expression
#: trees (resolved per-plan), not data or results — reusing them across
#: DataFrames is standard Spark practice. Building the 32-permutation
#: hash family + its 32 min-aggregates costs ~0.6 s of driver-side py4j
#: chatter PER CALL (round-12 measurement: plan construction, not
#: execution, dominated the incremental IVM queries), and every rk/
#: minhash query pays it 1-2x; the trees depend only on
#: (n_hashes, hash_family), so build each once per process.
_SIG_EXPR_CACHE: "dict[tuple, tuple[list, list, Column]]" = {}


def _signature_exprs(
    n_hashes: int, hash_family: str
) -> "tuple[list, list, Column]":
    """(per-shingle seed-hash columns over `sh`/`__rk`, the matching
    min-aggregate list, the packed signature array) — memoized."""
    from ..functions.replay import pow5_seeded

    key = (n_hashes, hash_family)
    hit = _SIG_EXPR_CACHE.get(key)
    if hit is not None:
        return hit
    if hash_family == "xxhash64":
        seed_hashes = [F.xxhash64("sh", F.lit(i)) for i in range(n_hashes)]
    else:  # rk_pow5 (validated by the caller)
        seed_hashes = [
            pow5_seeded(F.col("__rk"), i) for i in range(n_hashes)
        ]
    aggs = [
        h.cast("long").alias(f"h{i}")
        for i, h in enumerate(map(F.min, seed_hashes))
    ]
    packed = F.array(*[F.col(f"h{i}") for i in range(n_hashes)]).alias(
        "signature"
    )
    _SIG_EXPR_CACHE[key] = (seed_hashes, aggs, packed)
    return seed_hashes, aggs, packed


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    shingle_k: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, signature array<bigint>): per seed i, min over shingles of
    hash_i(shingle).

    ``hash_family``: ``"xxhash64"`` (default — the production choice,
    JVM-vectorized 64-bit) hashes each shingle per seed with
    ``xxhash64(sh, i)``; ``"rk_pow5"`` is the ENGINE-REPLAYABLE family
    (functions/replay.py): one Rabin-Karp codepoint hash per shingle,
    then per-seed shifted power permutations ``pow5((rk + i·SALT) mod
    p)`` — pure int64 arithmetic DuckDB reproduces exactly, which is
    what lets the declared ``minhash_near_dups`` query carry a full
    value-hash oracle. Same pipeline shape either way; rk_pow5 hashes
    the shingle string ONCE and permutes the 31-bit value per seed
    (cheaper per-seed than a fresh xxhash64, narrower hash space).

    Shape: explode distinct shingles → one row per (doc, shingle) → hash
    each shingle once per seed → groupBy(doc).min per seed → pack array.
    The min-aggregate combines map-side, so at 100 TB the shuffle carries
    one 32-long signature per (doc, map task), not the shingles. (The
    tempting all-in-one expression — 32 ``transform``s over the shingle
    array in a single projection — re-inlines shingle construction per
    seed after projection collapse: ~30× slower measured.)"""
    return shingle_signatures(
        doc_shingles(df, text_col, id_col, shingle_k), id_col, n_hashes, hash_family
    )


def doc_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    block_by: str | None = None,
) -> DataFrame:
    """(id, [block_by], sh): one row per distinct shingle of each doc —
    the relation MinHash signatures and exact Jaccard both start from.
    A caller that needs several of them over one corpus builds it once,
    cuts it (``localCheckpoint``) and hands it to
    :func:`shingle_signatures` and :func:`shingle_jaccard`.

    The narrow source is widened first so the tokenize/shingle/explode
    map stage parallelizes (see _widen_to_parallelism)."""
    keys = [id_col, *([block_by] if block_by else [])]
    df = _widen_to_parallelism(df.select(*keys, text_col))
    tokd = df.select(*keys, tokens(F.col(text_col)).alias("__t"))
    return tokd.select(
        *keys, F.explode(shingles_from_tokens(F.col("__t"), shingle_k)).alias("sh")
    )


def shingle_signatures(
    shingles: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 32,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """:func:`minhash_signature` over a prebuilt :func:`doc_shingles`
    relation (extra columns such as a block key are ignored)."""
    from ..functions.replay import rk_string

    if hash_family not in ("xxhash64", "rk_pow5"):
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    exploded = shingles
    if hash_family == "rk_pow5":
        # bind the per-shingle RK hash once; the 32 permutations reuse it
        exploded = exploded.withColumn("__rk", rk_string(F.col("sh")))
    _, aggs, packed = _signature_exprs(n_hashes, hash_family)
    mins = exploded.groupBy(id_col).agg(*aggs)
    return mins.select(F.col(id_col), packed)


def banded_signatures(
    signatures: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = 8,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, band, band_hash) rows — the LSH INDEX relation: each
    signature banded into ``n_bands`` chunks, each chunk collapsed to a
    bucket key (family semantics documented on lsh_candidate_pairs).
    This is the state a persisted/incrementally-maintained near-dup
    index stores (see cdc.maintain_minhash_index); lsh_candidate_pairs
    derives candidates from it on the fly."""
    from ..functions.replay import poly_fold

    n_hashes_col = F.size(F.col("signature"))
    rows_per_band = (n_hashes_col / n_bands).cast("int")
    if hash_family == "xxhash64":
        def band_key(sl: Column) -> Column:
            return F.xxhash64(sl.cast("string"))
    elif hash_family == "rk_pow5":
        band_key = poly_fold
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    return signatures.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    band_key(
                        F.slice(
                            F.col("signature"),
                            b * rows_per_band + 1,
                            rows_per_band,
                        )
                    ).alias("band_hash"),
                ),
            )
        ).alias("bh"),
    ).select(id_col, "bh.band", "bh.band_hash")


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = 8,
    max_bucket_size: int | None = None,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Band each signature into ``n_bands`` chunks; docs sharing any band
    hash become a candidate pair. Output: (id_a, id_b), id_a < id_b,
    deduplicated across bands.

    Scale shape: explode to n_bands rows/doc → group by (band, band_hash)
    → pairs within buckets. Bucket sizes are the knob: more bands → higher
    recall and bigger buckets. ``max_bucket_size`` is the jumbo-bucket
    guard: a bucket of n docs emits n² pairs, so one degenerate bucket
    (empty docs, boilerplate) can dominate the whole job — buckets above
    the cap are SKIPPED (their members still pair through their other
    bands, which a truly similar pair shares anyway). None keeps exact
    banding semantics.

    ``hash_family``: how a band's signature slice collapses to a bucket
    key — ``"xxhash64"`` (default, production) hashes the slice's string
    form; ``"rk_pow5"`` folds the slice polynomially mod 2³¹−1
    (functions/replay.poly_fold) — engine-replayable, and collisions
    (which only ADD candidates, never drop true pairs) happen
    identically on every engine. The family must MATCH the signature's
    family for the keys to be meaningful; poly_fold reduces foreign
    full-range values mod p first, so even a mismatch stays
    deterministic rather than overflow-wrapped."""
    # both sides of the self-join would recompute the signature subtree;
    # checkpoint it once (at 100 TB: persist to a signatures table instead)
    signatures = signatures.localCheckpoint(eager=False)
    banded = banded_signatures(signatures, id_col, n_bands, hash_family)
    return banded_candidate_pairs(banded, max_bucket_size, id_col)


def banded_candidate_pairs(
    banded: DataFrame,
    max_bucket_size: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate pairs straight off a persisted/maintained banded index
    relation (id, band, band_hash) — the pair-generation half of
    :func:`lsh_candidate_pairs`, shared with the incrementally-
    maintained index consumers (cdc.maintain_dup_clusters), which hold
    the banded relation as state and must not re-derive it from
    signatures. Bucket-cap semantics identical: bucket sizes are
    counted on the relation AS GIVEN, buckets above the cap are
    skipped."""
    if max_bucket_size is not None:
        small = (
            banded.groupBy("band", "band_hash")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") <= max_bucket_size)
            .select("band", "band_hash")
        )
        banded = banded.join(small, ["band", "band_hash"])
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.0,
    block_by: str | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard: (id_a, id_b, jaccard rounded to 6).

    Candidate space: explicit ``pairs`` (id_a, id_b), or all within-corpus
    pairs sharing a ``block_by`` column value, or all pairs (None/None —
    only sensible on small corpora).

    Shape (the one that survives 100×): explode distinct shingles to
    (id, shingle) rows, equi-join on the shingle to count intersections —
    |union| = n_a + n_b − |inter|. Pairs with ZERO common shingles never
    appear, so require ``threshold > 0`` (a jaccard-0 pair is meaningless
    for dedup anyway). Per-pair array intersection — the obvious
    formulation — re-walks both arrays per candidate and was measured
    ~linear-in-pairs slower; the join shape is linear in total shingle
    multiplicity instead."""
    # the tokenize + shingle + explode map work is the expensive stage
    # (a ~100 MB parquet is ONE split, hence doc_shingles' widen — the
    # winnowing sf1 lesson); cut it once: sizes and both join sides read it
    ex = doc_shingles(df, text_col, id_col, shingle_k, block_by)
    return shingle_jaccard(
        ex.localCheckpoint(eager=False), pairs, id_col, threshold, block_by
    )


def shingle_jaccard(
    shingles: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    threshold: float = 0.0,
    block_by: str | None = None,
) -> DataFrame:
    """:func:`jaccard_pairs` over a prebuilt :func:`doc_shingles`
    relation, which must carry ``block_by`` when blocking. It is read
    three times (set sizes and both join sides), so pass it cut."""
    if threshold <= 0:
        raise ValueError("threshold must be > 0 (jaccard-0 pairs are not emitted)")
    sizes = shingles.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    ex_a = shingles.select(
        F.col(id_col).alias("id_a"),
        *([F.col(block_by).alias("blk")] if block_by else []),
        F.col("sh"),
    )
    ex_b = shingles.select(
        F.col(id_col).alias("id_b"),
        *([F.col(block_by).alias("blk")] if block_by else []),
        F.col("sh"),
    )
    if pairs is not None:
        inter = (
            pairs.join(ex_a, "id_a")
            .join(ex_b.drop(*(["blk"] if block_by else [])), ["id_b", "sh"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_inter"))
        )
    else:
        # equi-join by column NAME: both sides project one frame, so an
        # ex_a["sh"] == ex_b["sh"] condition would compare one attribute
        # with itself and lean on the analyzer to untangle the self-join
        inter = (
            ex_a.join(ex_b, ["sh", "blk"] if block_by else ["sh"])
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_inter"))
        )
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = F.round(
        F.col("n_inter").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        6,
    )
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    n_bands: int = 8,
    shingle_k: int = 3,
    threshold: float = 0.7,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signature → banded candidates →
    exact-Jaccard verification ≥ threshold. ``hash_family="rk_pow5"``
    swaps xxhash64 for the engine-replayable Rabin-Karp + power-
    permutation family (see minhash_signature) so the whole output is
    value-hash reproducible on any engine."""
    sigs = minhash_signature(
        df, text_col, id_col, n_hashes, shingle_k, hash_family
    )
    cands = lsh_candidate_pairs(sigs, id_col, n_bands, hash_family=hash_family)
    return jaccard_pairs(df, cands, text_col, id_col, shingle_k, threshold)


# --------------------------------------------------- duplicate clustering
def dedup_clusters(
    pairs: DataFrame,
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs: (doc_id, cluster_id)
    where cluster_id = min doc id reachable through any chain of pairs.
    Pairwise dedup alone under-deletes: A~B and B~C must collapse {A,B,C}
    to ONE canonical doc even when A~C wasn't emitted.

    Algorithm: iterative min-label propagation (the standard large-scale
    CC shape — alternating join + min-aggregate until fixpoint, checked
    driver-side per round). Each iteration is one join + one aggregate;
    rounds needed = graph diameter in the worst case, ~log for typical
    near-dup clusters. Input: (id_a, id_b) columns; ids of docs with no
    pair simply don't appear (they are their own cluster).
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.groupBy("src")
        .agg(F.least(F.min("dst"), F.first("src")).alias("label"))
        .select(F.col("src").alias("id"), F.least("label", "src").alias("label"))
    )
    from pyspark.sql import Observation

    for _ in range(max_iterations):
        # propagate: my new label = min(my label, labels of my neighbors).
        # The old label rides through the same aggregate (each id has
        # exactly one self row), so convergence needs no extra join/job —
        # the changed-probe is an OBSERVED METRIC collected by the very
        # job that materializes the eager checkpoint (round 11: the
        # previous per-iteration `filter(..).limit(1).count()` was a
        # second job per round; observe folds it into the first —
        # metrics ride task completion, so no extra pass). A speculative
        # duplicate can only OVERCOUNT the nonnegative changed-sum,
        # which at worst runs one harmless extra round — it can never
        # fake convergence.
        neighbor_labels = (
            edges.join(labels, edges.dst == labels.id)
            .select(F.col("src").alias("id"), F.col("label"))
            .withColumn("is_self", F.lit(0))
        )
        obs = Observation()
        merged = (
            labels.withColumn("is_self", F.lit(1))
            .unionByName(neighbor_labels)
            .groupBy("id")
            .agg(
                F.min("label").alias("label"),
                F.max(F.when(F.col("is_self") == 1, F.col("label"))).alias(
                    "old_label"
                ),
            )
            .observe(
                obs,
                # coalesce: sum over an EMPTY relation observes NULL,
                # which must read as converged (0), not loop forever
                F.coalesce(
                    F.sum((F.col("label") < F.col("old_label")).cast("long")),
                    F.lit(0).cast("long"),
                ).alias("changed"),
            )
            .localCheckpoint()  # eager: cut the iterative lineage
        )
        labels = merged.select("id", "label")
        if obs.get["changed"] == 0:
            break
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


def cluster_canonical_docs(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Keep one canonical row (the min-id cluster representative) per
    near-dup cluster; singleton docs pass through untouched."""
    clusters = dedup_clusters(pairs)
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return df.join(losers, df[id_col] == losers.doc_id, "left_anti")


# ------------------------------------------------------------ hash split
def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    buckets: tuple[tuple[str, int], ...] = (("train", 80), ("valid", 10), ("test", 10)),
) -> DataFrame:
    """Deterministic dataset split: bucket = md5(id) mod 100 mapped to
    named splits by cumulative percentage. A pure function of the id —
    stable across runs, partitionings, engines and cluster sizes (unlike
    ``DataFrame.sample``, whose output depends on partition layout).
    Appends ``split`` and ``split_bucket`` columns."""
    if sum(p for _, p in buckets) != 100:
        raise ValueError("bucket percentages must sum to 100")
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast(
            "bigint"
        ),
        F.lit(100),
    )
    expr = None
    cum = 0
    for name, pct in buckets:
        cum += pct
        cond = bucket < cum
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn("split_bucket", bucket).withColumn("split", expr)


# ------------------------------------------------------------- winnowing
def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """(id, fingerprint bigint) rows: winnowed rolling-hash fingerprints of
    the whitespace-normalized text (functions/text.py winnow_from_hashes).
    Staged through bound columns (chars → rolling hashes → winnow) so each
    step evaluates once per row."""
    from ..functions.text import char_codes, rolling_hashes, winnow_from_hashes

    # widen a narrow source so the per-doc hash chain parallelizes
    df = _widen_to_parallelism(df.select(id_col, text_col))
    norm = df.select(
        F.col(id_col),
        F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ").alias("__norm"),
    )
    coded = norm.select(F.col(id_col), char_codes(F.col("__norm")).alias("__codes"))
    hashed = coded.select(
        F.col(id_col), rolling_hashes(F.col("__codes"), k).alias("__rh")
    )
    return hashed.select(
        F.col(id_col),
        F.explode(winnow_from_hashes(F.col("__rh"), w)).alias("fingerprint"),
    )


def winnowing_fingerprints_arrow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    w: int = 8,
) -> DataFrame:
    """Arrow fast path for winnowing: per-document vectorized rolling hash
    + sliding-window minima in numpy via mapInPandas. Produces EXACTLY the
    same (id, fingerprint) rows as ``winnowing_fingerprints`` (same
    constants, same modular arithmetic) — verified by test."""
    import numpy as np

    from ..functions.text import _RK_BASE, _RK_MASK

    def fp(batches):
        import pandas as pd
        import re

        for pdf in batches:
            ids_out, fps_out = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                s = re.sub(r"\s+", " ", (text or "").strip().lower())
                codes = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(
                    np.int64
                )
                n = len(codes)
                if n == 0:
                    # parity with the Catalyst path: split('','') yields one
                    # empty element whose codepoint hashes as 0
                    codes = np.zeros(1, dtype=np.int64)
                    n = 1
                n_win = max(n - (k - 1), 1)
                h = np.zeros(n_win, dtype=np.int64)
                for j in range(k):
                    c = codes[j : j + n_win]
                    if len(c) < n_win:  # short doc: missing chars hash as 0
                        c = np.pad(c, (0, n_win - len(c)))
                    h = (h * _RK_BASE + c) % _RK_MASK
                if len(h) >= w:
                    mins = np.lib.stride_tricks.sliding_window_view(h, w).min(axis=1)
                else:
                    mins = np.array([h.min()])
                uniq = np.unique(mins)
                ids_out.extend([doc_id] * len(uniq))
                fps_out.extend(uniq.tolist())
            yield pd.DataFrame({id_col: ids_out, "fingerprint": fps_out})

    # widen a narrow source so the per-doc numpy loop parallelizes
    return _widen_to_parallelism(df.select(id_col, text_col)).mapInPandas(
        fp, f"{id_col} long, fingerprint long"
    )


def winnowing_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    w: int = 8,
    min_shared: int = 3,
    use_arrow: bool = True,
    max_df: int | None = None,
) -> DataFrame:
    """Near-dup/overlap candidates by shared winnowing fingerprints:
    (id_a, id_b, n_shared) with ≥ min_shared common fingerprints — the
    MOSS overlap-detection shape, explode + equi-join + count (linear in
    total fingerprint multiplicity, no per-pair array work).

    k must span more than one typical token, or common short substrings
    make fingerprint multiplicity (and the self-join) blow up — k=16/w=8
    measured 500× fewer pairs than k=5/w=4 on the synthetic corpus.

    ``max_df`` is THE 100 TB knob: the self-join emits ~df² pairs per
    fingerprint, so one boilerplate fingerprint shared by 10k documents
    costs 10^8 rows by itself. Dropping fingerprints with document
    frequency > max_df before the join (MOSS's stop-fingerprint rule —
    they carry no discriminative signal anyway) bounds every posting
    list and makes the join cost max_df × multiplicity, linear again.
    None keeps exact all-pairs semantics for small corpora."""
    make = winnowing_fingerprints_arrow if use_arrow else winnowing_fingerprints
    # Parallelism plumbing (the sf1 lesson): the fingerprint makers
    # widen their own narrow sources; see _widen_to_parallelism.
    src = df.select(id_col, text_col)
    cores = src.sparkSession.sparkContext.defaultParallelism
    # both self-join sides + the df-count reuse the fingerprints:
    # materialize the Python pass once (localCheckpoint), then ONE
    # explicit hash-repartition on fingerprint feeds all three
    # consumers — the df-count groupBy, the cap join, and both
    # self-join sides run exchange-free on that single reused shuffle
    # (explicit numPartitions so AQE cannot coalesce it down: the
    # shuffle BYTES are small but the per-key join fan-out is not,
    # which is exactly the case AQE's size-based coalescing misjudges).
    fps = (
        make(src, text_col, id_col, k, w)
        .localCheckpoint(eager=False)
        .repartition(cores * 2, "fingerprint")
    )
    if max_df is not None:
        rare = (
            fps.groupBy("fingerprint")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("fingerprint")
        )
        fps = fps.join(rare, "fingerprint")
    a = fps.select(F.col(id_col).alias("id_a"), "fingerprint")
    b = fps.select(F.col(id_col).alias("id_b"), "fingerprint")
    return (
        a.join(b, ["fingerprint"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# --------------------------------------------------------------- simhash
#: Memoized simhash vote-aggregate / bit-assembly Column trees, keyed by
#: n_bits — same plan-metadata rationale as _SIG_EXPR_CACHE (building
#: the 62-64 when/sum aggregates plus the 62-64-term assembly is pure
#: driver-side py4j chatter repeated per call).
_SIMHASH_EXPR_CACHE: "dict[int, tuple[list, Column]]" = {}


def _simhash_exprs(n_bits: int) -> "tuple[list, Column]":
    hit = _SIMHASH_EXPR_CACHE.get(n_bits)
    if hit is not None:
        return hit

    def bitmask(i: int) -> int:
        return 1 << i if i < 63 else -(2**63)

    vote_aggs = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(bitmask(i))) != 0, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(n_bits)
    ]
    sim = None
    for i in range(n_bits):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(bitmask(i)).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sim = bit if sim is None else sim + bit
    out = (vote_aggs, sim.alias("simhash"))
    _SIMHASH_EXPR_CACHE[n_bits] = out
    return out


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """SimHash over whitespace tokens: bit i of the result is 1 iff
    the sum over tokens of ±1 (sign of bit i of hash(token)) is > 0.

    ``hash_family="xxhash64"`` (default, production): 64 vote bits from
    the JVM-vectorized 64-bit hash. ``"rk_pow5"``: 62 vote bits from the
    engine-replayable family (functions/replay.py) — per token, two
    seeded power permutations of its Rabin-Karp hash concatenated as
    h62 = h1·2³¹ + h2 (< 2⁶², always non-negative, so shifts and XORs
    agree on every engine); bits 62-63 are always 0, which banding and
    Hamming handle transparently.

    Shape: explode tokens → hash once per token → conditional-sum bit
    votes in ONE hash aggregate (map-side combinable) → assemble the long.
    Same explode-instead-of-inline rationale as minhash_signature."""
    from ..functions.replay import pow5_seeded, rk_string
    from ..functions.text import tokens

    # widen a narrow source so the tokenize/vote map stage parallelizes
    df = _widen_to_parallelism(df.select(id_col, text_col))
    exploded = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    if hash_family == "xxhash64":
        n_bits = 64
        exploded = exploded.withColumn("h", F.xxhash64("tok"))
    elif hash_family == "rk_pow5":
        n_bits = 62
        rk = rk_string(F.col("tok"))
        exploded = exploded.withColumn("__rk", rk).withColumn(
            "h",
            pow5_seeded(F.col("__rk"), 0) * F.lit(2147483648)
            + pow5_seeded(F.col("__rk"), 1),
        )
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")

    vote_aggs, sim = _simhash_exprs(n_bits)
    votes = exploded.groupBy(id_col).agg(*vote_aggs)
    return votes.select(F.col(id_col), sim)


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def banded_hamming_pairs(
    hashed: DataFrame,
    hash_col: str,
    id_col: str = "doc_id",
    n_bands: int = 4,
    max_hamming: int = 6,
) -> DataFrame:
    """Near-dup pairs from any 64-bit hash column by LSH banding: split
    the hash into ``n_bands`` equal chunks, pairs sharing any chunk are
    candidates, verify exact Hamming ≤ ``max_hamming``. Shared by the
    SimHash (text) and pHash (media) families.

    RECALL CONTRACT: banding guarantees capture only for pairs differing
    in FEWER bits than ``n_bands`` (pigeonhole: ≤ n_bands−1 flipped bits
    cannot touch every band). With the defaults (4 bands, max_hamming 6)
    a qualifying pair whose 4-6 flipped bits straddle all four bands is
    missed — the standard LSH recall trade, tagged "approx" on every
    declared query. For GUARANTEED capture at Hamming ≤ h, use
    n_bands ≥ h+1 (more bands = bigger candidate sets).

    Scale shape: explode to n_bands rows/id → one exchange on
    (band, chunk) → all-pairs work confined to equal-chunk buckets;
    candidates carry two 8-byte hashes, so verification is free.

    The input should be cheap to recompute or checkpointed by the
    caller — the self-join evaluates it on both sides."""
    bits_per = 64 // n_bands
    mask = (1 << bits_per) - 1
    banded = hashed.select(
        id_col,
        hash_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(hash_col, b * bits_per)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bc"),
    ).select(id_col, hash_col, "bc.band", "bc.chunk")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming64(F.col(f"a.{hash_col}"), F.col(f"b.{hash_col}")).alias(
                "hamming"
            ),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bands: int = 4,
    max_hamming: int = 6,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup: band the hash into 16-bit chunks; pairs
    sharing a chunk are candidates; verify Hamming distance ≤ max_hamming
    (recall contract documented on ``banded_hamming_pairs``).
    ``hash_family="rk_pow5"`` makes the whole pipeline engine-replayable
    (62 effective bits; see ``simhash``)."""
    # checkpoint: the banded self-join would otherwise compute the 64-bit
    # vote aggregation once per side
    sh = simhash(df, text_col, id_col, hash_family).localCheckpoint(eager=False)
    return banded_hamming_pairs(sh, "simhash", id_col, n_bands, max_hamming)


def bounded_cdc_cuts(
    candidates: Column,
    doc_len: Column,
    min_len: int = 16,
    max_len: int = 64,
) -> Column:
    """Production content-defined chunking semantics on top of a pure
    candidate cut list: suppress predicate cuts closer than ``min_len``
    to the previous kept cut, and FORCE a cut every ``max_len`` chars
    when no candidate fires — the min/max clamps every real CDC store
    (LBFS/restic/borg lineage) layers over the rolling-hash predicate.

    The sequential walk is a fold over the (per-document, already
    sorted) candidate array expressed as a Catalyst ``F.aggregate``
    state machine — struct(last_cut, kept_cuts) accumulator, forced
    cuts emitted as an in-lambda ``sequence(last+max, c-1, max)`` —
    so the whole pass stays JVM-side with zero Python and zero extra
    shuffle: documents are the unit of parallelism, and per-doc state
    is one struct. The finish lambda forces tail cuts so no chunk ever
    exceeds ``max_len``; only the final tail may undershoot
    ``min_len``. Returns the kept cut positions (ascending)."""
    if not 0 < min_len <= max_len:
        raise ValueError(
            f"bounded_cdc_cuts: need 0 < min_len <= max_len, got "
            f"min_len={min_len} max_len={max_len} — a min above max "
            "would silently break the [min, max] chunk-length contract"
        )
    empty = F.array().cast("array<bigint>")
    init = F.struct(
        F.lit(0).cast("bigint").alias("last"), empty.alias("kept")
    )

    def step(acc, c):
        forced = F.when(
            c - acc["last"] > max_len,
            F.sequence(
                acc["last"] + max_len, c - 1, F.lit(max_len).cast("bigint")
            ),
        ).otherwise(empty)
        last2 = F.when(
            F.size(forced) > 0, F.element_at(forced, -1)
        ).otherwise(acc["last"])
        keep = (c - last2) >= min_len
        new_last = F.when(keep, c).otherwise(last2)
        new_kept = F.concat(
            acc["kept"],
            forced,
            F.when(keep, F.array(c)).otherwise(empty),
        )
        return F.struct(new_last.alias("last"), new_kept.alias("kept"))

    def fin(acc):
        tail = F.when(
            doc_len - acc["last"] > max_len,
            F.sequence(
                acc["last"] + max_len,
                doc_len - 1,
                F.lit(max_len).cast("bigint"),
            ),
        ).otherwise(empty)
        return F.concat(acc["kept"], tail)

    return F.aggregate(
        candidates.cast("array<bigint>"), init, step, fin
    )
