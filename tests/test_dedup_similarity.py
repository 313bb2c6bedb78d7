"""Semantic tests for dedup/similarity/text operators with planted
duplicates and hand-computed expected values (the oracle gate checks
values; these verify the operators actually FIND things)."""

import math

import pytest
from pyspark.sql import functions as F

from local_data_pipeline_spark.functions.text import (
    LANG_STOPWORDS,
    fingerprint,
    lang_id,
    quality_score,
    token_count,
)
from local_data_pipeline_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_near_dups,
    minhash_signature,
    simhash,
    simhash_near_dups,
)
from local_data_pipeline_spark.operators.similarity import (
    _bucket_col,
    brute_force_topk,
    brute_force_topk_arrow,
    lsh_topk,
)


BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside "
    "the old wooden house near the river bank under the summer sun"
)


@pytest.fixture(scope="module")
def docs(spark):
    near_dup = BASE.replace("summer sun", "winter moon")  # ~94% token overlap
    rows = [
        (1, BASE, "src0"),
        (2, "  THE  quick brown fox jumps over the lazy dog while the cat watches "
            "from the warm windowsill and the birds sing in the garden outside "
            "the old wooden house near the river bank under the summer sun ", "src0"),
        (3, near_dup, "src0"),
        (4, "completely different text about database engines and query "
            "optimization with columnar storage vectorized execution and "
            "adaptive partitioning strategies for distributed analytical systems", "src0"),
        (5, "el gato y el perro estan en la casa de la abuela y los ninos "
            "juegan en el jardin con un balon que es de color rojo", "src1"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_exact_dedup_collapses_normalized_duplicates(spark, docs):
    out = exact_dedup(docs)
    ids = {r.doc_id for r in out.collect()}
    # doc 2 is doc 1 up to case/whitespace -> collapsed to min id 1
    assert 1 in ids and 2 not in ids
    assert ids == {1, 3, 4, 5}


def test_minhash_finds_planted_near_dup(spark, docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_near_dups(docs, threshold=0.3).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # identical after norm
    assert (1, 3) in pairs and 0.5 < pairs[(1, 3)] < 1.0
    assert not any(4 in p or 5 in p for p in pairs)


def _sig_sides(docs, family):
    """Two minhash_signature frames over DISTINCT documents that share
    doc ids (1-3 vs 4, 5 renumbered), plus each side's rows computed alone."""
    left = docs.filter(F.col("doc_id") <= 3)
    right = docs.filter(F.col("doc_id") >= 4).withColumn("doc_id", F.col("doc_id") - 3)
    sides = [minhash_signature(d, hash_family=family) for d in (left, right)]
    alone = [{r.doc_id: tuple(r.signature) for r in d.collect()} for d in sides]
    assert alone[0] != alone[1]
    return sides, alone


@pytest.mark.parametrize("family", ["xxhash64", "rk_pow5"])
def test_memoized_signatures_union_keeps_each_side(spark, docs, family):
    """Both sides reuse one memoized Column tree (same expression ids);
    unioned in one plan, each side's rows still equal it computed alone."""
    (a, b), alone = _sig_sides(docs, family)
    got = sorted((r.doc_id, tuple(r.signature)) for r in a.union(b).collect())
    assert got == sorted([*alone[0].items(), *alone[1].items()])


@pytest.mark.parametrize("family", ["xxhash64", "rk_pow5"])
def test_memoized_signatures_join_keeps_each_side(spark, docs, family):
    """Joined on doc_id in one plan, each side's signature column still
    holds that side's own value, not the other side's."""
    (a, b), (alone_a, alone_b) = _sig_sides(docs, family)
    joined = a.alias("a").join(b.alias("b"), "doc_id")
    got = {
        r.doc_id: (tuple(r[1]), tuple(r[2]))
        for r in joined.select("doc_id", "a.signature", "b.signature").collect()
    }
    assert got == {k: (alone_a[k], alone_b[k]) for k in (1, 2)}


def _bucket_sides(spark, docs, kind, family):
    """Two frames of one memoized bucket Column — the ANN hyperplane /
    rademacher bucket or the simhash — over DISTINCT inputs that share
    ids (1-3 vs 4-6 renumbered), plus each side's rows computed alone."""
    if kind == "simhash":
        sides = [
            simhash(d, hash_family=family).withColumnRenamed("simhash", "bucket")
            for d in (
                docs.filter(F.col("doc_id") <= 3),
                docs.filter(F.col("doc_id") >= 3).withColumn("doc_id", F.col("doc_id") - 2),
            )
        ]
    else:
        vecs = spark.createDataFrame(
            [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)]) for i in range(1, 7)],
            "doc_id long, embedding array<double>",
        )
        sides = [
            d.select("doc_id", _bucket_col("embedding", 8, 6, 42, family).alias("bucket"))
            for d in (
                vecs.filter(F.col("doc_id") <= 3),
                vecs.filter(F.col("doc_id") >= 4).withColumn("doc_id", F.col("doc_id") - 3),
            )
        ]
    alone = [{r.doc_id: r.bucket for r in d.collect()} for d in sides]
    assert alone[0] != alone[1]
    return sides, alone


BUCKET_FAMILIES = [
    ("ann", "xx_float"),
    ("ann", "rademacher"),
    ("simhash", "xxhash64"),
    ("simhash", "rk_pow5"),
]


@pytest.mark.parametrize("kind,family", BUCKET_FAMILIES)
def test_memoized_buckets_union_keeps_each_side(spark, docs, kind, family):
    """Both sides reuse one memoized bucket Column (same expression ids);
    unioned in one plan, each side's rows still equal it computed alone."""
    (a, b), alone = _bucket_sides(spark, docs, kind, family)
    got = sorted((r.doc_id, r.bucket) for r in a.union(b).collect())
    assert got == sorted([*alone[0].items(), *alone[1].items()])


@pytest.mark.parametrize("kind,family", BUCKET_FAMILIES)
def test_memoized_buckets_join_keeps_each_side(spark, docs, kind, family):
    """Joined on the id in one plan, each side's bucket column still holds
    that side's own value, not the other side's."""
    (a, b), (alone_a, alone_b) = _bucket_sides(spark, docs, kind, family)
    joined = a.alias("a").join(b.alias("b"), "doc_id")
    got = {
        r.doc_id: (r[1], r[2])
        for r in joined.select("doc_id", "a.bucket", "b.bucket").collect()
    }
    assert got == {k: (alone_a[k], alone_b[k]) for k in alone_a.keys() & alone_b.keys()}
    assert len(got) >= 2


def test_simhash_near_dup_hamming(spark, docs):
    got = {(r.id_a, r.id_b): r.hamming for r in simhash_near_dups(docs).collect()}
    assert got.get((1, 2)) == 0  # identical token multiset
    assert (1, 4) not in got and (1, 5) not in got


def test_jaccard_exact_value(spark):
    # two docs with hand-countable shingle sets
    rows = [(1, "a b c d", "s"), (2, "a b c e", "s")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = jaccard_pairs(df, None, shingle_k=2, threshold=0.01, block_by="source")
    (row,) = out.collect()
    # 2-gram shingles: {a b, b c, c d} vs {a b, b c, c e}: |I|=2 |U|=4
    assert row.jaccard == 0.5


def test_brute_force_topk_hand_computed(spark):
    vecs = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 1.0]),
        (3, [0.7, 0.7]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = brute_force_topk(df.filter("vec_id = 0"), df, k=3)
    got = [(r.neighbor_id, r.cos_sim, r.rank) for r in out.collect()]
    cos1 = round(0.9 / math.hypot(0.9, 0.1), 6)
    cos3 = round(0.7 / (math.hypot(0.7, 0.7)), 6)
    assert got == [(1, cos1, 1), (3, cos3, 2), (2, 0.0, 3)]


def test_exact_cosine_searches_agree_on_a_zero_vector(spark):
    """A zero-norm vector has no cosine. Both exact searches drop it: it
    is nobody's neighbor and, as a query, gets no rows (the JVM search
    used to divide by its zero norm and fail under ANSI mode)."""
    vecs = [(1, [1.0, 0.0]), (2, [0.6, 0.8]), (3, [0.0, 1.0]), (4, [0.0, 0.0])]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    rows = {
        name: sorted(tuple(r) for r in search(df, df, k=3).collect())
        for name, search in (
            ("jvm", brute_force_topk),
            ("arrow", brute_force_topk_arrow),
        )
    }
    assert rows["jvm"] == rows["arrow"]
    assert {r[0] for r in rows["jvm"]} == {1, 2, 3}
    assert {r[1] for r in rows["jvm"]} == {1, 2, 3}
    assert [r[1] for r in rows["jvm"] if r[0] == 1] == [2, 3]


def test_lsh_topk_recall_against_brute_force(spark, sf_dir):
    from local_data_pipeline_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(qs, emb, k=3).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in lsh_topk(qs, emb, k=3, dim=64, n_planes=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.2  # approximate by design; deterministic given seed


def test_lang_id_on_clear_texts(spark):
    rows = [
        (1, "the cat and the dog went to the park and it was good for them"),
        (2, "el perro y el gato en la casa de los ninos con un libro"),
        (3, "le chat et le chien dans la maison des enfants pour un livre"),
        (4, "der hund und die katze in dem haus mit den kindern ist nicht da"),
        (5, "xyzzy plugh qwerty"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r.lg for r in df.select("id", lang_id(F.col("text")).alias("lg")).collect()}
    assert got == {1: "en", 2: "es", 3: "fr", 4: "de", 5: "und"}


def test_text_function_edge_cases(spark):
    rows = [(1, ""), (2, "   "), (3, "one"), (4, "héllo wörld ünïcode")]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {
        r.id: (r.tc, r.q)
        for r in df.select(
            "id",
            token_count(F.col("text")).alias("tc"),
            quality_score(F.col("text")).alias("q"),
        ).collect()
    }
    assert out[1][0] == 0 and out[2][0] == 0  # empty / whitespace-only
    assert out[3][0] == 1
    assert out[4][0] == 3  # unicode survives tokenization
    assert all(0.0 <= q <= 1.0 for _, q in out.values())


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "hello world!")],
        "id long, text string",
    )
    fps = {r.id: r.fp for r in df.select("id", fingerprint(F.col("text")).alias("fp")).collect()}
    assert fps[1] == fps[2] != fps[3]


def test_winnowing_overlap_and_path_equivalence(spark, docs):
    from local_data_pipeline_spark.operators.dedup import (
        winnowing_fingerprints,
        winnowing_fingerprints_arrow,
        winnowing_overlap_pairs,
    )

    a = sorted(
        (r.doc_id, r.fingerprint)
        for r in winnowing_fingerprints(docs, k=16, w=8).collect()
    )
    b = sorted(
        (r.doc_id, r.fingerprint)
        for r in winnowing_fingerprints_arrow(docs, k=16, w=8).collect()
    )
    assert a == b  # Catalyst and Arrow paths bit-identical

    pairs = {
        (r.id_a, r.id_b): r.n_shared
        for r in winnowing_overlap_pairs(docs, min_shared=2).collect()
    }
    assert (1, 2) in pairs  # normalized-identical docs share everything
    assert (1, 3) in pairs  # near-dup shares most fingerprints
    assert not any(4 in p for p in pairs)  # unrelated doc doesn't pair


def test_ivf_topk_recall_and_determinism(spark, sf_dir):
    from local_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )
    from local_data_pipeline_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id) for r in brute_force_topk(qs, emb, k=3).collect()
    }
    got1 = ivf_topk(qs, emb, k=3, n_centroids=16, n_probe=4).collect()
    approx = {(r.query_id, r.neighbor_id) for r in got1}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.2
    # determinism: identical output across runs (seeded quantizer)
    got2 = ivf_topk(qs, emb, k=3, n_centroids=16, n_probe=4).collect()
    assert sorted(map(tuple, got1)) == sorted(map(tuple, got2))
    # more probes -> recall can only grow
    approx_full = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(qs, emb, k=3, n_centroids=16, n_probe=16).collect()
    }
    assert approx_full == exact  # probing every cell == exact search


def test_pii_scrub_and_html_strip(spark):
    from local_data_pipeline_spark.functions.text import pii_counts, scrub_pii, strip_html

    rows = [
        (1, "contact john.doe@example.com or +1 (555) 123-4567 ok"),
        (2, "ssn 123-45-6789 from 192.168.1.100 today"),
        (3, "<html><script>evil()</script><p>Hello &amp; welcome</p></html>"),
        (4, "clean text with no pii at all"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    scrubbed = {r.id: r.s for r in df.select("id", scrub_pii(F.col("text")).alias("s")).collect()}
    assert "<EMAIL>" in scrubbed[1] and "<PHONE>" in scrubbed[1]
    assert "john.doe" not in scrubbed[1] and "555" not in scrubbed[1]
    assert "<SSN>" in scrubbed[2] and "<IP>" in scrubbed[2]
    assert scrubbed[4] == rows[3][1]  # untouched
    counts = df.select("id", *[v.alias(k) for k, v in pii_counts(F.col("text")).items()]).collect()
    by = {r.id: r for r in counts}
    assert by[1].n_emails == 1 and by[1].n_phones == 1
    assert by[2].n_ssns == 1 and by[2].n_ips == 1
    stripped = {r.id: r.s for r in df.select("id", strip_html(F.col("text")).alias("s")).collect()}
    assert stripped[3] == "Hello & welcome"


def test_hash_split_stable_and_proportional(spark, sf_dir):
    from local_data_pipeline_spark.operators.dedup import hash_split
    from local_data_pipeline_spark.session import load_table

    d = load_table(spark, sf_dir, "documents")
    s1 = {(r.doc_id, r.split) for r in hash_split(d).select("doc_id", "split").collect()}
    # stable under repartitioning (sample() would NOT be)
    s2 = {(r.doc_id, r.split) for r in hash_split(d.repartition(7)).select("doc_id", "split").collect()}
    assert s1 == s2
    n = len(s1)
    train = sum(1 for _, s in s1 if s == "train")
    assert 0.6 * n < train < 0.95 * n  # ~80% within generous tolerance

    import pytest as _pytest
    with _pytest.raises(ValueError):
        hash_split(d, buckets=(("a", 50), ("b", 20)))


def test_dedup_clusters_transitive_closure(spark):
    from local_data_pipeline_spark.operators.dedup import (
        cluster_canonical_docs,
        dedup_clusters,
    )

    # chain 1-2-3-4 (no direct 1~4 edge), separate pair 7-8, singleton 9
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8)], "id_a long, id_b long"
    )
    got = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in (1, 2, 3, 4, 7, 8, 9)], "doc_id long, text string"
    )
    kept = {r.doc_id for r in cluster_canonical_docs(docs, pairs).collect()}
    assert kept == {1, 7, 9}  # one canonical per cluster + untouched singleton


def test_dedup_clusters_long_chain_converges(spark):
    from local_data_pipeline_spark.operators.dedup import dedup_clusters

    # a 30-node path graph: worst-case diameter for label propagation
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 30)], "id_a long, id_b long"
    )
    got = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs, max_iterations=40).collect()}
    assert set(got.values()) == {1} and len(got) == 30


def test_dedup_clusters_empty_pairs_terminates_immediately(spark):
    """Round-11 observe-probe edge case: the convergence metric is a SUM
    collected by the checkpoint-materializing job, and a sum over an
    EMPTY relation observes NULL — the coalesce must read that as
    converged (0) on the FIRST round, or an empty pair set (a clean
    corpus, or an incremental-maintenance batch with no affected
    subgraph) would spin through all max_iterations for nothing."""
    from local_data_pipeline_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    rounds = {"n": 0}
    from pyspark.sql import DataFrame as _DF

    orig = _DF.localCheckpoint

    def counting(self, *a, **k):
        rounds["n"] += 1
        return orig(self, *a, **k)

    _DF.localCheckpoint = counting
    try:
        assert dedup_clusters(pairs).count() == 0
    finally:
        _DF.localCheckpoint = orig
    # edges ckpt + exactly ONE iteration's merged ckpt, not 20
    assert rounds["n"] <= 2, rounds["n"]


def test_winnowing_stop_fingerprint_cap_bounds_pairs(spark):
    """max_df (MOSS stop-fingerprint rule) must cut the df^2 pair
    explosion from corpus-wide boilerplate while keeping the genuine
    low-df overlap pair."""
    from local_data_pipeline_spark.operators.dedup import winnowing_overlap_pairs

    boiler = "this standard license header is identical in every file "
    unique = [f"entirely distinct body text number {i} " * 4 for i in range(12)]
    rows = [(i, boiler * 3 + unique[i]) for i in range(12)]
    # docs 100/101: a real shared passage that appears nowhere else
    shared = "a genuinely shared rare passage that only these two contain " * 3
    rows += [(100, shared + "tail one"), (101, shared + "tail two")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = winnowing_overlap_pairs(df, min_shared=3)
    capped = winnowing_overlap_pairs(df, min_shared=3, max_df=4)
    n_uncapped = uncapped.count()
    n_capped = capped.count()
    # boilerplate links all 12 docs pairwise without the cap
    assert n_uncapped >= 66  # C(12,2) boiler pairs + the true pair
    assert n_capped < n_uncapped
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (100, 101) in got  # the rare true overlap survives the cap


def test_lsh_jumbo_bucket_cap_skips_degenerate_buckets(spark):
    """max_bucket_size must stop a degenerate bucket (identical
    boilerplate signatures) from emitting n^2 candidates, while a
    small genuine near-dup pair still surfaces."""
    from local_data_pipeline_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
    )

    boiler = [(i, "identical boilerplate text in every doc") for i in range(30)]
    near = [
        (100, "a very particular rare document about winnowing oceans"),
        (101, "a very particular rare document about winnowing oceans!"),
    ]
    df = spark.createDataFrame(boiler + near, "doc_id long, text string")
    sigs = minhash_signature(df)
    uncapped = lsh_candidate_pairs(sigs).count()
    capped = lsh_candidate_pairs(sigs, max_bucket_size=5)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert uncapped >= 435 + 1  # C(30,2) boiler pairs + the real pair
    assert len(got) < uncapped
    assert (100, 101) in got  # genuine near-dup survives the cap


def test_lsh_multiprobe_recall_bound_on_clustered_vectors(spark):
    """Multi-probe guarantee (the knob VERDICT r3 asked to make
    tunable-WITH-guarantee): on data with real neighbor structure —
    planted angular clusters, the regime actual embedding corpora live
    in — Hamming-1 probing lifts recall@10 to >=0.95 at the documented
    setting (n_planes=6, probe_hamming=1), and strictly dominates the
    exact-bucket probe. On structure-free uniform-random vectors NO
    bucketing scheme beats the scanned-corpus fraction (ann_recall_eval
    reports that regime honestly); the guarantee is stated for
    clustered data, matching how the operator is deployed after k-means
    / SemDeDup blocking."""
    import math
    import random

    from local_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )

    rng = random.Random(7)
    dim = 64

    def unit(v):
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        return [x / n for x in v]

    rows = []
    vid = 0
    # 40 clusters x 15 members; coordinate noise sigma=0.01 on unit bases
    # gives a member-member angle of ~sqrt(2)*sigma*sqrt(dim) ≈ 0.11 rad
    # (~6.5 deg) — per-plane flip prob theta/pi ≈ 0.036, so expected
    # recall ≈ (1-p)^6 ≈ 0.80 exact-bucket and P(<=1 flip) ≈ 0.98 with
    # Hamming-1 probing: the documented >=0.95 regime.
    for _ in range(40):
        base = unit([rng.gauss(0, 1) for _ in range(dim)])
        for _ in range(15):
            noisy = unit([b + rng.gauss(0, 0.01) for b in base])
            rows.append((vid, noisy))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    qs = emb.filter(F.col("vec_id") % 15 == 0)  # one query per cluster

    truth = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(qs, emb, k=10).collect()
    }
    exact_bucket = {
        (r.query_id, r.neighbor_id)
        for r in lsh_topk(qs, emb, k=10, dim=dim, n_planes=6).collect()
    }
    multiprobe = {
        (r.query_id, r.neighbor_id)
        for r in lsh_topk(
            qs, emb, k=10, dim=dim, n_planes=6, probe_hamming=1
        ).collect()
    }
    r_exact = len(truth & exact_bucket) / len(truth)
    r_multi = len(truth & multiprobe) / len(truth)
    assert r_multi >= 0.95, (r_exact, r_multi)
    assert r_multi > r_exact  # the probe knob must actually buy recall
