"""Round-15 milestone tests: the engine-replayable hash family
(functions/replay.py) behind the round's six oracle graduations, the
replayable operator variants, and the de-vacuated measured-band ANN
recall floors (a deliberately broken index must fail them).
"""

import hashlib

import pytest
from pyspark.sql import functions as F

from local_data_pipeline_spark.functions import replay as RP
from local_data_pipeline_spark.session import load_table


# ------------------------------------------------------- replay primitives
def test_pow5_matches_python_pow(spark):
    xs = [0, 1, 2, 12345, RP.POW_P - 1, 2**30 + 17]
    df = spark.createDataFrame([(x,) for x in xs], "x long").select(
        "x", RP.pow5(F.col("x")).alias("h")
    )
    got = {r.x: r.h for r in df.collect()}
    assert got == {x: pow(x, 5, RP.POW_P) for x in xs}


def test_pow5_sql_matches_spark(spark):
    import duckdb

    xs = [0, 1, 7, 999_983, RP.POW_P - 2]
    duck = {
        x: duckdb.sql(
            f"SELECT {RP.pow5_sql(str(x) + '::BIGINT')}"
        ).fetchone()[0]
        for x in xs
    }
    assert duck == {x: pow(x, 5, RP.POW_P) for x in xs}


def _rk_py(s: str) -> int:
    h = 0
    for ch in s:
        h = (h * RP.RK_BASE + ord(ch)) % RP.POW_P
    return h


def test_rk_string_spark_and_sql_match_python(spark):
    import duckdb

    strings = ["", "a", "the quick brown fox", "héllo wörld", "a b c"]
    df = spark.createDataFrame([(s,) for s in strings], "s string").select(
        "s", RP.rk_string(F.col("s")).alias("h")
    )
    got = {r.s: r.h for r in df.collect()}
    expected = {s: _rk_py(s) for s in strings}
    assert got == expected
    for s in strings:
        d = duckdb.sql(
            "SELECT " + RP.rk_string_sql("?::VARCHAR").replace("?", f"'{s}'")
        ).fetchone()[0]
        assert d == expected[s], s


def test_rademacher_planes_are_pow5_parities():
    planes = RP.rademacher_planes(2, 8)
    for p in range(2):
        for i in range(8):
            expect = 1 if pow(p * 8 + i + 1, 5, RP.POW_P) % 2 == 1 else -1
            assert planes[p][i] == expect
    # every plane must mix signs (an all-ones plane would be a constant
    # projection, not a hyperplane)
    full = RP.rademacher_planes(6, 64)
    for row in full:
        assert {-1, 1} == set(row) or len(set(row)) == 2


def test_phash_plane_ints_match_float_planes():
    """The integer planes are the SAME md5 words as the float planes in
    operators/multimodal._phash_planes, shifted/centered — pin the
    derivation so the two pipelines stay twins."""
    from local_data_pipeline_spark.operators.multimodal import _phash_planes

    ints = RP.phash_plane_ints(dim=16)
    floats = _phash_planes(dim=16)
    assert len(ints) == 64 and all(len(r) == 16 for r in ints)
    for b in (0, 17, 63):
        for i in (0, 5, 15):
            u = int((floats[b][i] + 1.0) * 2**31)  # undo the scaling
            assert ints[b][i] == (u >> 8) - 8388608


# ------------------------------------------------- replayable operator twins
def test_minhash_rk_pow5_finds_planted_near_dups(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),  # near-dup of 1
        (3, "totally different words entirely unrelated content here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from local_data_pipeline_spark.operators.dedup import minhash_near_dups

    out = minhash_near_dups(
        df, n_hashes=32, n_bands=8, threshold=0.5, hash_family="rk_pow5"
    ).collect()
    pairs = {(r.id_a, r.id_b) for r in out}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_minhash_families_share_the_recall_contract(spark, sf_dir):
    """The replayable rk_pow5 family must not degrade the approximation
    contract the xxhash64 production family carries: on the fixture
    corpus BOTH candidate generators recall EVERY exact-Jaccard ≥ 0.5
    pair (measured 28/28 for each at sf0.001 — pinned, deterministic)."""
    from local_data_pipeline_spark.operators.dedup import (
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signature,
    )

    d = load_table(spark, sf_dir, "documents")
    truth = {
        (r.id_a, r.id_b)
        for r in jaccard_pairs(d, None, threshold=0.5).collect()
    }
    assert truth, "fixture must contain jaccard >= 0.5 pairs"
    for fam in ("xxhash64", "rk_pow5"):
        sigs = minhash_signature(d, hash_family=fam)
        cands = {
            (r.id_a, r.id_b)
            for r in lsh_candidate_pairs(sigs, hash_family=fam).collect()
        }
        assert truth <= cands, (fam, truth - cands)


def test_simhash_rk_pow5_identical_docs_hamming_zero(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "completely unrelated text about spark partitions and shuffles"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from local_data_pipeline_spark.operators.dedup import simhash, simhash_near_dups

    sh = {r.doc_id: r.simhash for r in simhash(df, hash_family="rk_pow5").collect()}
    assert sh[1] == sh[2]
    assert 0 <= sh[1] < 2**62  # 62-bit, always non-negative
    out = simhash_near_dups(df, hash_family="rk_pow5").collect()
    assert {(r.id_a, r.id_b, r.hamming) for r in out} >= {(1, 2, 0)}


def test_rademacher_bucket_sign_symmetry(spark):
    """v and -v must land in complementary buckets; identical vectors in
    the same bucket — the sign-projection contract."""
    from local_data_pipeline_spark.operators.similarity import rademacher_bucket

    v = [float(i % 7 - 3) / 10 for i in range(64)]
    neg = [-x for x in v]
    df = spark.createDataFrame(
        [(1, v), (2, v), (3, neg)], "vec_id long, embedding array<float>"
    ).withColumn("vm", F.transform("embedding", lambda x: RP.micro(x)))
    out = {
        r.vec_id: r.b
        for r in df.select(
            "vec_id", rademacher_bucket(F.col("vm"), 64, 6).alias("b")
        ).collect()
    }
    assert out[1] == out[2]
    assert out[1] ^ out[3] == (1 << 6) - 1  # every sign flips


def test_rademacher_bucket_short_vector_prefix(spark):
    """A vector SHORTER than dim must project its valid prefix (the SQL
    twin's list_sum skips the null tail) — not NULL out to bucket 0.
    Pinned by comparing a 64-dim vector against its 32-dim prefix with
    plane coefficients that make the prefix dot decisive."""
    import duckdb

    from local_data_pipeline_spark.operators.similarity import rademacher_bucket

    full = [0.5] * 32 + [0.0] * 32  # tail contributes nothing
    short = [0.5] * 32
    df = spark.createDataFrame(
        [(1, full), (2, short)], "vec_id long, embedding array<float>"
    ).withColumn("vm", F.transform("embedding", lambda x: RP.micro(x)))
    out = {
        r.vec_id: r.b
        for r in df.select(
            "vec_id", rademacher_bucket(F.col("vm"), 64, 6).alias("b")
        ).collect()
    }
    # zero-padded and truncated forms see the same signs
    assert out[1] == out[2]
    # and the SQL twin agrees on the short vector
    planes = RP.rademacher_planes(6, 64)
    rows = ", ".join(f"({p}, {planes[p]})" for p in range(6))
    duck = duckdb.sql(
        f"""WITH planes(p, r) AS (VALUES {rows}),
        vm AS (SELECT list_transform({short}::DOUBLE[],
                 x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS vm),
        proj AS (SELECT p, list_sum(list_transform(range(1, 65),
                   i -> vm[i] * r[i])) AS proj FROM vm CROSS JOIN planes)
        SELECT sum(CASE WHEN proj > 0 THEN (1::BIGINT << p) ELSE 0 END)
        FROM proj"""
    ).fetchone()[0]
    assert duck == out[2]


def test_ivf_replayable_external_queries_are_assigned(spark, sf_dir):
    """Query vectors NOT present in the corpus must still probe and
    return neighbors (the ivf_topk contract) — the first cut derived
    query cells from the corpus assignment and silently dropped them."""
    from local_data_pipeline_spark.operators.similarity import ivf_topk_replayable

    emb = load_table(spark, sf_dir, "embeddings")
    external = emb.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    out = ivf_topk_replayable(
        external, emb, k=3, n_centroids=8, n_probe=2
    ).collect()
    assert {r.query_id for r in out} == {10_000_000, 10_000_001, 10_000_002}
    assert all(r.neighbor_id < 10_000_000 for r in out)


def test_ivf_replayable_all_probes_equals_brute_force(spark, sf_dir):
    from local_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk_replayable,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(qs, emb, k=3)
    allprobe = ivf_topk_replayable(
        qs, emb, k=3, n_centroids=8, n_probe=8
    )
    a = {(r.query_id, r.neighbor_id, r.rank) for r in exact.collect()}
    b = {(r.query_id, r.neighbor_id, r.rank) for r in allprobe.collect()}
    assert a == b


def test_maintain_minhash_index_retracts_and_resigns(spark):
    """Incremental index maintenance ≡ full recompute on a planted
    changelog: a deleted doc's rows vanish, an updated doc's OLD
    signature rows are retracted (the naive append-only failure mode),
    an inserted doc appears — and the maintained index equals the index
    built from scratch on the post-state corpus."""
    from local_data_pipeline_spark.operators.cdc import maintain_minhash_index
    from local_data_pipeline_spark.operators.dedup import (
        banded_signatures,
        minhash_signature,
    )

    base_rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "one two three four five six seven"),
        (3, "to be deleted entirely from the corpus now"),
    ]
    post_rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "completely different replacement text for doc two"),
        (9, "a brand new inserted document body here"),
    ]

    def index_of(rows):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        return banded_signatures(
            minhash_signature(df, hash_family="rk_pow5"),
            "doc_id", 8, "rk_pow5",
        )

    changes = spark.createDataFrame(
        [
            (3, "D", None),
            (2, "U", "completely different replacement text for doc two"),
            (9, "U", "a brand new inserted document body here"),
        ],
        "key long, op string, after_text string",
    )
    maintained = {
        (r.doc_id, r.band, r.band_hash)
        for r in maintain_minhash_index(index_of(base_rows), changes).collect()
    }
    scratch = {
        (r.doc_id, r.band, r.band_hash) for r in index_of(post_rows).collect()
    }
    assert maintained == scratch
    assert not any(d == 3 for d, _, _ in maintained)
    assert any(d == 9 for d, _, _ in maintained)


def test_maintain_minhash_index_rejects_bad_op(spark):
    from local_data_pipeline_spark.operators.cdc import maintain_minhash_index
    from local_data_pipeline_spark.operators.dedup import (
        banded_signatures,
        minhash_signature,
    )

    base = spark.createDataFrame(
        [(1, "some text here")], "doc_id long, text string"
    )
    idx = banded_signatures(
        minhash_signature(base, hash_family="rk_pow5"), "doc_id", 8, "rk_pow5"
    )
    bad = spark.createDataFrame(
        [(1, "X", "whatever")], "key long, op string, after_text string"
    )
    with pytest.raises(Exception, match="invalid document changelog op"):
        maintain_minhash_index(idx, bad).collect()


def test_maintain_minhash_index_rejects_null_upsert_text(spark):
    """A 'U' row with NULL after_text would silently retract the key and
    emit nothing (upsert becomes delete) — it must fail loudly instead
    (round-10 advice)."""
    from local_data_pipeline_spark.operators.cdc import maintain_minhash_index
    from local_data_pipeline_spark.operators.dedup import (
        banded_signatures,
        minhash_signature,
    )

    base = spark.createDataFrame(
        [(1, "some text here")], "doc_id long, text string"
    )
    idx = banded_signatures(
        minhash_signature(base, hash_family="rk_pow5"), "doc_id", 8, "rk_pow5"
    )
    bad = spark.createDataFrame(
        [(1, "U", None)], "key long, op string, after_text string"
    )
    with pytest.raises(Exception, match="NULL after_text"):
        maintain_minhash_index(idx, bad).collect()


def test_maintain_minhash_index_gate_paths_agree(spark):
    """Broadcast-gated path (default) ≡ above-gate path
    (max_broadcast_changes=0, AQE-planned anti-join): identical
    maintained index."""
    from local_data_pipeline_spark.operators.cdc import maintain_minhash_index
    from local_data_pipeline_spark.operators.dedup import (
        banded_signatures,
        minhash_signature,
    )

    base = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "one two three four five")],
        "doc_id long, text string",
    )
    idx = banded_signatures(
        minhash_signature(base, hash_family="rk_pow5"), "doc_id", 8, "rk_pow5"
    )
    changes = spark.createDataFrame(
        [(1, "D", None), (5, "U", "a new document appears here")],
        "key long, op string, after_text string",
    )
    a = {
        tuple(r)
        for r in maintain_minhash_index(idx, changes).collect()
    }
    b = {
        tuple(r)
        for r in maintain_minhash_index(
            idx, changes, max_broadcast_changes=0
        ).collect()
    }
    assert a == b and a


def test_epoch_shuffle_batches_and_epoch_sensitivity(spark, sf_dir):
    """Batches are contiguous rank blocks of 64 (only the last short);
    the order is a pure function of (doc_id, epoch): repartitioning
    cannot change it, changing the epoch must."""
    from local_data_pipeline_spark.queries import QUERIES
    from local_data_pipeline_spark.functions.replay import POW_P, POW_SALT

    out = QUERIES["training_order_epoch_shuffle"].fn(spark, sf_dir).collect()
    n = len(out)
    assert n > 0
    sizes = {}
    for r in out:
        sizes[r.batch_id] = sizes.get(r.batch_id, 0) + 1
        assert 0 <= r.batch_pos < 64
        assert r.shuffle_key == pow(
            (r.doc_id + 3 * POW_SALT) % POW_P, 5, POW_P
        )
    full, last = divmod(n, 64)
    expect = {b: 64 for b in range(full)}
    if last:
        expect[full] = last
    assert sizes == expect
    # epoch sensitivity: the epoch-4 permutation orders docs differently
    key3 = sorted(range(n), key=lambda i: pow((i + 3 * POW_SALT) % POW_P, 5, POW_P))
    key4 = sorted(range(n), key=lambda i: pow((i + 4 * POW_SALT) % POW_P, 5, POW_P))
    assert key3 != key4


# ------------------------------------------------ measured-band ANN floors
def test_ann_floors_match_measured_bands():
    from local_data_pipeline_spark.queries import (
        _ANN_MEASURED_RECALL,
        _ann_recall_floors,
    )

    assert _ann_recall_floors(500) == {
        m: 0.5 * r for m, r in _ANN_MEASURED_RECALL[0][1].items()
    }
    assert _ann_recall_floors(2000) == {
        m: 0.5 * r for m, r in _ANN_MEASURED_RECALL[1][1].items()
    }
    assert _ann_recall_floors(10**9) == {
        m: 0.5 * r for m, r in _ANN_MEASURED_RECALL[2][1].items()
    }


def test_broken_index_fails_measured_band_floors(spark):
    """A geometry-free index (bucket = vec_id % 64 — no relation to the
    vectors) must fail every measured-band floor at the sf0.1 band: the
    old absolute floors (lsh >= 0.02) were near-vacuous exactly because
    random retrieval clears them at small n."""
    from local_data_pipeline_spark.operators.similarity import (
        _jvm_topk,
        brute_force_topk,
    )
    from local_data_pipeline_spark.queries import (
        _ann_recall_flags,
        _ann_recall_floors,
    )

    emb = load_table(spark, "/root/testdata/sf0.1", "embeddings")
    n = emb.count()
    modulus = 97 * max(1, (n + 97 * 24 - 1) // (97 * 24))
    qs = emb.filter(F.col("vec_id") % modulus == 0)
    truth = (
        brute_force_topk(qs, emb, k=10)
        .select("query_id", "neighbor_id")
        .persist()
    )
    nq = qs.count()
    bucket = F.col("vec_id") % 64
    broken = _jvm_topk(
        qs.withColumn("bucket", bucket),
        emb.withColumn("bucket", bucket),
        10,
        "vec_id",
        "embedding",
        "bucket",
    )
    hits = (
        broken.select("query_id", "neighbor_id")
        .join(truth, ["query_id", "neighbor_id"])
        .count()
    )
    truth.unpersist()
    recall = hits / (10 * nq)
    floors = _ann_recall_floors(n)
    assert recall < min(floors.values()), (recall, floors)
    flags = _ann_recall_flags(
        {"lsh": recall, "lsh_multiprobe": recall, "ivf": recall}, n
    )
    assert not any(flags.values()), (recall, flags)


def test_widen_splits_cache_invalidates_on_file_overwrite(spark, tmp_path):
    """Replacing the SAME-NAMED parquet file with different content
    (fixture regeneration — the round-10 advice scenario) must produce
    a DIFFERENT cache key via _file_key's (size, mtime) component. The
    file is os.replace()'d under one fixed name, so the key's PATH part
    is identical both times — a regression to path-only keys fails the
    second assertion (a spark.write overwrite would generate a fresh
    UUID part filename and make this test vacuous)."""
    import os as _os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from local_data_pipeline_spark.session import (
        _WIDEN_SPLITS_CACHE,
        widen_to_parallelism,
    )

    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"x": list(range(100))}), p)
    before = dict(_WIDEN_SPLITS_CACHE)
    widen_to_parallelism(spark.read.parquet(p))
    keys_a = set(_WIDEN_SPLITS_CACHE) - set(before)
    assert keys_a, "first widen should populate the cache"

    _time.sleep(0.01)  # ensure mtime_ns moves even on coarse clocks
    tmp = p + ".new"
    pq.write_table(pa.table({"x": list(range(200_000))}), tmp)
    _os.replace(tmp, p)  # same filename, new content
    widen_to_parallelism(spark.read.parquet(p))
    keys_b = set(_WIDEN_SPLITS_CACHE) - set(before) - keys_a
    assert keys_b, "overwritten file must not reuse the stale cache entry"


def _full_clusters(spark, rows, cap):
    from local_data_pipeline_spark.operators.dedup import (
        dedup_clusters,
        lsh_candidate_pairs,
        minhash_signature,
    )

    df = spark.createDataFrame(rows, "doc_id long, text string")
    return dedup_clusters(
        lsh_candidate_pairs(
            minhash_signature(df, hash_family="rk_pow5"),
            n_bands=8,
            max_bucket_size=cap,
            hash_family="rk_pow5",
        )
    )


def test_maintain_dup_clusters_matches_full_recompute(spark):
    """Incremental cluster maintenance ≡ full recompute on a planted
    changelog exercising every hard case: a delete splitting a chain, an
    update dissolving a pair, an insert forming a new cluster, an insert
    pushing a bucket OVER max_bucket_size (untouched docs 20-22 lose
    their pairs), and a delete pulling a bucket UNDER the cap (untouched
    docs 30-32 GAIN pairs and a cluster appears from nothing)."""
    from local_data_pipeline_spark.operators.cdc import maintain_dup_clusters
    from local_data_pipeline_spark.operators.dedup import (
        banded_signatures,
        minhash_signature,
    )

    t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    t2 = "one two three four five six seven eight nine ten eleven"
    t4 = "boilerplate disclaimer repeated verbatim in every single doc"
    t5 = "another template clause shared by the whole jumbo bucket set"
    t6 = "a fresh document body that will soon gain an identical twin"
    base_rows = [
        (1, t1), (2, t1),                       # stable pair
        (6, t2), (7, t2),                       # pair dissolved by update of 7
        (20, t4), (21, t4), (22, t4),           # bucket at cap (3)
        (30, t5), (31, t5), (32, t5), (33, t5), # bucket over cap (4): no pairs
        (40, t6),                               # singleton, gains twin
    ]
    post_rows = [
        (1, t1), (2, t1),
        (6, t2), (7, "completely unrelated replacement text for doc seven"),
        (20, t4), (21, t4), (22, t4), (23, t4),  # insert 23: bucket 4 > cap
        (30, t5), (31, t5), (32, t5),            # delete 33: bucket 3 <= cap
        (40, t6), (41, t6),                      # insert twin
    ]
    changes = spark.createDataFrame(
        [
            (7, "U", "completely unrelated replacement text for doc seven"),
            (23, "U", t4),
            (33, "D", None),
            (41, "U", t6),
        ],
        "key long, op string, after_text string",
    )
    cap = 3
    base_df = spark.createDataFrame(base_rows, "doc_id long, text string")
    index_pre = banded_signatures(
        minhash_signature(base_df, hash_family="rk_pow5"), "doc_id", 8, "rk_pow5"
    )
    clusters_pre = _full_clusters(spark, base_rows, cap)
    got = {
        (r.doc_id, r.cluster_id)
        for r in maintain_dup_clusters(
            index_pre, clusters_pre, changes, max_bucket_size=cap
        ).collect()
    }
    want = {
        (r.doc_id, r.cluster_id)
        for r in _full_clusters(spark, post_rows, cap).collect()
    }
    assert got == want
    # spot-check the planted semantics, so the equality above is not
    # vacuously comparing two wrong answers of the same shape
    assert (1, 1) in got and (2, 1) in got          # untouched pair kept
    assert not any(d in (6, 7) for d, _ in got)     # dissolved pair gone
    assert not any(d in (20, 21, 22, 23) for d, _ in got)  # over-cap
    assert {(30, 30), (31, 30), (32, 30)} <= got    # under-cap appears
    assert {(40, 40), (41, 40)} <= got              # new twin cluster
