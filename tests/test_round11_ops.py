"""Round-11 (driver round 5, session 11) operator tests: label
propagation communities, the snapshot-diff primitive, and the
rank-statistic ROC-AUC."""

import pytest
from pyspark.sql import functions as F

from local_data_pipeline_spark.operators.cdc import snapshot_diff
from local_data_pipeline_spark.operators.graph import label_propagation
from local_data_pipeline_spark.session import load_table

SF = "/root/testdata/sf0.001"


def _sym(spark, pairs):
    """Undirected edge list -> symmetric (src, dst) DataFrame."""
    rows = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    return spark.createDataFrame(rows, "src long, dst long")


def test_label_propagation_planted_cliques(spark):
    """Two disjoint cliques converge to one community each, labelled by
    the smallest member id (the deterministic tie-break)."""
    clique1 = [(1, 2), (1, 3), (2, 3)]
    clique2 = [(10, 11), (10, 12), (11, 12), (10, 13), (11, 13), (12, 13)]
    labels = label_propagation(_sym(spark, clique1 + clique2), iterations=4)
    got = {r.node: r.label for r in labels.collect()}
    assert set(got) == {1, 2, 3, 10, 11, 12, 13}
    # a fully connected clique seeded with own ids: after iter 1 every
    # node holds the min neighbor id, and the min id itself re-adopts
    # the community minimum by iter 2 — stable thereafter
    assert {got[1], got[2], got[3]} == {1}
    assert {got[n] for n in (10, 11, 12, 13)} == {10}


def test_label_propagation_deterministic_tiebreak(spark):
    """A node whose neighbors hold equally frequent labels adopts the
    SMALLEST label — pinned on a path graph where ties are everywhere."""
    # path 1-2-3: node 2 sees labels {1, 3} (tie) -> must pick 1
    labels = label_propagation(_sym(spark, [(1, 2), (2, 3)]), iterations=1)
    got = {r.node: r.label for r in labels.collect()}
    assert got[2] == 1
    # endpoints see only their single neighbor's label
    assert got[1] == 2 and got[3] == 2


def test_label_propagation_any_label_type(spark):
    """The tie-break never negates the label, so string ids and the most
    negative long (whose negation overflows under ANSI mode) both work,
    with the same smallest-label rule as the integer path graph above."""
    strs = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")], "src string, dst string"
    )
    got = {r.node: r.label for r in label_propagation(strs, iterations=1).collect()}
    assert got == {"a": "b", "b": "a", "c": "b"}
    lo = -(2**63)
    got = {
        r.node: r.label
        for r in label_propagation(
            _sym(spark, [(lo, 0), (0, 5)]), iterations=1
        ).collect()
    }
    assert got == {lo: 0, 0: lo, 5: 0}


def test_label_propagation_partition_insensitive(spark):
    """Same communities at 1 and 13 shuffle partitions (determinism at
    any parallelism is what makes the unrolled oracle possible)."""
    edges = _sym(spark, [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12)])
    ref = sorted(
        (r.node, r.label)
        for r in label_propagation(edges, iterations=3).collect()
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        alt = sorted(
            (r.node, r.label)
            for r in label_propagation(edges, iterations=3).collect()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert ref == alt


def test_snapshot_diff_classifies_and_lists_columns(spark):
    old = spark.createDataFrame(
        [(1, 10.0, "A"), (2, 20.0, "B"), (3, 30.0, "C"), (4, None, "D")],
        "k long, price double, status string",
    )
    new = spark.createDataFrame(
        [(2, 25.0, "B"), (3, 30.0, "X"), (4, None, "D"), (5, 50.0, "E")],
        "k long, price double, status string",
    )
    got = {
        r.k: (r.change_type, r.changed_cols)
        for r in snapshot_diff(old, new, "k", ["price", "status"]).collect()
    }
    assert got == {
        1: ("D", ""),
        2: ("C", "price"),
        3: ("C", "status"),
        5: ("A", ""),
    }  # key 4 unchanged (NULL == NULL null-safely) -> dropped in-plan


def test_snapshot_diff_null_transitions_are_changes(spark):
    """NULL -> value and value -> NULL are both real changes."""
    old = spark.createDataFrame([(1, None), (2, "x")], "k long, v string")
    new = spark.createDataFrame([(1, "y"), (2, None)], "k long, v string")
    got = {
        r.k: (r.change_type, r.changed_cols, r.old_v, r.new_v)
        for r in snapshot_diff(old, new, "k", ["v"]).collect()
    }
    assert got == {1: ("C", "v", None, "y"), 2: ("C", "v", "x", None)}


def _local_auc(pairs):
    """Tie-aware reference AUC from (score, y) pairs via average ranks."""
    pairs = sorted(pairs)
    n = len(pairs)
    ranks = {}
    i = 0
    while i < n:
        j = i
        while j < n and pairs[j][0] == pairs[i][0]:
            j += 1
        avg = (i + 1 + j) / 2.0  # average of ranks i+1 .. j
        for k in range(i, j):
            ranks[k] = avg
        i = j
    n_pos = sum(y for _, y in pairs)
    n_neg = n - n_pos
    r_pos = sum(ranks[k] for k, (_, y) in enumerate(pairs) if y)
    return (r_pos - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg)


def test_auc_matches_local_rank_reference(spark):
    """auc_micro == floor(1e6 * tie-aware Mann-Whitney AUC) per class,
    recomputed driver-side from the raw embeddings."""
    from local_data_pipeline_spark.queries import QUERIES

    got = {
        r.cls: (r.n, r.n_pos, r.auc_micro)
        for r in QUERIES["auc_one_vs_rest_embeddings"].fn(spark, SF).collect()
    }
    rows = load_table(spark, SF, "embeddings").collect()
    classes = sorted({r.label for r in rows})
    assert set(got) == set(classes)
    for c in classes:
        pairs = [
            (float(r.embedding[c]), 1 if r.label == c else 0) for r in rows
        ]
        n_pos = sum(y for _, y in pairs)
        want = int(_local_auc(pairs) * 1_000_000)  # floor: auc >= 0
        n, got_pos, auc = got[c]
        assert (n, got_pos) == (len(pairs), n_pos)
        assert abs(auc - want) <= 1, (c, auc, want)  # float vs int64 ulp


def test_auc_perfect_and_random_separation(spark):
    """Degenerate checks: a perfectly separating score gives 1.0, a
    constant score gives exactly 0.5 (all one tie group)."""
    perfect = [(float(i), 1 if i >= 50 else 0) for i in range(100)]
    assert _local_auc(perfect) == 1.0
    constant = [(0.0, i % 2) for i in range(100)]
    assert _local_auc(constant) == 0.5


def _md5_bucket(s, mod):
    import hashlib

    return int(hashlib.md5(str(s).encode()).hexdigest()[:8], 16) % mod


def _doc_tokens(text):
    t = text.strip().lower()
    return t.split() if t else []


def test_kneser_ney_matches_local_reference(spark):
    """Per-doc KN log-prob micro sums == a driver-side reference built
    from the same counts and the same float expression shapes."""
    import math

    from local_data_pipeline_spark.queries import QUERIES

    rows = load_table(spark, SF, "documents").select("doc_id", "text").collect()
    pairs = {}  # (split, doc) -> list of (v, w)
    for r in rows:
        t = _doc_tokens(r.text)
        if len(t) < 2:
            continue
        split = "train" if _md5_bucket(r.doc_id, 100) < 80 else "valid"
        pairs.setdefault((split, r.doc_id), []).extend(zip(t, t[1:]))
    cvw, cv, n1f, n1b = {}, {}, {}, {}
    for (s, _), ps in pairs.items():
        if s != "train":
            continue
        for vw in ps:
            cvw[vw] = cvw.get(vw, 0) + 1
    for (v, w), c in cvw.items():
        cv[v] = cv.get(v, 0) + c
        n1f[v] = n1f.get(v, 0) + 1
        n1b[w] = n1b.get(w, 0) + 1
    n_bi, v_cont = len(cvw), len(n1b)
    want = {}
    for (s, doc), ps in pairs.items():
        if s != "valid":
            continue
        lp, unseen = 0, 0
        for v, w in ps:
            pc = (n1b.get(w, 0) + 1) / (n_bi + v_cont + 1)
            if v in cv:
                p = (
                    max(cvw.get((v, w), 0) - 0.75, 0.0) + 0.75 * n1f[v] * pc
                ) / cv[v]
            else:
                p = pc
                unseen += 1
            lp += int(round(math.log(p) * 1_000_000))
        want[doc] = (len(ps), unseen, lp)
    got = {
        r.doc_id: (r.n_bigrams, r.n_unseen_ctx, r.logprob_sum_micro)
        for r in QUERIES["kneser_ney_bigram_heldout"].fn(spark, SF).collect()
    }
    assert got == want
    assert want  # the valid split is non-empty at sf0.001


def test_phrase_search_matches_local_reference(spark):
    from local_data_pipeline_spark.queries import QUERIES

    rows = load_table(spark, SF, "documents").select("doc_id", "text").collect()
    counts = {}
    for r in rows:
        t = _doc_tokens(r.text)
        for vw in zip(t, t[1:]):
            counts[vw] = counts.get(vw, 0) + 1
    # deterministic top-1: max count, then lexicographic
    phrase = min(counts, key=lambda vw: (-counts[vw], vw))
    want = {}
    for r in rows:
        t = _doc_tokens(r.text)
        pos = [i for i, vw in enumerate(zip(t, t[1:])) if vw == phrase]
        if pos:
            want[r.doc_id] = (phrase[0], phrase[1], len(pos), pos[0])
    got = {
        r.doc_id: (r.w1, r.w2, r.n_occurrences, r.first_pos)
        for r in QUERIES["phrase_search_documents"].fn(spark, SF).collect()
    }
    assert got == want


def test_poisson_bootstrap_exact_reproduction(spark):
    """The derandomized bootstrap is EXACTLY reproducible driver-side:
    same x^5-mod-p multiplicities (round-8 mixer: x = (eid + b*1000003)
    mod 2^31-1, h = x^5 mod p mod 1e6), same integer means, same CI
    picks — and the CI brackets are ordered around a sane point
    estimate."""
    from local_data_pipeline_spark.queries import QUERIES

    P = 2147483647

    def _x5_ppm(eid: int, b: int) -> int:
        x = (eid + b * 1000003) % P
        return pow(x, 5, P) % 1_000_000

    rows = (
        load_table(spark, SF, "events")
        .select("event_id", "event_type", "value")
        .collect()
    )
    pois = [367879, 735759, 919699, 981012, 996340, 999406, 999917, 999990]
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(
            (r.event_id, int(round(r.value * 1_000_000)))
        )
    want = {}
    for et, evs in by_type.items():
        means = []
        for b in range(100):
            sv = sm = 0
            for eid, vm in evs:
                h = _x5_ppm(eid, b)
                m = next(
                    (k for k, thr in enumerate(pois) if h < thr), 8
                )
                sv += vm * m
                sm += m
            if sm > 0:
                means.append((sv // sm, b))
        means.sort()
        n = len(evs)
        point = sum(vm for _, vm in evs) // n
        want[et] = (n, point, means[2][0], means[97][0])
    got = {
        r.event_type: (r.n, r.mean_micro, r.ci_lo_micro, r.ci_hi_micro)
        for r in QUERIES["poisson_bootstrap_ci_events"].fn(spark, SF).collect()
    }
    assert got == want
    for n, point, lo, hi in want.values():
        assert lo < hi


def test_ridge_kfold_matches_independent_retraining(spark):
    """Leave-one-fold-out via sufficient-statistic subtraction == 5
    independently trained single-node ridge models (same folds, same
    features), within float tolerance of the micro-quantized SSE."""
    import math

    import numpy as np

    from local_data_pipeline_spark.operators.ml import ridge_fit_local
    from local_data_pipeline_spark.queries import QUERIES

    stop = {"the", "a", "of", "to", "and", "in", "is", "that"}
    rows = load_table(spark, SF, "documents").collect()
    feats, ys, folds = [], [], []
    for r in rows:
        t = _doc_tokens(r.text)
        nw = float(len(t))
        mw = (sum(len(w) for w in t) / nw) if t else 0.0
        sh = float(sum(1 for w in t if w in stop))
        feats.append([nw, mw, sh])
        ys.append(float(r.n_chars))
        folds.append(_md5_bucket(r.doc_id, 5))
    x, y, folds = np.array(feats), np.array(ys), np.array(folds)
    want = {}
    for f in range(5):
        m = folds == f
        beta = ridge_fit_local(x[~m], y[~m], lam=1.0)
        pred = np.column_stack([np.ones(m.sum()), x[m]]) @ beta
        sse = np.sum(np.round((y[m] - pred) ** 2 * 1_000_000)) / 1e6
        want[f] = (int(m.sum()), round(math.sqrt(sse / m.sum()) * 1000))
    got = {
        r.fold: (r.n_test, r.rmse_milli)
        for r in QUERIES["ridge_kfold_cv_documents"].fn(spark, SF).collect()
    }
    assert set(got) == set(want)
    for f in want:
        assert got[f][0] == want[f][0]
        assert abs(got[f][1] - want[f][1]) <= 1, (f, got[f], want[f])


def test_join_cardinality_estimate_is_exact(spark):
    """The sum-of-products histogram estimate equals the materialized
    join's row count (the equi-join identity)."""
    from local_data_pipeline_spark.queries import QUERIES

    r = (
        QUERIES["join_cardinality_estimate_events_orders"]
        .fn(spark, SF)
        .collect()[0]
    )
    assert r.predicted_pairs == r.actual_pairs
    assert r.max_key_pairs <= r.predicted_pairs
    assert r.n_join_keys > 0


def test_loo_target_encoding_exact_and_leak_free(spark):
    """LOO encodings == local reference, and no row's own value leaks
    into its encoding (encode(row) changes when only that row's value
    changes category)."""
    from local_data_pipeline_spark.queries import QUERIES

    rows = (
        load_table(spark, SF, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .collect()
    )
    sums, ns = {}, {}
    vm = {}
    for r in rows:
        v = int(round(r.o_totalprice * 1_000_000))
        vm[r.o_orderkey] = (r.o_orderpriority, v)
        sums[r.o_orderpriority] = sums.get(r.o_orderpriority, 0) + v
        ns[r.o_orderpriority] = ns.get(r.o_orderpriority, 0) + 1
    want = {
        k: (cat, (sums[cat] - v) // (ns[cat] - 1) if ns[cat] > 1 else None)
        for k, (cat, v) in vm.items()
    }
    got = {
        r.o_orderkey: (r.cat, r.loo_mean_micro)
        for r in QUERIES["loo_target_encoding_orders"].fn(spark, SF).collect()
    }
    assert got == want
    # leak-free: two same-category rows with different values must get
    # different encodings (their exclusions differ)
    by_cat = {}
    for k, (cat, v) in vm.items():
        by_cat.setdefault(cat, []).append((v, k))
    for cat, vs in by_cat.items():
        if len(vs) > 2:
            (v1, k1), (v2, k2) = sorted(vs)[0], sorted(vs)[-1]
            if v1 != v2:
                assert got[k1][1] != got[k2][1]
            break


def test_emd_matches_local_cdf_reference(spark):
    """emd_micro_bins == exact local integer CDF-gap computation."""
    from local_data_pipeline_spark.queries import QUERIES

    rows = load_table(spark, SF, "events").select("event_type", "value").collect()
    hist = {}
    for r in rows:
        b = min(max(int(r.value // 10), 0), 49)
        hist.setdefault(r.event_type, [0] * 50)[b] += 1
    n_g = len(rows)
    gcum = [0] * 50
    for h in hist.values():
        c = 0
        for b in range(50):
            c += h[b]
            gcum[b] += c
    want = {}
    for et, h in hist.items():
        n_t = sum(h)
        cum = 0
        emd = 0
        for b in range(50):
            cum += h[b]
            emd += abs(cum * 1_000_000 // n_t - gcum[b] * 1_000_000 // n_g)
        want[et] = (n_t, emd)
    got = {
        r.event_type: (r.n, r.emd_micro_bins)
        for r in QUERIES["emd_value_drift_by_type"].fn(spark, SF).collect()
    }
    assert got == want
    assert all(e >= 0 for _, e in want.values())


def test_matryoshka_recall_bounds_and_prefix_identity(spark):
    """Overlap counts are in [0, 10]; and truncating to the FULL width
    (a slice that changes nothing) gives perfect agreement — pinning
    that the two-space harness itself introduces no noise."""
    from local_data_pipeline_spark.operators import similarity as S

    from local_data_pipeline_spark.queries import QUERIES

    got = QUERIES["matryoshka_truncation_recall"].fn(spark, SF).collect()
    assert got and all(0 <= r.n_overlap <= 10 for r in got)
    assert all(r.recall_milli == r.n_overlap * 100 for r in got)

    emb = load_table(spark, SF, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 97 == 0)
    full = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk_arrow(anchors, emb, k=10).collect()
    }
    sliced = emb.select("vec_id", F.slice("embedding", 1, 64).alias("embedding"))
    a_sliced = anchors.select(
        "vec_id", F.slice("embedding", 1, 64).alias("embedding")
    )
    same = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk_arrow(a_sliced, sliced, k=10).collect()
    }
    assert full == same


def test_ridge_kfold_rejects_null_inputs(spark):
    """A NULL feature/label/fold must raise loudly at execution — the
    silent path poisoned every fold's statistics with NaN."""
    from local_data_pipeline_spark.operators.ml import ridge_kfold_cv

    df = spark.createDataFrame(
        [(0, 1.0, 2.0), (1, None, 4.0), (0, 3.0, 6.0), (1, 4.0, 8.0)],
        "fold int, x double, y double",
    )
    with pytest.raises(Exception, match="ridge_kfold_cv: NULL"):
        ridge_kfold_cv(df, ["x"], "y", "fold", k=2).collect()


def test_viterbi_rejects_empty_vocab():
    from local_data_pipeline_spark.operators.ml import viterbi_segment_local

    with pytest.raises(ValueError, match="empty vocabulary"):
        viterbi_segment_local("word", {})


def _cdc_chunks_local(text, w=8, mod=64):
    """Driver-side reference of the content-defined chunker."""
    n = len(text)
    vals = [ord(c) for c in text]
    cuts = []
    cum = 0
    cums = []
    for v in vals:
        cum += v
        cums.append(cum)
    for pos in range(1, n + 1):
        h = cums[pos - 1] - (cums[pos - 9] if pos > 8 else 0)
        if pos >= 8 and h % mod == 0:
            cuts.append(pos)
    bounds = [0] + cuts + ([n] if (not cuts or cuts[-1] != n) else [])
    return [text[a:b] for a, b in zip(bounds, bounds[1:]) if b > a]


def test_cdc_chunks_match_local_reference(spark):
    import hashlib

    from local_data_pipeline_spark.queries import QUERIES

    rows = load_table(spark, SF, "documents").select("doc_id", "text").collect()
    want = {}
    for r in rows:
        if len(r.text) < 8:
            continue
        for i, ch in enumerate(_cdc_chunks_local(r.text)):
            want[(r.doc_id, i)] = (
                len(ch),
                hashlib.md5(ch.encode()).hexdigest()[:8],
            )
    got = {
        (r.doc_id, r.chunk_idx): (r.chunk_len, r.chunk_key)
        for r in QUERIES["content_defined_chunks_documents"]
        .fn(spark, SF)
        .collect()
    }
    assert got == want


def test_cdc_chunks_are_insertion_stable():
    """THE content-defined property: prepending bytes re-cuts only the
    disturbed prefix — the suffix chunks keep their identities, where
    fixed-width chunking would shift every one of them."""
    base = (
        "the quick brown fox jumps over the lazy dog and then "
        "runs far away into the deep dark woods tonight again"
    ) * 3
    shifted = "XY" + base
    c1 = _cdc_chunks_local(base)
    c2 = _cdc_chunks_local(shifted)
    assert len(c1) > 3  # the predicate actually cuts this text
    # all chunks after the first disturbed ones realign exactly
    tail1, tail2 = set(c1[1:]), set(c2[2:])
    assert tail1 & tail2, "no shared chunk identity after insertion"
    # fixed-width chunking (same mean size) shares NO full chunk
    width = max(1, len(base) // len(c1))
    f1 = {base[i : i + width] for i in range(0, len(base), width)}
    f2 = {shifted[i : i + width] for i in range(0, len(shifted), width)}
    assert len(f1 & f2) <= 1


def _bounded_cuts_local(cands, n, min_len=16, max_len=64):
    """Driver-side reference of dedup.bounded_cdc_cuts' fold."""
    last, kept = 0, []
    for c in cands:
        forced = list(range(last + max_len, c, max_len))
        if forced:
            kept.extend(forced)
            last = forced[-1]
        if c - last >= min_len:
            kept.append(c)
            last = c
    kept.extend(range(last + max_len, n, max_len))
    return kept


def test_bounded_cdc_matches_local_walk_and_bounds(spark):
    """Distributed bounded chunker == the local sequential walk over the
    same candidates, and every chunk length is in [16, 64] except the
    final tail (which may only undershoot)."""
    from local_data_pipeline_spark.queries import QUERIES

    rows = load_table(spark, SF, "documents").select("doc_id", "text").collect()
    want = {}
    for r in rows:
        t = r.text
        if len(t) < 8:
            continue
        cums = []
        c = 0
        for ch in t:
            c += ord(ch)
            cums.append(c)
        cands = [
            p
            for p in range(8, len(t) + 1)
            if (cums[p - 1] - (cums[p - 9] if p > 8 else 0)) % 64 == 0
        ]
        kept = _bounded_cuts_local(cands, len(t))
        bounds = [0] + kept + ([len(t)] if (not kept or kept[-1] != len(t)) else [])
        for i, (a, b) in enumerate(zip(bounds, bounds[1:])):
            if b > a:
                want[(r.doc_id, i)] = (a + 1, b - a)
    got = {
        (r.doc_id, r.chunk_idx): (r.start_pos, r.chunk_len)
        for r in QUERIES["content_defined_chunks_bounded"].fn(spark, SF).collect()
    }
    assert got == want
    by_doc = {}
    for (doc, i), (_, ln) in got.items():
        by_doc.setdefault(doc, []).append((i, ln))
    for doc, lens in by_doc.items():
        lens = [ln for _, ln in sorted(lens)]
        assert all(ln <= 64 for ln in lens), (doc, lens)
        assert all(ln >= 16 for ln in lens[:-1]), (doc, lens)


def test_cdc_rejects_non_ascii_and_bad_bounds(spark):
    """The ascii() byte-vs-codepoint cross-engine divergence raises
    loudly instead of silently mis-hashing; bad min/max bounds raise."""
    from local_data_pipeline_spark.operators.dedup import bounded_cdc_cuts
    from local_data_pipeline_spark.queries import _cdc_rolling_cuts

    df = spark.createDataFrame(
        [(1, "café latte everywhere")], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="non-ASCII"):
        _cdc_rolling_cuts(df).collect()
    with pytest.raises(ValueError, match="min_len <= max_len"):
        bounded_cdc_cuts(F.array(), F.lit(10), min_len=80, max_len=64)
