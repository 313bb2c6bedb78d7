"""The shared-key pair kernel (dedup.shared_key_pairs) against a pure-Python
pair count, and a source scan that keeps it the only copy of the
one-frame ordered-id self-join."""

import ast
import os
import random
from collections import Counter, defaultdict

import pytest

from local_data_pipeline_spark.operators.dedup import shared_key_pairs

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "local_data_pipeline_spark",
)


def _reference(rows, cap=None):
    """{(id_a, id_b): shared keys} over distinct (id, key) rows, skipping
    keys held by more than ``cap`` rows."""
    by_key = defaultdict(list)
    for i, k in rows:
        by_key[k].append(i)
    out = Counter()
    for ids in by_key.values():
        if cap is not None and len(ids) > cap:
            continue
        for a in ids:
            for b in ids:
                if a < b:
                    out[(a, b)] += 1
    return dict(out)


def _random_relation(seed, hot_rows):
    """Distinct (case, id, k) rows: three cases, each with one hot key held
    by exactly ``hot_rows`` ids and a skewed spread over nine others."""
    rng = random.Random(seed)
    rows = set()
    for case in range(3):
        for i in rng.sample(range(40), hot_rows):
            rows.add((case, i, 0))
        for _ in range(40):
            k = min(rng.randrange(1, 10), rng.randrange(1, 10))
            rows.add((case, rng.randrange(40), k))
    return sorted(rows)


@pytest.mark.parametrize("cap_offset", [None, -1, 0, 1])
def test_shared_key_pairs_matches_python_pair_count(spark, cap_offset):
    """Random relations with a hot key shared by many ids; the cap exactly
    at, one below and one above the hot key's row count (and no cap).
    Two keys, (case, k): pairs only form within a case."""
    hot = 15
    rows = _random_relation(7, hot)
    per_key = Counter((c, k) for c, _, k in rows)
    # only the hot key sits at the cap's edges
    assert max(n for (_, k), n in per_key.items() if k != 0) < hot - 1
    cap = None if cap_offset is None else hot + cap_offset
    df = spark.createDataFrame(rows, "case long, id long, k long")
    got = {
        (r.id_a, r.id_b): r.n_shared
        for r in shared_key_pairs(df, "id", ["case", "k"], cap).collect()
    }
    want = Counter()
    for case in range(3):
        want.update(_reference([(i, k) for c, i, k in rows if c == case], cap))
    assert got == dict(want)


def test_shared_key_pairs_empty_relation(spark):
    df = spark.createDataFrame([], "id long, k long")
    for cap in (None, 0, 5):
        out = shared_key_pairs(df, "id", ["k"], cap)
        assert out.columns == ["id_a", "id_b", "n_shared"]
        assert out.collect() == []


def test_shared_key_pairs_carries_other_columns(spark):
    """A column that is a function of the id rides through as <c>_a /
    <c>_b next to its id; keys do not come out."""
    rows = [(i, k, f"w{i}") for i in range(6) for k in range(3) if (i + k) % 2]
    df = spark.createDataFrame(rows, "id long, k long, w string")
    out = shared_key_pairs(df, "id", ["k"])
    assert out.columns == ["id_a", "id_b", "w_a", "w_b", "n_shared"]
    got = {(r.id_a, r.id_b, r.w_a, r.w_b, r.n_shared) for r in out.collect()}
    want = {
        (a, b, f"w{a}", f"w{b}", n)
        for (a, b), n in _reference([(i, k) for i, k, _ in rows]).items()
    }
    assert got == want


def _col_ref(node):
    """'a.<c>' / 'b.<c>' for F.col("a.<c>") or F.col(f"a.{c}"), else None."""
    if not (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "col"
        and len(node.args) == 1
    ):
        return None
    arg = node.args[0]
    if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
        return arg.value
    if isinstance(arg, ast.JoinedStr):
        return "".join(
            v.value if isinstance(v, ast.Constant) else ast.unparse(v.value)
            for v in arg.values
        )
    return None


def _one_frame_ordered_self_joins(path):
    """Functions that alias ONE frame as both "a" and "b" and compare
    F.col("a.<c>") < F.col("b.<c>"): the hand-written shared-key pair
    self-join."""
    tree = ast.parse(open(path, encoding="utf-8").read())
    found = []
    for fn in ast.walk(tree):
        if not isinstance(fn, ast.FunctionDef):
            continue
        aliases = defaultdict(set)
        ordered = False
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "alias"
                and len(node.args) == 1
                and isinstance(node.args[0], ast.Constant)
                and node.args[0].value in ("a", "b")
            ):
                aliases[ast.unparse(node.func.value)].add(node.args[0].value)
            if (
                isinstance(node, ast.Compare)
                and len(node.ops) == 1
                and isinstance(node.ops[0], (ast.Lt, ast.Gt))
            ):
                left, right = _col_ref(node.left), _col_ref(node.comparators[0])
                ordered |= (
                    bool(left and right)
                    and {left[:2], right[:2]} == {"a.", "b."}
                    and left[2:] == right[2:]
                )
        if ordered and any(v == {"a", "b"} for v in aliases.values()):
            found.append(f"{os.path.relpath(path, PKG)}:{fn.lineno} {fn.name}")
    return found


def test_shared_key_pair_self_join_only_in_the_kernel():
    """The shared-key, ordered-id pair self-join is written once, as
    dedup.shared_key_pairs (which renames each side and joins by key
    name). A one-frame alias("a")/alias("b") join on
    F.col("a.<c>") < F.col("b.<c>") under operators/ or in queries.py
    is a second copy that also leaves column identity to the analyzer."""
    ops = os.path.join(PKG, "operators")
    paths = [os.path.join(PKG, "queries.py")] + [
        os.path.join(ops, f) for f in sorted(os.listdir(ops)) if f.endswith(".py")
    ]
    bad = [hit for p in paths for hit in _one_frame_ordered_self_joins(p)]
    assert not bad, "pair through dedup.shared_key_pairs:\n" + "\n".join(bad)
