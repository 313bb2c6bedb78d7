"""Generate SF1_GATE.md — the committed roster of the sf1 scale gate.

The small-sf gates (sf0.01) verify semantics; the sf1 sweep (10x, via
tools/gen_scaled_data.py) is what caught the round-3 scale bugs
(recursion row limits, round() half-boundary divergence, decimal→double
double-rounding past 2^53 micro-units). COVERAGE.md used to claim the
sweep green in prose; this script makes the exact included/excluded
roster a per-round artifact: every query → PASS / FAIL / EXCLUDED(reason).

Exclusions are queries whose DUCKDB TWIN is superlinear at sf1 (the
Spark side scales fine — each exclusion names the one-time full
verification). The list must stay tiny and justified.

Usage:
    python tools/gen_scaled_data.py 10 /tmp/sf1      # once per boot
    python tools/gen_sf1_gate.py                     # writes SF1_GATE.md
    python tools/gen_sf1_gate.py --sf-dir /tmp/sf1 --out SF1_GATE.md
    python tools/gen_sf1_gate.py --only new_query_a new_query_b
        # incremental: runs just those queries and MERGES their rows
        # into the existing roster (for queries added mid-round, so a
        # full 40-60 min re-sweep isn't needed twice per round)
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: query -> why its DuckDB twin is excluded at sf1 (Spark still runs it).
EXCLUDED: dict[str, str] = {
    "near_dup_clusters_documents": (
        "DuckDB twin is a recursive-CTE transitive closure — superlinear "
        "at sf1 (732 s measured once, PASS; Spark 4.2 s)"
    ),
    "ngram_jaccard_within_source": (
        "DuckDB twin joins the full n-gram set all-pairs within source — "
        "superlinear at sf1 (46.7 s measured once, PASS; Spark 1.6 s)"
    ),
    "knn_label_consistency": (
        "DuckDB twin is a brute-force all-pairs cosine — quadratic in "
        "corpus size (PASS verified once at sf1)"
    ),
    "semantic_dedup_embeddings": (
        "DuckDB twin evaluates every within-cluster cosine pair with "
        "per-pair list_dot_product — quadratic in corpus size (417.8 s "
        "measured once at sf1, hash PASS; Spark's per-cluster BLAS gram "
        "matrix side is ~12 s)"
    ),
    "prefix_jaccard_pairs_documents": (
        "DuckDB twin enumerates candidate pairs without LSH pruning — "
        "quadratic at sf1 (PASS verified once at sf1)"
    ),
    "bin_pack_report_documents": (
        "DuckDB twin replays the packing recurrence per-row via recursive "
        "CTE — 639 s at sf1 (PASS verified once); Spark 4.1 s"
    ),
    "fuzzy_part_name_pairs": (
        "DuckDB twin runs unthresholded levenshtein over every "
        "within-block pair — 367.5 s at sf1, ~87 percent of it the DuckDB "
        "kernel (PASS verified once at sf1; Spark's banded-DP side is "
        "~48 s and sweeps in SCALE.md)"
    ),
    "minhash_precision_recall_eval": (
        "DuckDB twin recomputes the within-source ground truth with "
        "per-pair list_intersect over the 5000-doc evaluation scope — "
        "quadratic within blocks, 376.7 s at sf1 (PASS verified once, "
        "round 9, value-hash on the exact truth side; Spark 7 s). The "
        "scope cap keeps the cost CONSTANT past sf0.2, so sf0.01 "
        "re-attestation covers the same code path."
    ),
}


#: Queries whose DECLARED parameters are vacuous at sf1 (e.g. an empty
#: result that would "match" trivially): the gate runs a parameterized
#: variant with a NON-EMPTY result instead, exercising the identical
#: recurrence, and records the substitution in the roster note.
#: name -> (variant_factory_args, note). Resolved lazily to avoid
#: importing queries at module load.
def _scale_variants():
    from local_data_pipeline_spark.queries import kcore_copurchase_query

    k2_fn, k2_sql = kcore_copurchase_query(2, 6)
    return {
        "kcore_copurchase_parts": (
            k2_fn,
            k2_sql,
            "k=2 at sf1 (declared k=3 core is EMPTY at this scale — a "
            "0-row match attests nothing; k=3 non-vacuous at sf0.01 "
            "with 954 rows)",
        ),
    }


def _note(s: str) -> str:
    """Sanitize a roster note: notes land in a markdown table AND are
    re-parsed by the --only merge — a raw '|' (common in Spark/DuckDB
    error strings) would break the column split and silently drop the
    row from every subsequent merge."""
    return s.replace("|", "¦").replace("\n", " ")


#: the --only merge parser; module-level so tests can pin that any
#: _note()-sanitized row round-trips through it
ROW_RE = r"\| (\S+) \| (PASS|FAIL|EXCLUDED) \| ([\d.]+) \| (.*) \|$"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/tmp/sf1"))
    ap.add_argument("--out", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SF1_GATE.md"))
    ap.add_argument("--only", nargs="*", default=None,
                    help="run just these queries and merge into the "
                         "existing roster")
    args = ap.parse_args()

    if not os.path.exists(os.path.join(args.sf_dir, "lineitem.parquet")):
        print(
            f"sf1 data missing at {args.sf_dir} — run: "
            f"python tools/gen_scaled_data.py 10 {args.sf_dir}",
            file=sys.stderr,
        )
        return 2

    import __spark_entry__ as entrymod
    from local_data_pipeline_spark.session import get_spark
    from tools.check_oracle import check_query, duck_views

    spark = get_spark(app_name="sf1_gate")
    con = duck_views(args.sf_dir)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    variants = _scale_variants()

    todo = qs if args.only is None else {
        n: qs[n] for n in args.only if n in qs
    }
    if args.only is not None:
        missing = [n for n in args.only if n not in qs]
        if missing:
            print(f"unknown queries: {missing}", file=sys.stderr)
            return 2

    rows: list[tuple[str, str, float, str]] = []  # name, status, sec, note
    n = {"PASS": 0, "FAIL": 0, "EXCLUDED": 0}
    for name, fn in todo.items():
        if name in EXCLUDED:
            rows.append((name, "EXCLUDED", 0.0, EXCLUDED[name]))
            n["EXCLUDED"] += 1
            print(f"SKIP  {name}")
            continue
        variant_note = ""
        oracle_sql_override = None
        if name in variants:
            fn, oracle_sql_override, variant_note = variants[name]
            variant_note = " — " + variant_note
        t0 = time.perf_counter()
        try:
            ok, msg = check_query(
                spark, con, fn, oracle_sql_override or oracles[name], args.sf_dir
            )
        except Exception as e:  # noqa: BLE001 - roster records the error
            ok, msg = False, f"error: {str(e)[:160]}"
        dt = time.perf_counter() - t0
        rows.append((name, "PASS" if ok else "FAIL", dt,
                     _note((msg if ok else msg[:160]) + variant_note)))
        n["PASS" if ok else "FAIL"] += 1
        print(f"{'PASS' if ok else 'FAIL'}  {name} [{dt:.1f}s]")

    if args.only is not None and os.path.exists(args.out):
        # merge into the existing roster: parse its table rows, overlay
        # the fresh results, and emit in current catalog order
        import re

        existing: dict[str, tuple[str, str, float, str]] = {}
        for line in open(args.out):
            m = re.match(ROW_RE, line.strip())
            if m:
                existing[m.group(1)] = (
                    m.group(1), m.group(2), float(m.group(3)), m.group(4)
                )
        for r in rows:
            existing[r[0]] = r
        rows = [existing[name] for name in qs if name in existing]
        n = {"PASS": 0, "FAIL": 0, "EXCLUDED": 0}
        for _, status, _, _ in rows:
            n[status] += 1

    total = len(rows)
    with open(args.out, "w") as fh:
        fh.write(
            "# SF1 scale-gate roster\n\n"
            "Generated by `python tools/gen_sf1_gate.py` — the committed "
            "included/excluded list of the 10x-scale oracle sweep "
            f"(data: `{args.sf_dir}`, regenerate with "
            "`python tools/gen_scaled_data.py 10 /tmp/sf1`).\n\n"
            f"**{n['PASS']} oracle PASS, "
            f"{n['FAIL']} FAIL, {n['EXCLUDED']} excluded "
            f"(of {total}).** Exclusions are queries whose DuckDB twin "
            "is superlinear at sf1 — the Spark side runs fine; each was "
            "PASS-verified once at full scale (wall times in the notes).\n\n"
            "| query | status | sec | note |\n|---|---|---:|---|\n"
        )
        for name, status, sec, note in rows:
            fh.write(f"| {name} | {status} | {sec:.1f} | {_note(note)} |\n")
    print(f"\nwrote {args.out}: {n}")
    return 1 if n["FAIL"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
