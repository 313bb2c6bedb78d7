"""Per-query Spark vs DuckDB timing comparison at the bench scale factor.

Times every ``oracle_sql()`` query on DuckDB (32 threads, same machine,
same parquet) and joins the result with the Spark timings in
``BENCH_local.json`` (produced by ``python bench.py``). Prints a table
sorted by Spark/DuckDB ratio plus aggregate totals — the evidence behind
PERF.md's two-regime analysis (fixed ~0.3-0.6 s Spark job floor on
sub-100 ms queries vs algorithmic wins on the heavy ones).

Usage: python tools/compare_bench.py [--md]
       python tools/compare_bench.py --drift OLD.json NEW.json [--out FILE]
                                     [--local BENCH_local.json]

The --drift mode automates the regression-vs-host-drift judgment the
round-3/4 judges each did by hand: bench hosts drift uniformly between
rounds (r03→r04 carry-overs moved ~1.2x across unrelated queries), so a
raw per-query ratio can't distinguish "machine was slower" from "plan
regressed". It computes each carry-over query's NEW/OLD ratio, divides
by the MEDIAN ratio (the host-drift estimate — a plan regression in one
query cannot move the median of the whole catalog), and flags only
queries whose NORMALIZED ratio exceeds 1.5x as suspected regressions
(<1/1.5x listed as improvements, informational).

The drift report also emits a **driver vs local** section comparing the
NEW (driver-run) bench against the committed quiet-host BENCH_local.json
at the same commit: the driver shares its host with other round work, so
its numbers can be uniformly inflated (r05: 1.34x across the board,
bpe_encode 27.7 s vs 4.4 s quiet-host on unchanged code). A median
driver/local ratio well above 1 with LOW dispersion is contention, not
regression — proving that used to require a human cross-reading three
files.
"""

from __future__ import annotations

import json
import re
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from local_data_pipeline_spark.queries import QUERIES  # noqa: E402
from tools.check_oracle import duck_views  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BENCH_JSON = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH_local.json")


def _load_bench(path):
    with open(path) as f:
        d = json.load(f)
    # the driver's BENCH_r{N}.json wraps bench.py's line in "parsed"
    if "queries" not in d and isinstance(d.get("parsed"), dict):
        d = d["parsed"]
    return d["queries"]


def driver_vs_local(new: dict, local_path: str) -> list[str]:
    """Markdown section: is the driver's bench uniformly inflated vs the
    committed same-commit quiet-host run (contention), or is the spread
    query-specific (real plan changes)?"""
    import statistics

    if not os.path.exists(local_path):
        return [
            "## Driver vs local",
            "",
            f"(no committed `{os.path.basename(local_path)}` to compare "
            "against)",
            "",
        ]
    local = _load_bench(local_path)
    shared = sorted(set(new) & set(local))
    if len(shared) < 5:
        return [
            "## Driver vs local",
            "",
            f"(only {len(shared)} shared queries with "
            f"`{os.path.basename(local_path)}` — skipping)",
            "",
        ]
    ratios = {n: new[n] / max(local[n], 1e-9) for n in shared}
    med = statistics.median(ratios.values())
    # dispersion: fraction of queries within 1.5x of the median ratio —
    # uniform inflation keeps nearly everything in-band
    in_band = sum(1 for r in ratios.values() if med / 1.5 <= r <= med * 1.5)
    frac = in_band / len(ratios)
    outliers = sorted(
        ((n, r) for n, r in ratios.items() if r > med * 1.5),
        key=lambda x: x[1],
        reverse=True,
    )[:10]
    if med > 1.15 and frac >= 0.8:
        verdict = (
            f"driver run looks **uniformly inflated {med:.2f}x** over the "
            f"same-commit quiet-host run ({frac:.0%} of queries within "
            "1.5x of that median) — **host contention, not regression**; "
            "judge per-query changes on the normalized drift table above, "
            "not raw driver seconds."
        )
    elif med <= 1.15:
        verdict = (
            f"driver and quiet-host runs agree (median ratio {med:.2f}x) — "
            "raw driver numbers are trustworthy this round."
        )
    else:
        verdict = (
            f"driver/local median ratio {med:.2f}x but only {frac:.0%} of "
            "queries sit within 1.5x of it — the spread is query-specific, "
            "so do NOT write it all off as contention; check the outliers."
        )
    lines = [
        "## Driver vs local (same-commit contention check)",
        "",
        f"{len(shared)} shared queries with "
        f"`{os.path.basename(local_path)}`: median driver/local ratio "
        f"**{med:.2f}x**, {frac:.0%} within 1.5x of median.",
        "",
        verdict,
        "",
    ]
    if outliers:
        lines += [
            "Largest driver-side outliers (raw driver/local):",
            "",
            "| query | local s | driver s | ratio |",
            "|---|---|---|---|",
        ]
        for n, r in outliers:
            lines.append(f"| {n} | {local[n]:.2f} | {new[n]:.2f} | {r:.2f}x |")
        lines.append("")
    return lines


#: Queries with MEASURED irreducible run-to-run variance above the 1.5x
#: normalized-drift flag threshold. Entry = (max tolerated normalized
#: ratio, evidence). Flagging these every round makes drift reports cry
#: wolf; they are still listed, but under their own heading.
VARIANCE_ALLOWLIST: "dict[str, tuple[float, str]]" = {
    # Standalone the query is stable (r07 measurement: 6 consecutive
    # warm runs 9.59-11.36s at sf0.1, ±9%), but in bench context
    # same-commit runs spread 9.1-20.6s (DRIFT_r05_r06.md) — GC /
    # block-manager pressure from neighboring queries, not a plan
    # property (plan audited r06: 4 exact-decimal iterations,
    # broadcast normalizers).
    "hits_customer_parts": (2.3, "r07: stable ±9% standalone; 2.26x max observed spread in bench context"),
}


def drift(
    old_path: str, new_path: str, out: str | None, local_path: str | None = None
) -> int:
    """Host-drift-normalized bench diff; returns 1 if any query regressed
    >1.5x after normalization (allowlisted-variance queries flag only
    above their measured spread and are reported separately)."""
    import statistics

    _load = _load_bench

    old = _load(old_path)
    new = _load(new_path)
    carry = sorted(set(old) & set(new))
    if not carry:
        print("no carry-over queries between the two bench files")
        return 2
    ratios = {n: new[n] / max(old[n], 1e-9) for n in carry}
    med = statistics.median(ratios.values())
    # committed adjudications: DRIFT_<old>_<new>.md written by a past
    # round's human triage. A flagged query NAMED in that file has been
    # ruled on (noise / accepted trade / superseded fix) — report it as
    # adjudicated instead of re-warning every round (round-12 fix; the
    # r09->r10 warning kept firing for two rounds after its file landed).
    adjudicated_names: set[str] = set()
    _rounds = [
        re.search(r"(r\d+)", os.path.basename(p)) for p in (old_path, new_path)
    ]
    if all(_rounds):
        drift_md = os.path.join(
            os.path.dirname(os.path.abspath(new_path)),
            f"DRIFT_{_rounds[0].group(1)}_{_rounds[1].group(1)}.md",
        )
        if os.path.exists(drift_md):
            with open(drift_md) as f:
                body = f.read()
            adjudicated_names = {n for n in carry if f"`{n}`" in body}
    flagged, known_variance, adjudicated = {}, {}, {}
    for n, r in ratios.items():
        norm = r / med
        cap = VARIANCE_ALLOWLIST.get(n, (1.5,))[0]
        if norm > cap:
            if n in adjudicated_names:
                adjudicated[n] = norm
            else:
                flagged[n] = norm
        elif norm > 1.5 and n in VARIANCE_ALLOWLIST:
            known_variance[n] = norm
    improved = {n: r / med for n, r in ratios.items() if r / med < 1 / 1.5}

    lines = [
        "# Bench drift report",
        "",
        f"`{os.path.basename(old_path)}` → `{os.path.basename(new_path)}`: "
        f"{len(carry)} carry-over queries, median ratio **{med:.2f}x** "
        "(= host-drift estimate; per-query ratios are divided by it).",
        "",
        f"**Suspected regressions (normalized > 1.5x): {len(flagged)}**",
        "",
    ]
    if flagged:
        lines += ["| query | old s | new s | raw | normalized |", "|---|---|---|---|---|"]
        for n in sorted(flagged, key=flagged.get, reverse=True):
            lines.append(
                f"| {n} | {old[n]:.2f} | {new[n]:.2f} | {ratios[n]:.2f}x "
                f"| {flagged[n]:.2f}x |"
            )
        lines.append("")
    if adjudicated:
        lines.append(
            "Adjudicated in "
            + os.path.basename(drift_md)
            + " (ruled noise / accepted / superseded — informational): "
            + ", ".join(
                f"{n} ({adjudicated[n]:.2f}x)"
                for n in sorted(adjudicated, key=adjudicated.get, reverse=True)
            )
        )
        lines.append("")
    if known_variance:
        lines.append(
            "Within documented variance (allowlisted, informational): "
            + ", ".join(
                f"{n} ({known_variance[n]:.2f}x; {VARIANCE_ALLOWLIST[n][1]})"
                for n in sorted(known_variance, key=known_variance.get, reverse=True)
            )
        )
        lines.append("")
    if improved:
        lines.append(
            f"Improvements (normalized < 0.67x, informational): "
            + ", ".join(
                f"{n} ({improved[n]:.2f}x)"
                for n in sorted(improved, key=improved.get)
            )
        )
        lines.append("")
    lines += driver_vs_local(new, local_path or BENCH_JSON)
    report = "\n".join(lines) + "\n"
    print(report)
    if out:
        with open(out, "w") as f:
            f.write(report)
        print(f"wrote {out}")
    return 1 if flagged else 0


def main() -> None:
    if "--drift" in sys.argv:
        i = sys.argv.index("--drift")
        old_path, new_path = sys.argv[i + 1], sys.argv[i + 2]
        out = None
        if "--out" in sys.argv:
            out = sys.argv[sys.argv.index("--out") + 1]
        local_path = None
        if "--local" in sys.argv:
            local_path = sys.argv[sys.argv.index("--local") + 1]
        raise SystemExit(drift(old_path, new_path, out, local_path))
    md = "--md" in sys.argv
    with open(BENCH_JSON) as f:
        spark_times = json.load(f)["queries"]

    con = duck_views(SF_DIR)
    con.execute(f"SET threads TO {os.environ.get('SPARK_GRAFT_CPUS', '32')}")

    rows = []
    for name, spec in QUERIES.items():
        if name not in spark_times:
            continue
        # warm once (catalog/IO), time the second run
        con.sql(spec.oracle).fetchall()
        t0 = time.time()
        con.sql(spec.oracle).fetchall()
        duck_s = time.time() - t0
        rows.append((name, spark_times[name], duck_s))

    rows.sort(key=lambda r: r[1] / max(r[2], 1e-9))
    total_spark = sum(r[1] for r in rows)
    total_duck = sum(r[2] for r in rows)

    if md:
        print("| query | spark s | duckdb s | ratio |")
        print("|---|---|---|---|")
    for name, s, d in rows:
        ratio = s / max(d, 1e-9)
        if md:
            print(f"| {name} | {s:.2f} | {d:.3f} | {ratio:.1f}x |")
        else:
            print(f"{name:42s} spark {s:6.2f}  duck {d:7.3f}  ratio {ratio:8.1f}x")
    print(
        f"\nTOTAL over {len(rows)} oracle queries: "
        f"spark {total_spark:.1f}s vs duckdb {total_duck:.1f}s "
        f"({'spark faster' if total_spark < total_duck else 'duckdb faster'}, "
        f"{max(total_spark, total_duck) / max(min(total_spark, total_duck), 1e-9):.2f}x)"
    )


if __name__ == "__main__":
    main()
