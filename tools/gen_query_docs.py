"""Generate QUERIES.md: the declared-query catalog from the registry."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from local_data_pipeline_spark.queries import QUERIES


def main() -> None:
    lines = [
        "# QUERIES — declared query catalog",
        "",
        "Generated by `python tools/gen_query_docs.py` from",
        "`local_data_pipeline_spark/queries.py`. Every entry is exposed via",
        "`__spark_entry__.py queries()` and has a DuckDB `oracle_sql()` twin",
        "checked by the correctness gate (row count + schema + order-insensitive values).",
        "",
        f"**{len(QUERIES)} queries, all oracle-matched.**",
        "",
        "| query | tags | what it covers |",
        "|---|---|---|",
    ]
    for name in sorted(QUERIES):
        s = QUERIES[name]
        doc = " ".join((s.doc or "").split())
        if len(doc) > 220:
            doc = doc[:217] + "..."
        lines.append(f"| `{name}` | {', '.join(s.tags)} | {doc} |")
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "QUERIES.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}: {len(QUERIES)} queries")


if __name__ == "__main__":
    main()
