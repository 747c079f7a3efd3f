"""Regenerate docs/OPERATORS.md from the query registry.

Run after adding or retagging queries: ``python tools/gen_catalog.py``.
The catalog is the human-readable index of the graded surface — one row
per registered query with its SURVEY.md §2 tags, oracle kind, and
docstring summary; the first 50 rows are the driver's grading window.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from data_wrangling_openstreetmap_spark import registry  # noqa: E402


def main() -> None:
    registry._ensure_loaded()
    lines = [
        "# Operator catalog",
        "",
        "Generated from the query registry (`python tools/gen_catalog.py`).",
        "One row per registered query: SURVEY.md §2 tags, oracle kind, and the",
        "docstring's first sentence. The first 50 rows are the driver's graded",
        "window (`operators/__init__.DRIVER_WINDOW`) — all oracle-bearing.",
        "",
        "| # | Query | §2 tags | Oracle | Summary |",
        "| ---: | --- | --- | --- | --- |",
    ]
    for i, (name, spec) in enumerate(registry.REGISTRY.items(), 1):
        # first sentence: ends at ". " or at the end of the docstring, so
        # "≥ 0.9", "e.g." and module paths do not cut it short
        doc = " ".join((spec.doc or "").split()).replace("|", "/")
        doc = re.split(r"\.(?: |$)", doc, maxsplit=1)[0]
        if len(doc) > 110:
            doc = doc[:107] + "…"
        kind = "DuckDB SQL" if spec.oracle else "rows-only + golden/tests"
        win = "**window** " if i <= 50 else ""
        lines.append(
            f"| {i} | {win}`{name}` | {', '.join(spec.tags)} | {kind} | {doc} |"
        )
    out = os.path.join(REPO, "docs", "OPERATORS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {len(registry.REGISTRY)} rows to {out}")


if __name__ == "__main__":
    main()
