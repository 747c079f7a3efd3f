"""Regenerate fingerprints.json: the expected result of every oracled
query the benchmark runs, computed once by the package's DuckDB oracle
on the generated tables, at each benchmark scale.

    python3 perfbench/make_fingerprints.py

Slow (the similarity oracles are quadratic SQL); rerun only when the
table generator or the query set changes.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import tables  # noqa: E402
import workloads  # noqa: E402
from data_wrangling_openstreetmap_spark.oracle import run_oracle  # noqa: E402
from data_wrangling_openstreetmap_spark.registry import all_oracles  # noqa: E402


def main() -> None:
    oracles = all_oracles()
    out = {}
    with tempfile.TemporaryDirectory(dir=HERE) as tmp:
        for scale, sf in workloads.SCALES.items():
            sf_dir = tables.write_tables(sf, os.path.join(tmp, scale))
            out[scale] = {}
            for q in workloads.SimilarityBuild.ORACLED:
                cols, rows = run_oracle(oracles[q], sf_dir)
                out[scale][q] = {
                    "rows": len(rows),
                    "sha256": workloads.fingerprint(cols, rows),
                }
                print(scale, q, len(rows), flush=True)
    with open(workloads.FINGERPRINTS, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
