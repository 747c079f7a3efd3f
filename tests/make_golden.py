"""Regenerate golden snapshots: ``python -m tests.make_golden [names...]``.

Run after intentionally changing a query's semantics; review the diff
like any other code change.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_wrangling_openstreetmap_spark.registry import REGISTRY, _ensure_loaded
from data_wrangling_openstreetmap_spark.session import get_spark
from tests.golden_util import GOLDEN_DIR, SF_GOLDEN, golden_path, render


def main() -> None:
    _ensure_loaded()
    only = set(sys.argv[1:])
    os.makedirs(GOLDEN_DIR, exist_ok=True)
    spark = get_spark(app_name="make-golden", cpus=None, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    for name, spec in sorted(REGISTRY.items()):
        if only and name not in only:
            continue
        df = spec.fn(spark, SF_GOLDEN)
        text = render(df.columns, [tuple(r) for r in df.collect()])
        with open(golden_path(name), "w") as f:
            f.write(text)
        print(f"wrote {name}")
    spark.stop()


if __name__ == "__main__":
    main()
