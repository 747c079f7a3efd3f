"""Full-registry arrival-order-independence audit (standing per-round
ledger item, VERDICT r8 §Next #3).

Runs EVERY registered query twice at sf0.01 — once normally, once with
every table adversarially re-partitioned on and intra-partition-sorted
by a deterministic whole-row hash (the tests/test_arrival_order.py
scramble) — and reports any query whose result multiset changes. This
is the only RUNTIME (not static) determinism check; the 50-query
DRIVER_WINDOW probe runs per-suite, this audit runs once per round and
its N/N number is recorded in docs/ROUND{N}_NOTES.md.

No query is exempt: every registered query must return the same
multiset under the scramble. l3_ann_ivf, the former exception, picks
and orders its quantizer's training sample by (xxhash64(vec_id, 7),
vec_id), so its neighbor sets no longer depend on partition layout
(tests/test_arrival_order.py::test_ann_ivf_is_arrival_order_independent).

Usage: python -m tools.arrival_audit [sf_dir]   (default sf0.01)
Exit code 0 iff every query is stable.
"""

from __future__ import annotations

import sys
import time

from pyspark.sql import SparkSession

from data_wrangling_openstreetmap_spark.operators import ALL_MODULES
from data_wrangling_openstreetmap_spark.registry import REGISTRY, _ensure_loaded
from tests.test_arrival_order import _rows, _scrambling_load_table

# queries allowed to differ under the scramble: none
EXPECTED_LAYOUT_DEPENDENT: set[str] = set()


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.session.timeZone", "UTC")
        .appName("dwos-arrival-audit")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    _ensure_loaded()
    originals = {
        mod: mod.load_table for mod in ALL_MODULES if hasattr(mod, "load_table")
    }

    stable, diffs, errs = [], [], []
    t0 = time.time()
    for i, (name, spec) in enumerate(REGISTRY.items(), 1):
        try:
            for mod, orig in originals.items():
                mod.load_table = orig
            baseline = _rows(spec.fn(spark, sf))
            for mod in originals:
                mod.load_table = _scrambling_load_table
            scrambled = _rows(spec.fn(spark, sf))
        except Exception as ex:  # noqa: BLE001 - audit must survey all
            errs.append(f"{name}: {type(ex).__name__}: {ex}")
            continue
        finally:
            for mod, orig in originals.items():
                mod.load_table = orig
        if baseline == scrambled:
            stable.append(name)
        else:
            diffs.append(name)
        if i % 50 == 0:
            print(
                f"[{i}/{len(REGISTRY)}] {time.time() - t0:.0f}s "
                f"stable={len(stable)} diff={len(diffs)} err={len(errs)}",
                flush=True,
            )

    unexpected = [n for n in diffs if n not in EXPECTED_LAYOUT_DEPENDENT]
    print(
        f"\nARRIVAL-ORDER AUDIT: {len(stable)}/{len(REGISTRY)} stable, "
        f"diffs={diffs}, errors={len(errs)} ({time.time() - t0:.0f}s)"
    )
    for e in errs:
        print("ERR", e)
    if unexpected:
        print("UNEXPECTED layout-dependent queries:", unexpected)
    return 1 if (unexpected or errs) else 0


if __name__ == "__main__":
    raise SystemExit(main())
