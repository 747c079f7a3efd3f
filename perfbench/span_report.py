"""Per-span time table of a traced run: for each span name, its total
and self time (span minus the part its child spans cover), as the
median over the measured passes and on the cold pass.

    python3 perfbench/run.py --workload similarity_build --seed 1 --seconds 10 --trace 1 > t.jsonl
    python3 perfbench/span_report.py t.jsonl
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import Span, self_times  # noqa: E402


def report(record: dict) -> list[tuple[str, float, float, float, float]]:
    spans = [Span(s["id"], s["name"], s["parent"], s["t0"], s["t1"]) for s in record["spans"]]
    selfs = self_times(spans)
    parent = {s.id: s.parent for s in spans}

    def pass_of(sid: int) -> int | None:
        while sid is not None:
            if spans[sid].name == "pass":
                return sid
            sid = parent[sid]
        return None

    pass_ids = [p["span"] for p in record["passes"]]
    totals: dict[str, dict[int, list[float]]] = {}
    for s in spans:
        p = pass_of(s.id)
        if p is None or s.name == "pass":
            continue
        t = totals.setdefault(s.name, {i: [0.0, 0.0] for i in pass_ids})
        t[p][0] += s.dur
        t[p][1] += selfs[s.id]
    rows = []
    for name, per in totals.items():
        cold, measured = per[pass_ids[0]], [per[i] for i in pass_ids[1:]]
        rows.append(
            (
                name,
                statistics.median(m[0] for m in measured),
                statistics.median(m[1] for m in measured),
                cold[0],
                cold[1],
            )
        )
    return sorted(rows, key=lambda r: -r[1])


def main(path: str) -> None:
    with open(path) as fh:
        record = json.loads(fh.read().strip().splitlines()[-2])
    print(f"{record['workload']}, seed {record['seed']}, {len(record['passes']) - 1} measured passes")
    print("| span | total s | self s | cold total s | cold self s |")
    print("| --- | ---: | ---: | ---: | ---: |")
    for name, tot, slf, ctot, cslf in report(record):
        print(f"| `{name}` | {tot:.3f} | {slf:.3f} | {ctot:.3f} | {cslf:.3f} |")


if __name__ == "__main__":
    main(sys.argv[1])
