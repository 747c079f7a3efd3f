"""The benchmark's workloads. Each pass is a list of operations run one
after another by a single caller; every operation returns a result
that its check compares, outside the timed region, against an
expectation fixed before the first pass.
"""

from __future__ import annotations

import collections
import csv
import glob
import hashlib
import json
import os
import random
import re
import xml.etree.ElementTree as ET
from dataclasses import dataclass
from typing import Any, Callable

import pyarrow as pa
import pyarrow.parquet as pq

import tables

HERE = os.path.dirname(os.path.abspath(__file__))
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")

# Scale of the generated tables. ``tiny`` is the self-test size.
SCALES = {"full": 0.01, "tiny": 0.001}
OSM_NODES = {"full": 15_000, "tiny": 500}
REPLAY_CHUNKS = 1
SENTINEL_HOURS = 48
WATERMARK = "1 hour"


@dataclass
class Op:
    """One closed-loop operation: ``run`` is timed, ``check`` is not."""

    name: str
    run: Callable[[], Any]
    check: Callable[[Any], bool]


def fingerprint(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of a result, on the oracle's canonical
    form (sorted column names, sorted canonical rows)."""
    from data_wrangling_openstreetmap_spark.oracle import canonical_rows

    h = hashlib.sha256()
    h.update(repr(sorted(cols)).encode())
    h.update(repr(canonical_rows(list(cols), rows)).encode())
    return h.hexdigest()


def load_fingerprints(scale: str) -> dict[str, str]:
    with open(FINGERPRINTS) as fh:
        return {k: v["sha256"] for k, v in json.load(fh)[scale].items()}


class SimilarityBuild:
    """Registry queries whose build fires eager Spark jobs (token masks,
    IVF quantizer training) and whose collect crosses into Python. One
    pass runs every query once, in an order drawn from the seed.

    The two pair queries are checked against their oracle fingerprints.
    ``l3_ann_ivf`` has no oracle: it is checked by its row count and by
    the recall contract ``l3_ann_recall_contract`` asserts (top-5 recall
    against the exact cosine k-NN >= 0.70), computed here with numpy.
    """

    name = "similarity_build"
    ORACLED = ("l2_jaccard_pairs", "x2_similarity_sql")
    QUERIES = (*ORACLED, "l3_ann_ivf")
    ANN_K = 5
    ANN_MIN_RECALL = 0.70

    def __init__(self, spark, tracer, workdir: str, scale: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.sf_dir = tables.write_tables(SCALES[scale], os.path.join(workdir, "tables"))
        self.expected = load_fingerprints(scale)
        from data_wrangling_openstreetmap_spark.registry import all_queries

        self.fns = all_queries()

    def pass_ops(self, pass_no: int) -> list[Op]:
        order = list(self.QUERIES)
        self.rng.shuffle(order)
        return [Op(q, self._runner(q), self._checker(q)) for q in order]

    def _runner(self, query: str) -> Callable[[], Any]:
        def run():
            tr = self.tracer
            with tr.span("operators.build", query=query):
                df = self.fns[query](self.spark, self.sf_dir)
            return collect(tr, df)

        return run

    def _checker(self, query: str) -> Callable[[Any], bool]:
        if query in self.ORACLED:
            return lambda res: fingerprint(*res) == self.expected[query]
        return self._check_ann

    def _check_ann(self, res) -> bool:
        cols, rows = res
        at = {c: i for i, c in enumerate(cols)}
        pairs = {(r[at["vec_id"]], r[at["neighbor_id"]]) for r in rows}
        exact = self._exact_knn()
        if len(rows) != len(exact) or len(pairs) != len(rows):
            return False
        if any(a == b for a, b in pairs):
            return False
        return len(pairs & exact) / len(exact) >= self.ANN_MIN_RECALL

    def _exact_knn(self) -> set[tuple[int, int]]:
        """Exact top-k cosine neighbours (self excluded, score rounded to
        6 places, ties to the lower id), as the recall contract's q10."""
        if not hasattr(self, "_exact"):
            import numpy as np

            t = pq.read_table(os.path.join(self.sf_dir, "embeddings.parquet"))
            ids = np.asarray(t["vec_id"])
            x = np.asarray(t["embedding"].to_pylist(), dtype=np.float64)
            u = x / np.linalg.norm(x, axis=1, keepdims=True)
            scores = np.round(u @ u.T, 6)
            np.fill_diagonal(scores, -np.inf)
            self._exact = {
                (int(ids[i]), int(ids[j]))
                for i in range(len(ids))
                for j in np.lexsort((ids, -scores[i]))[: self.ANN_K]
            }
        return self._exact

    def files_written(self, pass_no: int) -> int:
        return 0


def collect(tracer, df) -> tuple[list[str], list[tuple]]:
    """``df.collect()`` inside a ``collect`` span; the span records the
    rows and the Catalyst phase times of the executed query."""
    with tracer.span("collect") as s:
        rows = df.collect()
        if s is not None:
            phases = df._jdf.queryExecution().tracker().phases()
            keys = phases.keys().iterator()
            plan_ms = 0
            while keys.hasNext():
                plan_ms += phases.apply(keys.next()).durationMs()
            s.attrs.update(rows=len(rows), plan_s=plan_ms / 1000.0)
    return list(df.columns), [tuple(r) for r in rows]


def _java_regex(pattern: str) -> re.Pattern:
    return re.compile(pattern.replace(r"\z", r"\Z"))


class WrangleIngest:
    """The OSM wrangling pipeline: XML scan, audit, clean, shape and
    flatten into CSV and JSON sinks, the sinks read back by the
    exploratory queries, then the events table replayed as a file
    stream into a windowed memory sink. No registry query runs."""

    name = "wrangle_ingest"
    READBACK_TABLES = ("nodes", "ways", "nodes_tags")

    def __init__(self, spark, tracer, workdir: str, scale: str, seed: int):
        from data_wrangling_openstreetmap_spark.sources import osm_gen

        self.spark = spark
        self.tracer = tracer
        self.workdir = workdir
        self.sf_dir = tables.write_tables(SCALES[scale], os.path.join(workdir, "tables"))
        osm_src = _seeded_customers(seed, OSM_NODES[scale], os.path.join(workdir, "osm_src"))
        self.osm_path = osm_gen.generate_osm_xml(
            spark, osm_src, os.path.join(workdir, "osm"), max_nodes=OSM_NODES[scale]
        )
        self.expect = _expected_from_xml(self.osm_path)
        self._state: dict[int, dict] = {}

    def pass_ops(self, pass_no: int) -> list[Op]:
        d = os.path.join(self.workdir, f"pass{pass_no}")
        st = self._state.setdefault(
            pass_no,
            {"sinks": os.path.join(d, "sinks"), "replay": os.path.join(d, "replay")},
        )
        sink = f"perfbench_sink_{pass_no}"
        return [
            Op("pipeline", lambda: self._pipeline(st), lambda r: self._check_sinks(st)),
            Op("readback", lambda: self._readback(st), self._check_readback),
            Op("replay_stage", lambda: self._stage(st), lambda r: self._check_stage(st)),
            Op("stream_drain", lambda: self._drain(st, sink), lambda r: self._check_stream(sink)),
        ]

    def _pipeline(self, st: dict):
        from data_wrangling_openstreetmap_spark.sources import osm_pipeline

        with self.tracer.span("sources.pipeline"):
            _, _, st["audits"] = osm_pipeline.run_pipeline(
                self.spark, self.osm_path, out_dir=st["sinks"]
            )

    def _readback(self, st: dict) -> dict:
        from data_wrangling_openstreetmap_spark.sources import osm_pipeline

        tr = self.tracer
        with tr.span("sources.readback"):
            reader = self.spark.read.option("header", True)
            back = {
                t: reader.csv(os.path.join(st["sinks"], "csv", t)) for t in self.READBACK_TABLES
            }
            out = {
                "top_contributors": collect(tr, osm_pipeline.top_contributors(back))[1],
                "top_amenities": collect(tr, osm_pipeline.top_amenities(back))[1],
            }
            for name, df in st["audits"].items():
                out[name] = collect(tr, df)[1]
        return out

    def _stage(self, st: dict):
        from data_wrangling_openstreetmap_spark.streaming import replay

        with self.tracer.span("streaming.stage"):
            replay.stage_replay_dir(
                self.spark,
                self.sf_dir,
                st["replay"],
                n_chunks=REPLAY_CHUNKS,
                sentinel_hours=SENTINEL_HOURS,
            )

    def _drain(self, st: dict, sink: str):
        from data_wrangling_openstreetmap_spark.streaming import replay, transforms

        with self.tracer.span("streaming.drain"):
            replay.run_to_memory(
                replay.read_event_stream(self.spark, st["replay"]),
                transforms.tumbling_counts,
                sink,
                "append",
                watermark=WATERMARK,
            )

    # -- checks (untimed) -------------------------------------------------

    def _check_sinks(self, st: dict) -> bool:
        got = {t: _csv_rows(os.path.join(st["sinks"], "csv", t)) for t in self.expect["counts"]}
        docs = _json_lines(os.path.join(st["sinks"], "json", "documents"))
        return got == self.expect["counts"] and docs == self.expect["counts"]["nodes"]

    def _check_readback(self, out: dict) -> bool:
        return all(
            sorted(out[k]) == sorted(self.expect[k])
            for k in ("tag_keys", "street_types")
        ) and all(out[k] == self.expect[k] for k in ("top_contributors", "top_amenities"))

    def _check_stage(self, st: dict) -> bool:
        return len(glob.glob(os.path.join(st["replay"], "*.parquet"))) == REPLAY_CHUNKS + 1

    def _check_stream(self, sink: str) -> bool:
        from pyspark.sql import functions as F

        got = (
            self.spark.table(sink)
            .filter(F.col("event_type") != "sentinel")
            .withColumn("window_start", F.col("window_start").cast("timestamp_ntz"))
            .withColumn("window_end", F.col("window_end").cast("timestamp_ntz"))
            .collect()
        )
        self.spark.catalog.dropTempView(sink)
        return sorted(tuple(r) for r in got) == self._batch_counts()

    def _batch_counts(self) -> list[tuple]:
        """The batch form of the stream's transform over the static
        events, computed at the first check so no Spark job runs
        before the cold pass."""
        if "stream" not in self.expect:
            from data_wrangling_openstreetmap_spark.io import load_table
            from data_wrangling_openstreetmap_spark.streaming import transforms

            batch = transforms.tumbling_counts(load_table(self.spark, self.sf_dir, "events"))
            self.expect["stream"] = sorted(tuple(r) for r in batch.collect())
        return self.expect["stream"]

    def files_written(self, pass_no: int) -> int:
        st = self._state[pass_no]
        n = 0
        for root in (st["sinks"], st["replay"]):
            for _, _, files in os.walk(root):
                n += sum(1 for f in files if not f.startswith((".", "_")))
        return n


WORKLOADS = {w.name: w for w in (SimilarityBuild, WrangleIngest)}


def _seeded_customers(seed: int, n: int, out_dir: str) -> str:
    """A ``customer`` table of ``n`` seeded keys, the OSM generator's input."""
    rng = random.Random(seed)
    keys = sorted(rng.sample(range(1, 10_000_000), n))
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(keys, pa.int64()),
                "c_name": [f"Customer#{k:09d}" for k in keys],
                "c_nationkey": pa.array(
                    [rng.randrange(tables.NATIONS) for _ in keys], pa.int32()
                ),
            }
        ),
        os.path.join(out_dir, "customer.parquet"),
    )
    return out_dir


def _expected_from_xml(path: str) -> dict:
    """What the pipeline must produce from the extract, derived in plain
    Python from the XML itself."""
    from data_wrangling_openstreetmap_spark.sources import osm_pipeline as P

    root = ET.parse(path).getroot()
    nodes, ways = root.findall("node"), root.findall("way")
    node_tags = [t for n in nodes for t in n.findall("tag")]
    users = collections.Counter(e.get("user") for e in nodes + ways)
    amenities = collections.Counter(t.get("v") for t in node_tags if t.get("k") == "amenity")
    problem, lower, lower_colon = (
        _java_regex(P.PROBLEM_RE),
        _java_regex(P.LOWER_RE),
        _java_regex(P.LOWER_COLON_RE),
    )

    def bucket(k: str) -> str:
        if problem.search(k):
            return "problemchars"
        if lower.search(k):
            return "lower"
        if lower_colon.search(k):
            return "lower_colon"
        return "other"

    last_word = _java_regex(r"([^\t\n\f\r ]+\.?)\z")

    def street_type(v: str) -> str:
        m = last_word.search(v)
        return m.group(1) if m else ""

    streets = collections.Counter(
        street_type(t.get("v")) for t in node_tags if t.get("k") == "addr:street"
    )

    def top(counter: collections.Counter, k: int = 10) -> list[tuple]:
        return sorted(counter.items(), key=lambda kv: (-kv[1], kv[0]))[:k]

    return {
        "counts": {
            "nodes": len(nodes),
            "nodes_tags": len(node_tags),
            "ways": len(ways),
            "ways_tags": sum(len(w.findall("tag")) for w in ways),
            "ways_nodes": sum(len(w.findall("nd")) for w in ways),
        },
        "top_contributors": top(users),
        "top_amenities": top(amenities),
        "tag_keys": sorted(collections.Counter(bucket(t.get("k")) for t in node_tags).items()),
        "street_types": top(streets, len(streets)),
    }


def _csv_rows(directory: str) -> int:
    n = 0
    for part in glob.glob(os.path.join(directory, "part-*")):
        with open(part, newline="", encoding="utf-8") as fh:
            n += max(0, sum(1 for _ in csv.reader(fh)) - 1)
    return n


def _json_lines(directory: str) -> int:
    n = 0
    for part in glob.glob(os.path.join(directory, "part-*")):
        with open(part, encoding="utf-8") as fh:
            n += sum(1 for line in fh if line.strip())
    return n
