"""OSM wrangling pipeline — the reference-fidelity surface, Spark-first.

The reference project class runs: iterparse the XML → audit tag keys
with regexes → normalize street/postcode/phone values with a mapping →
shape each element into a nested document → flatten to relational
tables → CSV/JSON sinks → exploratory SQL. This module is that exact
lifecycle re-expressed declaratively:

- S2  ingest: Spark native XML source (`rowTag` node/way), explicit
  schemas (inference can demote single-element arrays to structs).
  Spark's XML reader parses one file in one task, whatever its size;
  only a directory of files (a pre-split extract) scans in parallel.
- P3  audit: regex triage of tag keys (lower / lower_colon /
  problemchars / other) as one `when` chain — a single projection.
- P4/P5 clean: `tag_entries` types and cleans one tag struct as a
  Column function — the `addr:street` → (type, key) split, the street
  type (`regexp_extract` of the last word) looked up in the
  normalization mapping as a map literal, postcode digits via regex.
- U5  shape: each node's document is one per-row projection of its
  own cleaned tags, as the reference's `shape_element` builds it.
- flatten: `posexplode` junction tables — the reference's SQLite star
  (nodes, nodes_tags, ways, ways_tags, ways_nodes).
- S4/S5 sinks: header CSV per flat table, line-delimited JSON docs.

Everything is built-in Column expressions; zero Python UDFs.

`run_pipeline` parses the extract once per row tag, as the reference's
single iterparse pass does: the node and way scans are persisted, and
the documents write, the two audit aggregations and the five table
writes run as concurrent Spark jobs over those two cached scans, each
started as soon as its frame is built. The audits come back as small
local frames.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from concurrent.futures import Future, ThreadPoolExecutor, wait

from pyspark import StorageLevel, inheritable_thread_target
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

NODE_SCHEMA = (
    "_id LONG, _lat DOUBLE, _lon DOUBLE, _user STRING, _uid LONG, "
    "_version LONG, _changeset LONG, _timestamp TIMESTAMP, "
    "tag ARRAY<STRUCT<_k: STRING, _v: STRING>>"
)
WAY_SCHEMA = (
    "_id LONG, _user STRING, _uid LONG, _version LONG, _changeset LONG, "
    "_timestamp TIMESTAMP, nd ARRAY<STRUCT<_ref: LONG>>, "
    "tag ARRAY<STRUCT<_k: STRING, _v: STRING>>"
)

# Street-type normalization mapping (the reference's `mapping` dict).
STREET_MAPPING = {
    "St.": "Street",
    "St": "Street",
    "Ave": "Avenue",
    "Ave.": "Avenue",
    "Rd.": "Road",
    "Rd": "Road",
    "Blvd": "Boulevard",
    "Dr.": "Drive",
    "Dr": "Drive",
    "Ln": "Lane",
}

# \z not $: Java's $ matches BEFORE a trailing line terminator. A key
# ending in \n or \r is already caught by PROBLEM_RE (checked first in
# the when-chain), but the terminators PROBLEM_RE lacks — \x85 (NEL),
# \u2028, \u2029 — would classify 'name<NEL>' as lower under $; \z
# anchors at true end-of-input.
LOWER_RE = r"^[a-z_]+\z"
LOWER_COLON_RE = r"^[a-z_]+:[a-z_]+\z"
PROBLEM_RE = r"[=\+/&<>;'\"\?%#$@\,\. \t\r\n]"
# The last word of a street value (the reference's street_type_re).
STREET_TYPE_RE = r"([^\t\n\f\r ]+\.?)\z"


def read_nodes(spark: SparkSession, osm_path: str) -> DataFrame:
    return (
        spark.read.format("xml")
        .option("rowTag", "node")
        .schema(NODE_SCHEMA)
        .load(osm_path)
    )


def read_ways(spark: SparkSession, osm_path: str) -> DataFrame:
    return (
        spark.read.format("xml")
        .option("rowTag", "way")
        .schema(WAY_SCHEMA)
        .load(osm_path)
    )


def tag_entries(tags: Column, clean: bool = False) -> Column:
    """One struct (type, key, value, raw_key) per non-NULL `<tag>` of an
    element's tag array, by the reference's shaping rule: `addr:street`
    splits at its first colon into (type='addr', key='street'), and a
    key without a colon is (type='regular', key=raw key).

    With `clean`, the value is normalized as the reference's
    `update_name` and postcode audit do: an `addr:street` value gets its
    last word looked up in STREET_MAPPING (a map literal, so no plan
    has a join or a Python-side relation), and an `addr:postcode` value
    keeps its 5 digits or becomes NULL for review."""
    def entry(t: Column) -> Column:
        k, v = t["_k"], t["_v"]
        value = v
        if clean:
            street_type = F.regexp_extract(v, STREET_TYPE_RE, 1)
            mapping = F.create_map(*(F.lit(w) for pair in STREET_MAPPING.items() for w in pair))
            canonical = F.element_at(mapping, street_type)
            five = F.regexp_extract(v, r"^(\d{5})\z", 1)
            value = (
                F.when(
                    (k == "addr:street") & canonical.isNotNull(),
                    F.concat(v.substr(F.lit(1), F.length(v) - F.length(street_type)), canonical),
                )
                .when(k == "addr:postcode", F.when(five != "", five))
                .otherwise(v)
            )
        return F.struct(
            F.when(k.contains(":"), F.substring_index(k, ":", 1)).otherwise("regular").alias("type"),
            k.substr(F.instr(k, ":") + 1, F.length(k)).alias("key"),
            value.alias("value"),
            k.alias("raw_key"),
        )

    return F.transform(F.filter(tags, lambda t: t.isNotNull()), entry)


def explode_tags(elements: DataFrame, entries: Column | None = None) -> DataFrame:
    """(id, type, key, value, raw_key) rows, one per tag: the inline of
    `entries`, by default the raw `tag_entries` of the `tag` column."""
    if entries is None:
        entries = tag_entries(F.col("tag"))
    return elements.select(F.col("_id").alias("id"), F.inline(entries))


def audit_tag_keys(tags: DataFrame) -> DataFrame:
    """Regex triage of raw tag keys — the reference's audit dict
    {lower, lower_colon, problemchars, other} as one aggregation."""
    bucket = (
        F.when(F.col("raw_key").rlike(PROBLEM_RE), "problemchars")
        .when(F.col("raw_key").rlike(LOWER_RE), "lower")
        .when(F.col("raw_key").rlike(LOWER_COLON_RE), "lower_colon")
        .otherwise("other")
    )
    return (
        tags.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


def audit_street_types(tags: DataFrame) -> DataFrame:
    """Street-type histogram: last word of each addr:street value
    (the reference's `street_type_re = r'\\b\\S+\\.?$'` audit). The
    histogram has one row per distinct word, so it is sorted on one
    partition: no range-partition sampling job and no sort shuffle."""
    return (
        tags.filter((F.col("type") == "addr") & (F.col("key") == "street"))
        .groupBy(F.regexp_extract(F.col("value"), STREET_TYPE_RE, 1).alias("street_type"))
        .agg(F.count("*").alias("n"))
        .coalesce(1)
        .orderBy(F.col("n").desc(), "street_type")
    )


def shape_documents(nodes: DataFrame, entries: Column) -> DataFrame:
    """Nested-document shape (the reference's Mongo path), built like
    its `shape_element`, from each node's own tags: {id, type, pos,
    created{...}, address{street, postcode}, tags map}, where `entries`
    are the node's cleaned `tag_entries`. An address field is the first
    entry of its `addr:` key with a non-NULL value; `tags` maps every
    other raw key to its value and is NULL when there is none. One
    per-row projection: no explode, group-by, pivot or join."""
    def first_addr(key: str) -> Column:
        hits = F.filter("e", lambda e: (e["raw_key"] == f"addr:{key}") & e["value"].isNotNull())
        # try_: under ANSI, element_at raises on an empty array
        return F.try_element_at(hits, F.lit(1))["value"].alias(key)

    def other(e: Column) -> Column:
        return e["type"] != "addr"

    # `e` is projected first, so the three reads below share one evaluation
    return nodes.select(
        F.col("_id").alias("id"),
        F.lit("node").alias("element_type"),
        F.array("_lat", "_lon").alias("pos"),
        F.struct(
            F.col("_user").alias("user"),
            F.col("_uid").alias("uid"),
            F.col("_version").alias("version"),
            F.col("_changeset").alias("changeset"),
            F.col("_timestamp").alias("timestamp"),
        ).alias("created"),
        entries.alias("e"),
    ).select(
        "id",
        "element_type",
        "pos",
        "created",
        F.struct(first_addr("street"), first_addr("postcode")).alias("address"),
        F.when(
            F.exists("e", other),
            F.map_from_entries(
                F.transform(F.filter("e", other), lambda e: F.struct(e["raw_key"], e["value"]))
            ),
        ).alias("tags"),
    )


def flatten(nodes: DataFrame, ways: DataFrame, node_entries: Column):
    """The reference's SQLite star: nodes, nodes_tags (the explode of
    `node_entries`, the cleaned `tag_entries`), ways, ways_tags,
    ways_nodes (ordered junction via posexplode)."""
    nodes_flat = nodes.select(
        F.col("_id").alias("id"),
        F.col("_lat").alias("lat"),
        F.col("_lon").alias("lon"),
        F.col("_user").alias("user"),
        F.col("_uid").alias("uid"),
        F.col("_version").alias("version"),
        F.col("_changeset").alias("changeset"),
        F.col("_timestamp").alias("timestamp"),
    )
    ways_flat = ways.select(
        F.col("_id").alias("id"),
        F.col("_user").alias("user"),
        F.col("_uid").alias("uid"),
        F.col("_version").alias("version"),
        F.col("_changeset").alias("changeset"),
        F.col("_timestamp").alias("timestamp"),
    )
    ways_tags = explode_tags(ways).select("id", "key", "value", "type")
    ways_nodes = ways.select(
        F.col("_id").alias("id"), F.posexplode("nd").alias("position", "ndref")
    ).select("id", F.col("ndref._ref").alias("node_id"), "position")
    nodes_tags = explode_tags(nodes, node_entries).select("id", "key", "value", "type")
    return {
        "nodes": nodes_flat,
        "nodes_tags": nodes_tags,
        "ways": ways_flat,
        "ways_tags": ways_tags,
        "ways_nodes": ways_nodes,
    }


def _csv_writes(tables: dict[str, DataFrame], out_dir: str) -> dict[str, Callable[[], None]]:
    """S4 header CSV per flat table, one callable per sink, each running
    one write job."""
    def csv(name: str, df: DataFrame) -> Callable[[], None]:
        return lambda: df.write.mode("overwrite").option("header", True).csv(
            os.path.join(out_dir, "csv", name)
        )

    return {name: csv(name, df) for name, df in tables.items()}


def top_contributors(tables: dict[str, DataFrame], k: int = 10) -> DataFrame:
    """The reference's signature exploratory query: top users by
    contributed elements across nodes ∪ ways."""
    users = tables["nodes"].select("user").unionByName(tables["ways"].select("user"))
    return (
        users.groupBy("user")
        .agg(F.count("*").alias("n_contributions"))
        .orderBy(F.col("n_contributions").desc(), "user")
        .limit(k)
    )


def top_amenities(tables: dict[str, DataFrame], k: int = 10) -> DataFrame:
    return (
        tables["nodes_tags"]
        .filter(F.col("key") == "amenity")
        .groupBy("value")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "value")
        .limit(k)
    )


def run_pipeline(spark: SparkSession, osm_path: str, out_dir: str):
    """Full wrangle: ingest → audit → clean → shape → flatten → sinks
    under `out_dir`. Returns (tables, docs, audits).

    The XML is parsed once per row tag: the node and way scans are
    persisted (MEMORY_AND_DISK), and the eight outputs run as concurrent
    jobs over them, one pool thread each, each submitted as soon as its
    frame is built, in this order: the S5 JSON documents write (the
    longest job; it runs while the rest are built and parses the node
    scan), the two audits (each a chain of AQE jobs), a way-table write
    (which parses the way scan), nodes_tags, the other table writes.
    Within one executor (local mode, as the package and its tests run),
    a task that reads a partition another task is caching waits for
    that block; on a multi-executor cluster, tasks on different
    executors can each parse the same uncached partition. Each job runs
    in the caller's job group. Both scans are unpersisted before this
    returns or raises; when an output fails, the others still finish
    and the first failure is raised.

    `tables` and `docs` are lazy frames over the raw XML. The two
    `audits` frames are materialized: each is collected once over the
    cached scans and returned as a local relation, so reading it fires
    no Spark job and does not parse the XML again."""
    nodes = read_nodes(spark, osm_path)
    ways = read_ways(spark, osm_path)
    cleaned = tag_entries(F.col("tag"), clean=True)
    docs = shape_documents(nodes, cleaned)
    docs_dir = os.path.join(out_dir, "json/documents")
    scans = (nodes, ways)
    for scan in scans:
        scan.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # One thread per output: the documents, 5 tables and 2 audits.
        with ThreadPoolExecutor(max_workers=8) as pool:
            # each call inherits the caller's job group and description
            def submit(call: Callable) -> Future:
                return pool.submit(inheritable_thread_target(spark)(call))

            futures = {"documents": submit(lambda: docs.write.mode("overwrite").json(docs_dir))}
            raw_tags = explode_tags(nodes)
            audits = {
                "tag_keys": audit_tag_keys(raw_tags),
                "street_types": audit_street_types(raw_tags),
            }
            collects = [df.toArrow for df in audits.values()]
            futures.update(zip(audits, map(submit, collects)))
            tables = flatten(nodes, ways, cleaned)
            writes = _csv_writes(tables, out_dir)
            for name in ("ways_nodes", "nodes_tags"):
                futures[name] = submit(writes.pop(name))
            futures.update((name, submit(call)) for name, call in writes.items())
            wait(futures.values())
            results = {name: f.result() for name, f in futures.items()}
    finally:
        for scan in scans:
            scan.unpersist()
    return tables, docs, {name: spark.createDataFrame(results[name]) for name in audits}
