"""OSM wrangling pipeline — the reference-fidelity surface, Spark-first.

The reference project class runs: iterparse the XML → audit tag keys
with regexes → normalize street/postcode/phone values with a mapping →
shape each element into a nested document → flatten to relational
tables → CSV/JSON sinks → exploratory SQL. This module is that exact
lifecycle re-expressed declaratively:

- S2  ingest: Spark native XML source (`rowTag` node/way), explicit
  schemas (inference can demote single-element arrays to structs).
  At 100 TB: the same reader over a split planet extract — XML row
  boundaries are per-element, so input splits parallelize cleanly.
- P3  audit: regex triage of tag keys (lower / lower_colon /
  problemchars / other) as one `when` chain — a single projection.
- P4/P5 clean: street-type extraction (`regexp_extract` of the last
  word) looked up in the normalization mapping as a map literal;
  postcode digits via regex.
- U5  shape: nested documents as native structs/arrays/maps.
- flatten: `posexplode` junction tables — the reference's SQLite star
  (nodes, nodes_tags, ways, ways_tags, ways_nodes).
- S4/S5 sinks: header CSV per flat table, line-delimited JSON docs.

Everything is built-in Column expressions; zero Python UDFs.

`run_pipeline` parses the extract once per row tag, as the reference's
single iterparse pass does: the node and way scans are persisted, and
the six sink writes and the two audit aggregations then run as
concurrent Spark jobs over those two cached scans. The audits come
back as small local frames.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor, wait

from pyspark import StorageLevel, inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
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


def explode_tags(elements: DataFrame) -> DataFrame:
    """(id, key, value) rows from the tag array — `nodes_tags` shape.
    Splits `addr:street` style keys into (type='addr', key='street'),
    exactly the reference's shaping rule."""
    kv = elements.select(
        F.col("_id").alias("id"), F.explode_outer("tag").alias("t")
    ).filter(F.col("t").isNotNull())
    has_colon = F.col("t._k").contains(":")
    return kv.select(
        "id",
        F.when(has_colon, F.substring_index(F.col("t._k"), ":", 1))
        .otherwise(F.lit("regular"))
        .alias("type"),
        F.when(
            has_colon,
            F.expr("substring(t._k, instr(t._k, ':') + 1)"),
        )
        .otherwise(F.col("t._k"))
        .alias("key"),
        F.col("t._v").alias("value"),
        F.col("t._k").alias("raw_key"),
    )


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
    (the reference's `street_type_re = r'\\b\\S+\\.?$'` audit)."""
    streets = tags.filter(
        (F.col("type") == "addr") & (F.col("key") == "street")
    )
    return (
        streets.select(
            F.regexp_extract(F.col("value"), r"([^\t\n\f\r ]+\.?)\z", 1).alias("street_type")
        )
        .groupBy("street_type")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "street_type")
    )


def clean_streets(tags: DataFrame) -> DataFrame:
    """Normalize street values: look the last word up in the mapping and
    rebuild the value with the canonical type — the reference's
    `update_name(name, mapping)` as one projection. The mapping is a
    map literal, so the plan has no join and no Python-side relation.
    Non-street tags pass through untouched."""
    is_street = (F.col("type") == "addr") & (F.col("key") == "street")
    street_type = F.regexp_extract(F.col("value"), r"([^\t\n\f\r ]+\.?)\z", 1)
    mapping = F.create_map(*(F.lit(w) for pair in STREET_MAPPING.items() for w in pair))
    typed = tags.withColumn("street_type", F.when(is_street, street_type)).withColumn(
        "clean", F.element_at(mapping, F.col("street_type"))
    )
    cleaned_value = F.when(
        is_street & F.col("clean").isNotNull(),
        F.concat(
            F.expr("substring(value, 1, length(value) - length(street_type))"),
            F.col("clean"),
        ),
    ).otherwise(F.col("value"))
    return typed.select(
        "id", "type", "key", cleaned_value.alias("value"), "raw_key"
    )


def clean_postcodes(tags: DataFrame) -> DataFrame:
    """Postcode standardization: keep 5-digit codes, null out the rest
    (the reference nulls non-conforming postcodes for review)."""
    is_post = (F.col("type") == "addr") & (F.col("key") == "postcode")
    five = F.regexp_extract(F.col("value"), r"^(\d{5})\z", 1)
    return tags.withColumn(
        "value",
        F.when(is_post, F.when(five != "", five)).otherwise(F.col("value")),
    )


def shape_documents(nodes: DataFrame, clean_tags: DataFrame) -> DataFrame:
    """Nested-document shape (the reference's Mongo path):
    {id, type, pos, created{...}, address{...}, tags map}."""
    addr = (
        clean_tags.filter((F.col("type") == "addr") & F.col("value").isNotNull())
        .groupBy("id")
        .pivot("key", ["street", "postcode"])
        .agg(F.first("value"))
    )
    other = (
        clean_tags.filter(F.col("type") != "addr")
        .groupBy("id")
        .agg(F.map_from_entries(F.collect_list(F.struct("key", "value"))).alias("tags"))
    )
    docs = (
        nodes.select(
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
        )
        .join(addr, "id", "left")
        .join(other, "id", "left")
        .select(
            "id",
            "element_type",
            "pos",
            "created",
            F.struct(F.col("street"), F.col("postcode")).alias("address"),
            "tags",
        )
    )
    return docs


def flatten(nodes: DataFrame, ways: DataFrame, clean_node_tags: DataFrame):
    """The reference's SQLite star: nodes, nodes_tags, ways, ways_tags,
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
    nodes_tags = clean_node_tags.select("id", "key", "value", "type")
    return {
        "nodes": nodes_flat,
        "nodes_tags": nodes_tags,
        "ways": ways_flat,
        "ways_tags": ways_tags,
        "ways_nodes": ways_nodes,
    }


def _sink_writes(
    tables: dict[str, DataFrame], docs: DataFrame, out_dir: str
) -> list[Callable[[], None]]:
    """S4 CSV (flat star) + S5 line-delimited JSON (nested docs), one
    callable per sink, each running one write job."""
    def csv(name: str, df: DataFrame) -> Callable[[], None]:
        return lambda: df.write.mode("overwrite").option("header", True).csv(
            os.path.join(out_dir, "csv", name)
        )

    return [csv(name, df) for name, df in tables.items()] + [
        lambda: docs.write.mode("overwrite").json(os.path.join(out_dir, "json/documents"))
    ]


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
    persisted (MEMORY_AND_DISK) and filled by two concurrent jobs, then
    the six sink writes and the two audit aggregations run as
    concurrent jobs over them, at most `defaultParallelism` at a time.
    Each job runs in the caller's job group. Both scans are unpersisted
    before this returns or raises; when an output fails, the others
    still finish and the first failure is raised.

    `tables` and `docs` are lazy frames over the raw XML. The two
    `audits` frames are materialized: each is collected once over the
    cached scans and returned as a local relation, so reading it fires
    no Spark job and does not parse the XML again."""
    nodes = read_nodes(spark, osm_path)
    ways = read_ways(spark, osm_path)
    raw_tags = explode_tags(nodes)
    cleaned = clean_postcodes(clean_streets(raw_tags))
    tables = flatten(nodes, ways, cleaned)
    docs = shape_documents(nodes, cleaned)
    audits = {
        "tag_keys": audit_tag_keys(raw_tags),
        "street_types": audit_street_types(raw_tags),
    }
    scans = (nodes, ways)
    for scan in scans:
        scan.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        with ThreadPoolExecutor(spark.sparkContext.defaultParallelism) as pool:
            _run_concurrently(spark, pool, [scan.count for scan in scans])
            outputs = [df.toArrow for df in audits.values()] + _sink_writes(tables, docs, out_dir)
            arrow = _run_concurrently(spark, pool, outputs)[: len(audits)]
    finally:
        for scan in scans:
            scan.unpersist()
    return tables, docs, {name: spark.createDataFrame(tbl) for name, tbl in zip(audits, arrow)}


def _run_concurrently(
    spark: SparkSession, pool: ThreadPoolExecutor, calls: list[Callable]
) -> list:
    """Run `calls` on `pool` and return their results in order. Each call
    inherits the caller's local properties (job group, description,
    scheduler pool), so its jobs are attributed like the caller's own.
    Waits for every call before raising the first failure."""
    futures = [pool.submit(inheritable_thread_target(spark)(call)) for call in calls]
    wait(futures)
    return [f.result() for f in futures]
