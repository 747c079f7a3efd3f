"""OSM wrangling-layer tests: XML ingest, audit, cleaning, shaping,
flattening, sinks, and the exploratory query layer — the reference's
lifecycle, asserted stage by stage."""

from __future__ import annotations

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from data_wrangling_openstreetmap_spark.sources.osm_gen import generate_osm_xml
from data_wrangling_openstreetmap_spark.sources import osm_pipeline as P
from tools.query_loop import job_group, stage_attempts

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def wrangled(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("osm")
    path = generate_osm_xml(spark, SF, str(d), max_nodes=150)
    tables, docs, audits = P.run_pipeline(spark, path, out_dir=str(d / "out"))
    return d, tables, docs, audits


def test_ingest_counts(spark, wrangled):
    _, tables, docs, _ = wrangled
    assert tables["nodes"].count() == 150
    assert tables["ways"].count() > 0
    # every way member references an existing node, positions start at 0
    wn = tables["ways_nodes"]
    orphans = wn.join(
        tables["nodes"], wn.node_id == tables["nodes"].id, "left_anti"
    )
    assert orphans.count() == 0
    assert wn.groupBy("id").agg(F.min("position").alias("m")).filter(
        F.col("m") != 0
    ).count() == 0


def test_audit_buckets(wrangled):
    _, _, _, audits = wrangled
    buckets = {r.bucket: r.n for r in audits["tag_keys"].collect()}
    assert buckets.get("lower_colon", 0) > 0  # addr:street etc.
    assert buckets.get("lower", 0) > 0  # amenity, phone
    assert buckets.get("problemchars", 0) > 0  # planted "bad key"
    street_types = {r.street_type for r in audits["street_types"].collect()}
    assert "St." in street_types and "Ave" in street_types


def test_street_cleaning(spark, wrangled):
    _, tables, _, _ = wrangled
    streets = tables["nodes_tags"].filter(
        (F.col("type") == "addr") & (F.col("key") == "street")
    )
    last_words = {
        r.w
        for r in streets.select(
            F.regexp_extract("value", r"(\S+\.?)$", 1).alias("w")
        ).collect()
    }
    # every messy abbreviation got normalized
    assert last_words <= {"Street", "Avenue", "Road", "Boulevard", "Drive", "Lane"}


def test_postcode_cleaning(spark, wrangled):
    _, tables, _, _ = wrangled
    posts = tables["nodes_tags"].filter(
        (F.col("type") == "addr") & (F.col("key") == "postcode")
    )
    bad = posts.filter(
        F.col("value").isNotNull() & ~F.col("value").rlike(r"^\d{5}$")
    )
    assert bad.count() == 0  # malformed → nulled
    assert posts.filter(F.col("value").isNull()).count() > 0


def test_shaped_documents(wrangled):
    _, _, docs, _ = wrangled
    row = docs.filter(F.col("address.street").isNotNull()).first()
    assert row.element_type == "node"
    assert len(row.pos) == 2
    assert row.created.user.startswith("mapper")
    schema_names = {f.name for f in docs.schema.fields}
    assert schema_names == {"id", "element_type", "pos", "created", "address", "tags"}


def test_sinks_roundtrip(spark, wrangled):
    d, tables, docs, _ = wrangled
    csv_nodes = (
        spark.read.option("header", True).csv(str(d / "out/csv/nodes"))
    )
    assert csv_nodes.count() == tables["nodes"].count()
    json_docs = spark.read.json(str(d / "out/json/documents"))
    assert json_docs.count() == docs.count()


def test_query_layer(wrangled):
    _, tables, _, _ = wrangled
    top = P.top_contributors(tables, k=5).collect()
    assert len(top) == 5
    assert top[0].n_contributions >= top[-1].n_contributions
    amen = P.top_amenities(tables).collect()
    assert {r.value for r in amen} <= {"cafe", "restaurant", "school", "library", "pharmacy"}


# -- run_pipeline fan-out: one parse per row tag, concurrent outputs --------

_EMPTY_TAGS_XML = """<?xml version="1.0" encoding="UTF-8"?>
<osm version="0.6">
<node id="1" lat="43.1" lon="-79.1" user="a" uid="1" version="1" changeset="1" timestamp="2024-01-01T00:00:00Z"/>
<node id="2" lat="43.2" lon="-79.2" user="b" uid="2" version="1" changeset="1" timestamp="2024-01-02T00:00:00Z"/>
<way id="10" user="a" uid="1" version="1" changeset="1" timestamp="2024-02-01T00:00:00Z">
  <nd ref="1"/>
  <nd ref="2"/>
</way>
</osm>
"""


def _persisted(sc) -> set[int]:
    return set(sc._jsc.getPersistentRDDs().keySet())


@pytest.fixture(scope="module")
def extract(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("osm_fanout")
    return d, generate_osm_xml(spark, SF, str(d), max_nodes=150)


def test_pipeline_parses_each_row_tag_once(spark, extract):
    import os

    d, path = extract
    with job_group(spark, "osm-fanout") as jobs:
        P.run_pipeline(spark, path, str(d / "once"))
    assert jobs
    # every job, including those submitted from the worker threads,
    # carries the caller's job group
    groups = {j.jobGroup().get() if j.jobGroup().isDefined() else None for j in jobs}
    assert groups == {"osm-fanout"}
    size = os.path.getsize(path)
    scans = {
        sd.stageId()
        for sd in stage_attempts(spark, jobs)
        if sd.status().toString() == "COMPLETE" and sd.inputBytes() == size
    }
    assert 1 <= len(scans) <= 2


def test_pipeline_leaves_nothing_persisted(spark, extract):
    d, path = extract
    sc = spark.sparkContext
    before = _persisted(sc)
    tables, docs, _ = P.run_pipeline(spark, path, str(d / "released"))
    assert _persisted(sc) == before
    # the returned frames read the raw XML: running them caches nothing
    assert tables["nodes"].count() == 150
    assert docs.count() == 150
    assert _persisted(sc) == before


def test_pipeline_failed_write_raises_after_other_outputs(spark, extract):
    d, path = extract
    sc = spark.sparkContext
    out = d / "blocked"
    out.mkdir()
    (out / "csv").write_text("a file where the csv/ directory must go\n")
    before = _persisted(sc)
    with pytest.raises(Py4JJavaError, match="ParentNotDirectoryException"):
        P.run_pipeline(spark, path, str(out))
    assert _persisted(sc) == before
    assert (out / "json" / "documents" / "_SUCCESS").exists()


def test_audits_are_local_and_match_raw_aggregations(spark, extract):
    d, path = extract
    _, _, audits = P.run_pipeline(spark, path, str(d / "audits"))
    with job_group(spark, "osm-audits") as jobs:
        got = {k: [tuple(r) for r in df.collect()] for k, df in audits.items()}
    assert jobs == []
    raw_tags = P.explode_tags(P.read_nodes(spark, path))
    want = {
        "tag_keys": P.audit_tag_keys(raw_tags),
        "street_types": P.audit_street_types(raw_tags),
    }
    assert sorted(got["tag_keys"]) == sorted(tuple(r) for r in want["tag_keys"].collect())
    assert got["street_types"] == [tuple(r) for r in want["street_types"].collect()]
    for k, df in audits.items():
        assert df.schema == want[k].schema


def test_audits_of_tagless_extract_are_typed_and_empty(spark, tmp_path):
    path = tmp_path / "tagless.osm"
    path.write_text(_EMPTY_TAGS_XML)
    tables, _, audits = P.run_pipeline(spark, str(path), str(tmp_path / "out"))
    assert tables["nodes"].count() == 2
    assert tables["ways_nodes"].count() == 2
    raw_tags = P.explode_tags(P.read_nodes(spark, str(path)))
    assert audits["tag_keys"].schema == P.audit_tag_keys(raw_tags).schema
    assert audits["street_types"].schema == P.audit_street_types(raw_tags).schema
    assert audits["tag_keys"].collect() == []
    assert audits["street_types"].collect() == []


# -- per-row documents against the explode → groupBy → pivot → join form --

def _reference_documents(nodes, clean_tags):
    """The documents as the pipeline shaped them before they became one
    per-row projection: explode → groupBy(id) → pivot → two joins. The
    `tags` map is keyed by the raw tag key, as `shape_documents` keys it."""
    addr = (
        clean_tags.filter((F.col("type") == "addr") & F.col("value").isNotNull())
        .groupBy("id")
        .pivot("key", ["street", "postcode"])
        .agg(F.first("value"))
    )
    other = (
        clean_tags.filter(F.col("type") != "addr")
        .groupBy("id")
        .agg(F.map_from_entries(F.collect_list(F.struct("raw_key", "value"))).alias("tags"))
    )
    return (
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


def _reference_clean_tags(raw_tags):
    """Street and postcode cleaning as the two DataFrame passes it was
    before it became one Column function (`tag_entries(clean=True)`)."""
    is_street = (F.col("type") == "addr") & (F.col("key") == "street")
    street_type = F.regexp_extract(F.col("value"), P.STREET_TYPE_RE, 1)
    mapping = F.create_map(*(F.lit(w) for pair in P.STREET_MAPPING.items() for w in pair))
    typed = raw_tags.withColumn("street_type", F.when(is_street, street_type)).withColumn(
        "clean", F.element_at(mapping, F.col("street_type"))
    )
    streets = typed.select(
        "id",
        "type",
        "key",
        F.when(
            is_street & F.col("clean").isNotNull(),
            F.concat(
                F.expr("substring(value, 1, length(value) - length(street_type))"),
                F.col("clean"),
            ),
        )
        .otherwise(F.col("value"))
        .alias("value"),
        "raw_key",
    )
    is_post = (F.col("type") == "addr") & (F.col("key") == "postcode")
    five = F.regexp_extract(F.col("value"), r"^(\d{5})\z", 1)
    return streets.withColumn(
        "value", F.when(is_post, F.when(five != "", five)).otherwise(F.col("value"))
    )


_NODE = (
    '<node id="{}" lat="43.{}" lon="-79.{}" user="u{}" uid="{}" version="1" '
    'changeset="1" timestamp="2024-01-01T00:00:00Z"'
)
_EDGE_TAGS = {
    1: [],  # no tags
    2: [("addr:street", "Oak Ave"), ("addr:postcode", "12345")],  # only addr
    3: [  # two addr:street; the first postcode is malformed
        ("addr:street", "Main St."),
        ("addr:street", "Lake Rd"),
        ("addr:postcode", "M5J 2N5"),
        ("addr:postcode", "54321"),
        ("amenity", "cafe"),
    ],
    4: [("addr:postcode", "M5J 2N5"), ("name", "Corner")],  # only postcode malformed
    5: [("bad key", "problem chars"), ("addr:street", "Harbor Blvd")],  # problem chars
    6: [  # colon keys, two sharing the sub-key 'county'
        ("tiger:county", "Erie, NY"),
        ("gnis:county", "Erie"),
        ("addr:city", "Buffalo"),
        ("a:b:c", "deep"),
        ("addr:street", "Broadway"),
    ],
}


def _write_extract(path, node_tags: dict) -> str:
    nodes = []
    for i, tags in node_tags.items():
        head = _NODE.format(i, i, i, i, i)
        if not tags:
            nodes.append(head + "/>\n")
            continue
        body = "".join(f'  <tag k="{k}" v="{v}"/>\n' for k, v in tags)
        nodes.append(f"{head}>\n{body}</node>\n")
    ids = sorted(node_tags)
    way = (
        '<way id="100" user="u" uid="1" version="1" changeset="1" '
        'timestamp="2024-02-01T00:00:00Z">\n'
        + "".join(f'  <nd ref="{i}"/>\n' for i in ids[:2])
        + '  <tag k="highway" v="residential"/>\n</way>\n'
    )
    path.write_text(
        '<?xml version="1.0" encoding="UTF-8"?>\n<osm version="0.6">\n'
        + "".join(nodes) + way + "</osm>\n"
    )
    return str(path)


def _rows(df, key="id"):
    return [r.asDict(recursive=True) for r in df.orderBy(key).collect()]


@pytest.fixture(scope="module")
def edge_extract(tmp_path_factory):
    return _write_extract(tmp_path_factory.mktemp("osm_edge") / "edge.osm", _EDGE_TAGS)


@pytest.mark.parametrize("which", ["generated", "edge"])
def test_per_row_shaping_matches_grouped_form(spark, extract, edge_extract, which):
    path = extract[1] if which == "generated" else edge_extract
    nodes = P.read_nodes(spark, path)
    cleaned = P.tag_entries(F.col("tag"), clean=True)
    clean_tags = _reference_clean_tags(P.explode_tags(nodes))
    # nodes_tags: the one Column function cleans as the two passes did
    got_tags = P.explode_tags(nodes, cleaned).select("id", "type", "key", "value", "raw_key")
    assert sorted(map(tuple, got_tags.collect()), key=repr) == sorted(
        map(tuple, clean_tags.collect()), key=repr
    )
    docs = P.shape_documents(nodes, cleaned)
    want = _reference_documents(nodes, clean_tags)
    assert docs.schema == want.schema
    assert _rows(docs) == _rows(want)


def test_edge_documents(spark, edge_extract):
    nodes = P.read_nodes(spark, edge_extract)
    docs = {r["id"]: r for r in _rows(P.shape_documents(nodes, P.tag_entries(F.col("tag"), clean=True)))}
    assert docs[1]["address"] == {"street": None, "postcode": None} and docs[1]["tags"] is None
    assert docs[2]["address"] == {"street": "Oak Avenue", "postcode": "12345"}
    assert docs[2]["tags"] is None  # only addr tags
    # the first entry of each key whose cleaned value is non-NULL
    assert docs[3]["address"] == {"street": "Main Street", "postcode": "54321"}
    assert docs[4]["address"] == {"street": None, "postcode": None}
    assert docs[4]["tags"] == {"name": "Corner"}
    assert docs[5]["tags"] == {"bad key": "problem chars"}
    assert docs[6]["tags"] == {"tiger:county": "Erie, NY", "gnis:county": "Erie", "a:b:c": "deep"}
    assert docs[6]["address"]["street"] == "Broadway"  # no mapped type: unchanged


def test_colliding_tag_subkeys_do_not_crash_pipeline(spark, tmp_path):
    path = _write_extract(
        tmp_path / "tiger.osm",
        {1: [("tiger:county", "Erie, NY"), ("gnis:county", "Erie")], 2: [("amenity", "cafe")]},
    )
    tables, docs, audits = P.run_pipeline(spark, path, str(tmp_path / "out"))
    got = {r["id"]: r["tags"] for r in _rows(spark.read.schema(docs.schema).json(str(tmp_path / "out/json/documents")))}
    assert got[1] == {"tiger:county": "Erie, NY", "gnis:county": "Erie"}
    assert got[2] == {"amenity": "cafe"}
    assert sorted(map(tuple, tables["nodes_tags"].filter("id = 1").collect())) == [
        (1, "county", "Erie", "gnis"),
        (1, "county", "Erie, NY", "tiger"),
    ]
    assert {r.bucket: r.n for r in audits["tag_keys"].collect()} == {"lower_colon": 2, "lower": 1}


def test_documents_plan_has_no_exchange_join_or_explode(spark, extract):
    nodes = P.read_nodes(spark, extract[1])
    docs = P.shape_documents(nodes, P.tag_entries(F.col("tag"), clean=True))
    plan = docs._jdf.queryExecution().executedPlan().toString()
    for op in ("Exchange", "Join", "Generate"):
        assert op not in plan, plan


def test_street_type_audit_sorts_without_a_range_shuffle(spark, extract):
    audit = P.audit_street_types(P.explode_tags(P.read_nodes(spark, extract[1])))
    plan = audit._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan, plan
    rows = [tuple(r) for r in audit.collect()]
    assert len(rows) > 1
    assert rows == sorted(rows, key=lambda r: (-r[1], r[0]))


def test_demo_summary_does_not_parse_the_xml_again(spark, tmp_path):
    import os

    from data_wrangling_openstreetmap_spark.operators.osm_demo import osm_wrangle_demo

    # the demo's extract: the same generator call on the same tables
    size = os.path.getsize(generate_osm_xml(spark, SF, str(tmp_path), max_nodes=300))
    summary = osm_wrangle_demo(spark, SF)
    with job_group(spark, "osm-demo-collect") as jobs:
        rows = summary.collect()
    assert {r.metric for r in rows} >= {"rows_nodes", "rows_documents", "tagkeys_lower"}
    inputs = [sd.inputBytes() for sd in stage_attempts(spark, jobs)]
    assert any(b > 0 for b in inputs)  # it reads the sinks
    assert size not in inputs


def test_audits_of_a_split_extract_match_raw_aggregations(spark, tmp_path):
    # two files, so the node scan has two partitions
    src = tmp_path / "split"
    src.mkdir()
    _write_extract(src / "a.osm", {i: t for i, t in _EDGE_TAGS.items() if i <= 3})
    _write_extract(src / "b.osm", {i: t for i, t in _EDGE_TAGS.items() if i > 3})
    nodes = P.read_nodes(spark, str(src))
    assert nodes.rdd.getNumPartitions() == 2
    _, _, audits = P.run_pipeline(spark, str(src), str(tmp_path / "out"))
    raw_tags = P.explode_tags(nodes)
    assert sorted(map(tuple, audits["tag_keys"].collect())) == sorted(
        map(tuple, P.audit_tag_keys(raw_tags).collect())
    )
    assert audits["street_types"].collect() == P.audit_street_types(raw_tags).collect()
    assert {r.bucket for r in audits["tag_keys"].collect()} == {
        "lower", "lower_colon", "problemchars", "other"
    }
