"""OSM wrangling-layer tests: XML ingest, audit, cleaning, shaping,
flattening, sinks, and the exploratory query layer — the reference's
lifecycle, asserted stage by stage."""

from __future__ import annotations

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from data_wrangling_openstreetmap_spark.sources.osm_gen import generate_osm_xml
from data_wrangling_openstreetmap_spark.sources import osm_pipeline as P

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


def _last_job_id(sc) -> int:
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)


def _jobs_since(spark, last_job: int) -> list:
    """Status-store job data of every job submitted after ``last_job``,
    leaving out those of streaming queries still running in the session
    (their job group is the query's run id)."""
    sc = spark.sparkContext
    streams = {str(q.runId) for q in spark.streams.active}
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    return [
        j
        for j in (jobs.apply(i) for i in range(jobs.size()))
        if j.jobId() > last_job
        and not (j.jobGroup().isDefined() and j.jobGroup().get() in streams)
    ]


def _in_group(spark, group: str, fn):
    """Run ``fn()`` with the caller's job group set to ``group``; return
    its result and the status-store data of the jobs it fired."""
    sc = spark.sparkContext
    last = _last_job_id(sc)
    sc.setJobGroup(group, "osm pipeline test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, _jobs_since(spark, last)


@pytest.fixture(scope="module")
def extract(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("osm_fanout")
    return d, generate_osm_xml(spark, SF, str(d), max_nodes=150)


def test_pipeline_parses_each_row_tag_once(spark, extract):
    import os

    d, path = extract
    _, jobs = _in_group(
        spark, "osm-fanout", lambda: P.run_pipeline(spark, path, str(d / "once"))
    )
    assert jobs
    # every job, including those submitted from the worker threads,
    # carries the caller's job group
    groups = {j.jobGroup().get() if j.jobGroup().isDefined() else None for j in jobs}
    assert groups == {"osm-fanout"}
    store = spark.sparkContext._jsc.sc().statusStore()
    size = os.path.getsize(path)
    scans = set()
    for j in jobs:
        sids = j.stageIds()
        for i in range(sids.size()):
            sd = store.lastStageAttempt(sids.apply(i))
            if sd.status().toString() == "COMPLETE" and sd.inputBytes() == size:
                scans.add(sd.stageId())
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
    got, jobs = _in_group(
        spark, "osm-audits", lambda: {k: [tuple(r) for r in df.collect()] for k, df in audits.items()}
    )
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
