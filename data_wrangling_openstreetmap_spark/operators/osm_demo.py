"""Graded wrapper for the OSM wrangling demo layer (S2, S4, S5, P3–P5,
U5 surface).

The oracle's DuckDB views only cover the ten parquet tables, and this
pipeline's input is generated XML — so the query is rows-only graded
(deterministic: same sf_dir ⇒ same XML ⇒ same summary); the real
assertions live in tests/test_osm_pipeline.py.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.osm_gen import generate_osm_xml
from ..sources.osm_pipeline import run_pipeline


@register("osm_wrangle_demo", oracle=None, tags=("S2", "S4", "S5", "P3", "P4", "P5"))
def osm_wrangle_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end wrangle of a generated OSM extract: XML ingest →
    tag-key audit → street/postcode cleaning → nested shaping →
    relational flatten → CSV/JSON sinks; returns a (metric, value)
    summary of every stage.

    Oracle conversion CLOSED (VERDICT r7 §Next #6): the pipeline
    generates its own XML extract in a temp dir at run time, so DuckDB
    has no stable table to query; every relational stage it chains is
    individually driver-graded (s2/p3/p4/p5/s4/s5 carriers).
    """
    workdir = tempfile.mkdtemp(prefix="osm_demo_")
    osm_path = generate_osm_xml(spark, sf_dir, workdir, max_nodes=300)
    out_dir = f"{workdir}/out"
    tables, docs, audits = run_pipeline(spark, osm_path, out_dir=out_dir)
    # row counts come from the sinks just written, not from the lazy
    # frames, so the summary does not parse the XML again
    sinks = {
        name: spark.read.schema(df.schema).option("header", True).csv(f"{out_dir}/csv/{name}")
        for name, df in tables.items()
    }
    sinks["documents"] = spark.read.schema(docs.schema).json(f"{out_dir}/json/documents")
    parts = [
        df.select(F.lit(f"rows_{name}").alias("metric"), F.count("*").alias("value"))
        for name, df in sinks.items()
    ]
    parts.append(
        audits["tag_keys"].select(
            F.concat(F.lit("tagkeys_"), F.col("bucket")).alias("metric"),
            F.col("n").cast("long").alias("value"),
        )
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
