"""``operators._helpers.fixpoint``, the one loop behind g3, g9 and
l2_dup_clusters, on planted inputs. At sf0.1 l2_dup_clusters and g9
return no rows, so their parity there moves no label and peels no
edge; these cases cover convergence, the round cap, the empty frame
and the jobs a round fires."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_wrangling_openstreetmap_spark.operators._helpers import fixpoint
from tools.query_loop import job_group


def _counted(step):
    """``step`` that counts its calls in ``.calls``."""

    def wrapped(df):
        wrapped.calls += 1
        return step(df)

    wrapped.calls = 0
    return wrapped


def test_min_label_on_a_path_converges_after_n_minus_1_changing_rounds(spark):
    n = 6
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)] + [(i + 1, i) for i in range(n - 1)],
        "src long, dst long",
    )
    labels = spark.createDataFrame([(i, i) for i in range(n)], "doc_id long, label long")

    def propagate(labels):
        nbr_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_min"))
        )
        least = F.least(F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label")))
        return labels.join(nbr_min, labels.doc_id == nbr_min.src, "left").select(
            "doc_id", least.alias("label")
        )

    step = _counted(propagate)
    out = fixpoint(labels, step, F.sum(F.col("label").cast("decimal(38,0)")), 20)
    # node k takes label 0 in round k; round n moves no label and stops
    assert step.calls - 1 == n - 1
    assert sorted(tuple(r) for r in out.collect()) == [(i, 0) for i in range(n)]


def test_a_step_that_never_converges_stops_at_max_rounds(spark):
    step = _counted(lambda df: df.select((F.col("v") + 1).alias("v")))
    out = fixpoint(spark.createDataFrame([(0,)], "v long"), step, F.sum("v"), 3)
    assert step.calls == 3
    assert out.collect()[0].v == 3


def test_an_empty_frame_stops_after_one_round(spark):
    step = _counted(lambda df: df)
    empty = spark.createDataFrame([], "label long")
    out = fixpoint(empty, step, F.sum(F.col("label").cast("decimal(38,0)")), 20)
    # the sum of no rows is NULL, and a NULL metric equals a NULL one
    assert step.calls == 1
    assert out.count() == 0


def test_each_round_fires_only_its_checkpoint_job(spark):
    start = spark.range(0, 4, 1, numPartitions=1).select(F.col("id").alias("v"))
    step = _counted(lambda df: df.select(F.least(F.col("v") + 1, F.lit(5)).alias("v")))
    with job_group(spark, "fixpoint-jobs") as jobs:
        fixpoint(start, step, F.sum("v"), 20)
    # v rises to 5 in 5 rounds; the 6th leaves the sum as it was
    assert step.calls == 6
    assert len(jobs) == step.calls + 1, [j.name() for j in jobs]
