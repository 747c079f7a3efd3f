"""``tools.query_loop.record``: each query's build is charged its own
Spark jobs, however many jobs the session ran before it; ``sweep``
prints one record per name, not its untimed warm-up record."""

from __future__ import annotations

import argparse
import json

from data_wrangling_openstreetmap_spark.registry import REGISTRY
from tools.query_loop import _sweep, record


def test_record_charges_each_build_only_its_own_jobs(spark, sf_dir, monkeypatch):
    monkeypatch.delenv("DWOS_FULL_PLAN", raising=False)
    # l2_dup_clusters' build fires each label-propagation round's
    # checkpoint jobs; l2_jaccard_pairs' fires at most two (test_round12_opt)
    recs = [record(spark, name, sf_dir)[0] for name in ("l2_dup_clusters", "l2_jaccard_pairs")]
    for rec in recs:
        assert rec["err"] is None, rec
        assert rec["rows"] == len(REGISTRY[rec["name"]].fn(spark, sf_dir).collect())
        # the collect's Spark jobs run inside the action that collect_s times
        assert 0 <= rec["exec_s"] <= rec["collect_s"], rec
    assert recs[0]["build_jobs"] > 2
    assert recs[1]["build_jobs"] <= 2, recs[1]


def test_sweep_prints_one_record_per_name(spark, sf_dir, monkeypatch, capsys):
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    names = ["a2_global_agg", "a11_stats_agg"]
    assert _sweep(spark, argparse.Namespace(names=names)) == 0
    recs = [json.loads(line) for line in capsys.readouterr().out.splitlines()]
    assert [r["name"] for r in recs] == names
