from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("DWOS_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from data_wrangling_openstreetmap_spark.session import get_spark

    spark = get_spark(app_name="dwos-tests", cpus=None, shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_ORACLE


class SmokeBuilds:
    """Memoized query construction at sf0.001, shared across the golden
    module and the plan-shape sweeps (round-10 suite-time trim: each
    previously built all ~490 plans independently — construction is
    pure plan assembly plus, for the sink/iterative queries, their
    construction-time work, so one shared build per session is
    semantically identical). Two invariants make the sharing sound:

    - every build runs under DWOS_FULL_PLAN=1, whichever module builds
      first — the plan sweeps need untruncated lineage (a
      ckpt-truncated plan hides its prefix, the round-8 vacuous-pass
      class) and ckpt is value-neutral, so the golden module reads
      identical rows from the full-plan form;
    - the simple-mode plan STRING is snapshotted AT CONSTRUCTION,
      before any module executes the frame — executing under AQE
      rewrites explain() output to the final adaptive plan, which
      would otherwise make sweep assertions depend on module order.

    A third invariant the sharing leans on (ADVICE r10): NO RE-COLLECT
    AFTER A LATER REBUILD. Construction has side effects for the
    sink/catalog queries (temp views, external sink paths, the s13
    catalog table) and mutates os.environ around each build; a
    memoized frame stays correct only because (a) modules consume it
    in the current serial, alphabetical order, and (b) no module
    re-collects a memoized frame after another path (a fresh-plan test
    or a later SF) rebuilds the same query and re-points its shared
    names. s13 now derives a unique catalog table per construction
    (removing the sharpest instance), but temp-view names are still
    session-global — if a future module needs to rebuild-and-collect
    the same sink query at another SF, collect-and-cache rows at build
    time here instead of re-reading the memoized frame.

    Tests that must construct FRESH plans (arrival scrambles,
    hostile-config probes, sf0.1 order sweeps) keep calling
    ``REGISTRY[name].fn`` directly."""

    def __init__(self, spark):
        self._spark = spark
        self._dfs: dict = {}
        self._plans: dict = {}

    def _build(self, name: str) -> None:
        if name in self._dfs:
            return
        from data_wrangling_openstreetmap_spark.plans import plan_string
        from data_wrangling_openstreetmap_spark.registry import REGISTRY

        old = os.environ.get("DWOS_FULL_PLAN")
        os.environ["DWOS_FULL_PLAN"] = "1"
        try:
            df = REGISTRY[name].fn(self._spark, SF_SMOKE)
        finally:
            if old is None:
                os.environ.pop("DWOS_FULL_PLAN", None)
            else:
                os.environ["DWOS_FULL_PLAN"] = old
        self._plans[name] = plan_string(df, mode="simple")
        self._dfs[name] = df

    def df(self, name: str):
        self._build(name)
        return self._dfs[name]

    def plan(self, name: str) -> str:
        """Pre-execution simple-mode plan snapshot."""
        self._build(name)
        return self._plans[name]

    # keep the original callable form for df access
    def __call__(self, name: str):
        return self.df(name)


@pytest.fixture(scope="session")
def built_smoke(spark):
    return SmokeBuilds(spark)
