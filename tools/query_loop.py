"""One query loop for bench.py and the registry tools.

Every loop here builds a registered query fresh and runs one action on
it through ``record``. The build's and the action's Spark jobs run
under job groups named after the query and phase, and their stages are
read back from Spark's status store once the action has returned, so a
record says where a query's time went and which jobs its build fired.

    python -m tools.query_loop sweep [name ...]
    python -m tools.query_loop verify name [name ...] [--sfs 0.001,0.01,0.1]
    python -m tools.query_loop probe [hostile] [full]
    python -m tools.query_loop arrival [sf_dir]

- ``sweep`` builds and collects every registered query (or the named
  ones) once at ``$SPARK_GRAFT_SF_DIR`` (default sf0.1) and prints one
  JSON record per query on stdout, after one unprinted record of the
  first name that warms the session; progress and a summary with the
  machine context go to stderr.
- ``verify`` checks driver-strict oracle parity (schema + rows) of the
  named queries at each scale factor; rows > 0 for oracle-less ones.
- ``probe`` drives ``__spark_entry__`` as the grading driver does, on
  an untuned session: plain ``local[$SPARK_GRAFT_CPUS]``, or hostile
  (``local[32]``, Spark's default 200 shuffle partitions, a
  trailing-slash sf_dir and a reloaded entry module). It runs the
  50-query DRIVER_WINDOW, or every query with ``full``.
- ``arrival`` runs every registered query twice at sf0.01, once with
  every table re-partitioned and intra-partition-sorted by a
  whole-row hash (the tests/test_arrival_order.py scramble), and
  reports each query whose result multiset changes. No query is exempt.

``sweep``, ``verify`` and ``arrival`` run on ``session.get_spark``
(``local[$SPARK_GRAFT_CPUS]``; ``arrival`` with the test suite's 8
shuffle partitions). Each exits 1 on any error or mismatch.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time
from contextlib import contextmanager

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from py4j.protocol import Py4JJavaError  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

from data_wrangling_openstreetmap_spark.registry import REGISTRY, _ensure_loaded  # noqa: E402
from data_wrangling_openstreetmap_spark.session import get_spark  # noqa: E402


def start(kind: str = "tuned", shuffle_partitions: int | None = None) -> SparkSession:
    """Open a session and start its Python workers, so the first query
    that crosses into Python does not pay ~2 s of interpreter start-up.

    ``tuned`` is ``session.get_spark``. ``plain`` and ``hostile`` are
    untuned, as a grading driver's session is."""
    if kind == "tuned":
        spark = get_spark(shuffle_partitions=shuffle_partitions)
    else:
        cpus = "32" if kind == "hostile" else os.environ.get("SPARK_GRAFT_CPUS", "*")
        builder = SparkSession.builder.master(f"local[{cpus}]")
        if kind == "hostile":
            builder = builder.config("spark.sql.shuffle.partitions", "200")
        spark = builder.getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
    spark.range(32).mapInPandas(lambda it: it, "id long").collect()
    return spark


def loadavg() -> list[float] | None:
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except OSError:
        return None


def machine(spark) -> dict:
    """Load context for a run: the same commit has measured 1.36–1.87 s
    across sessions purely from external load. Beside /proc/loadavg it
    times a fixed reference micro-op, one JVM-only agg over a generated
    range, best of 5: if ``ref_microop_s`` moved by the same factor as
    the totals, it is the machine, not the plans."""
    load = loadavg()
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        spark.range(1_000_000).selectExpr("sum(id * 3 + 1)").collect()
        best = min(best, time.perf_counter() - t0)
    sc = spark.sparkContext
    cpus = sc.master.removeprefix("local[").removesuffix("]")
    return {
        "loadavg": load,
        "ref_microop_s": round(best, 4),
        # the local[N] the session runs on and what Spark made of it, so
        # a reader can check the core count was honoured
        "cpus": int(cpus) if cpus.isdigit() else cpus,
        "defaultParallelism": sc.defaultParallelism,
    }


def scale(sf_dir: str) -> float | str:
    """The scale factor an ``.../sf<N>`` directory holds."""
    tail = os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")
    try:
        return float(tail)
    except ValueError:
        return tail


# -- job attribution ------------------------------------------------------


def _store(spark):
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    return jsc.statusStore()


@contextmanager
def job_group(spark, group: str):
    """Run the body under job group ``group``. When the body returns,
    the yielded list holds the status-store data of every job submitted
    meanwhile, oldest first, leaving out those of streaming queries still
    running in the session (their job group is the query's run id)."""
    sc = spark.sparkContext
    newest = _store(spark).jobsList(None).headOption()  # newest job first
    last = newest.get().jobId() if newest.isDefined() else -1
    sc.setJobGroup(group, group)
    jobs: list = []
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    streams = None
    it = _store(spark).jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        if j.jobId() <= last:
            break
        other = j.jobGroup()
        if other.isDefined() and other.get() != group:
            if streams is None:
                streams = {str(q.runId) for q in spark.streams.active}
            if other.get() in streams:
                continue
        jobs.append(j)
    jobs.reverse()


def stage_attempts(spark, jobs: list) -> list:
    """Status-store data of the last attempt of every stage of ``jobs``
    that ran. Past ``spark.ui.retainedStages`` the store evicts SKIPPED
    stages first, whatever their age, then the oldest completed ones, so
    a job that has just run can list a stage the store no longer holds:
    one it skipped, or one an earlier job ran. Such a stage ran no task
    in this job. Every stage a job ran must still be there. A skipped
    stage that several jobs list counts as skipped in one of them only,
    so the bound is on the stages a job did not run, not on
    ``numSkippedStages``."""
    store = _store(spark)
    out = []
    for j in jobs:
        sids = j.stageIds()
        missing = 0
        for i in range(sids.size()):
            try:
                out.append(store.lastStageAttempt(sids.apply(i)))
            except Py4JJavaError as e:
                if "NoSuchElementException" not in str(e.java_exception):
                    raise
                missing += 1
        assert missing <= sids.size() - j.numCompletedStages() - j.numFailedStages()
    return out


def _stage_totals(spark, jobs: list) -> dict:
    """Stage, task, shuffle and spill totals over the stages of ``jobs``
    that completed, and the max and median task time of the stage that
    holds the slowest task."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    stages = {
        sd.stageId(): sd
        for sd in stage_attempts(spark, jobs)
        if sd.status().toString() == "COMPLETE"
    }
    quantiles = sc._gateway.new_array(sc._jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    out = dict.fromkeys(("tasks", "shuffle_read_b", "shuffle_write_b", "spill_b"), 0)
    top = med = 0
    # no task runs longer than its whole stage: visit stages by falling
    # run time, and summarize only those that can hold a slower task
    for run_ms, sd in sorted(((sd.executorRunTime(), sd) for sd in stages.values()), key=lambda x: -x[0]):
        n = sd.numCompleteTasks()
        out["tasks"] += n
        out["shuffle_read_b"] += sd.shuffleReadBytes()
        out["shuffle_write_b"] += sd.shuffleWriteBytes()
        out["spill_b"] += sd.diskBytesSpilled()
        if run_ms <= top or n == 0:
            continue
        if n == 1:
            top = med = run_ms
            continue
        dist = store.taskSummary(sd.stageId(), sd.attemptId(), quantiles)
        if dist.isDefined():
            run = dist.get().executorRunTime()
            if run.apply(1) > top:
                med, top = run.apply(0), run.apply(1)
    return {"stages": len(stages), **out, "task_max_ms": int(top), "task_median_ms": int(med)}


def _span_s(jobs: list) -> float:
    """Seconds from the first submission to the last completion of
    ``jobs``, by the scheduler's clock; 0 when no job ran."""
    starts = [j.submissionTime().get().getTime() for j in jobs if j.submissionTime().isDefined()]
    ends = [j.completionTime().get().getTime() for j in jobs if j.completionTime().isDefined()]
    return (max(ends) - min(starts)) / 1000 if starts and ends else 0.0


def record(spark, name: str, sf_dir: str, action=lambda df: df.collect()):
    """Build registered query ``name`` fresh at ``sf_dir`` and run
    ``action`` on the frame, each phase under a job group named
    ``<name>:build`` / ``<name>:collect``.

    A fresh build per record keeps plan construction and the full
    execution in every timing: re-running one DataFrame object lets
    Spark silently reuse its shuffle stages (measured: 35 s → 0.08 s on
    q10). ``plan_s`` is Catalyst's optimization and physical planning,
    forced before the action, which then runs the planned query.
    ``collect_s`` is the action; ``exec_s`` the span of its Spark jobs,
    so ``collect_s - exec_s`` is the result's transfer into Python.

    Returns ``(rec, df, out)``: a JSON-able record, the built frame and
    the action's result. If the build or the action raised, ``rec["err"]``
    says how and ``df``/``out`` are None where not reached. ``store_s``
    is the time the record spent outside the query, on job groups and
    status-store reads."""
    _ensure_loaded()
    rec = {
        "name": name,
        "sf": scale(sf_dir),
        "build_s": None,
        "plan_s": None,
        "collect_s": None,
        "exec_s": None,
        "build_jobs": None,
        "collect_jobs": None,
        "rows": None,
        "err": None,
    }
    df = out = None
    t_start = time.perf_counter()
    try:
        with job_group(spark, f"{name}:build") as build:
            t0 = time.perf_counter()
            df = REGISTRY[name].fn(spark, sf_dir)
            t1 = time.perf_counter()
        with job_group(spark, f"{name}:collect") as collect:
            t2 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t3 = time.perf_counter()
            out = action(df)
            t4 = time.perf_counter()
        rec.update(
            build_s=round(t1 - t0, 4),
            plan_s=round(t3 - t2, 4),
            collect_s=round(t4 - t3, 4),
            exec_s=round(_span_s(collect), 4),
            build_jobs=len(build),
            collect_jobs=len(collect),
            rows=len(out),
        )
        rec.update(_stage_totals(spark, build + collect))
        rec["store_s"] = round(time.perf_counter() - t_start - (t1 - t0) - (t4 - t2), 4)
    except Exception as exc:  # noqa: BLE001 - a loop records and continues
        rec["err"] = f"{type(exc).__name__}: {exc}"[:500]
    return rec, df, out


# -- subcommands ----------------------------------------------------------


def _sweep(spark, args) -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    ctx = machine(spark)
    names = args.names or sorted(REGISTRY)
    keys = ("build_s", "plan_s", "collect_s", "exec_s", "build_jobs", "collect_jobs", "store_s")
    totals = dict.fromkeys(keys, 0)
    errors = 0
    # an untimed first record takes the session-first costs (class
    # loading, JIT, first reads), which would otherwise go to names[0]
    record(spark, names[0], sf_dir)
    t0 = time.perf_counter()
    for i, name in enumerate(names, 1):
        rec = record(spark, name, sf_dir)[0]
        rec.update(cpus=ctx["cpus"], defaultParallelism=ctx["defaultParallelism"])
        print(json.dumps(rec), flush=True)
        errors += rec["err"] is not None
        for k in keys:
            totals[k] += rec.get(k) or 0
        took = rec["err"] or f"{rec['build_s']} + {rec['plan_s']} + {rec['collect_s']} s"
        print(f"[{i}/{len(names)}] {name}: {took}", file=sys.stderr, flush=True)
    summary = {
        "sf_dir": sf_dir,
        "queries": len(names),
        "errors": errors,
        "wall_s": round(time.perf_counter() - t0, 2),
        **{k: round(v, 2) for k, v in totals.items()},
        **ctx,
        "loadavg_after": loadavg(),
    }
    print(json.dumps(summary), file=sys.stderr)
    return 1 if errors else 0


def _verify(spark, args) -> int:
    from data_wrangling_openstreetmap_spark import oracle as O

    ok = n = 0
    for name in args.names:
        oracle = REGISTRY[name].oracle
        for sf in args.sfs.split(","):
            sf_dir = f"/root/testdata/sf{sf}"
            rec, _, pdf = record(spark, name, sf_dir, lambda df: df.toPandas())
            if rec["err"]:
                problems = [rec["err"]]
            elif oracle is None:  # rows-only, as the driver grades it
                problems = [] if len(pdf) else ["no rows"]
            else:
                problems = O.strict_compare_frames(pdf, O.run_oracle_df(oracle, sf_dir))
            n += 1
            ok += not problems
            kind = "rows-only" if oracle is None else "parity"
            secs = rec["err"] or f"{rec['build_s'] + rec['plan_s'] + rec['collect_s']:.2f}s"
            print(f"  {name} sf{sf}: {'MISMATCH' if problems else kind + ' OK'}, rows={rec['rows']} ({secs})")
            for p in problems:
                print(f"    {p}")
    print(f"VERIFY: {ok}/{n} OK")
    return 0 if ok == n else 1


def _collect_tuples(df):
    return [tuple(r) for r in df.collect()]


def _probe(spark, args) -> int:
    import __spark_entry__ as entry
    from data_wrangling_openstreetmap_spark.operators import DRIVER_WINDOW
    from data_wrangling_openstreetmap_spark.oracle import compare, run_oracle

    hostile = "hostile" in args.flags
    sf = "/root/testdata/sf0.01"
    if hostile:
        importlib.reload(entry)  # a second import must not double-register
        sf += "/"
    qs, oracles = entry.queries(), entry.oracle_sql()
    names = list(qs) if "full" in args.flags else list(DRIVER_WINDOW)
    bad, n = [], 0
    for name in names:
        rec, df, rows = record(spark, name, sf, _collect_tuples)
        if rec["err"]:
            bad.append((name, f"raised {rec['err']}"))
            continue
        n += 1
        if name in oracles:
            problems = compare(df.columns, rows, *run_oracle(oracles[name], sf))
            if problems:
                bad.append((name, problems))
    label = ("HOSTILE" if hostile else "PLAIN") + (" FULL-REGISTRY" if "full" in args.flags else " WINDOW")
    print(f"{label} PROBE: {n} run")
    print("MISMATCHES:", bad or "none")
    return 1 if bad else 0


def _arrival(spark, args) -> int:
    from data_wrangling_openstreetmap_spark.operators import ALL_MODULES
    from tests.test_arrival_order import _rows, _scrambling_load_table

    originals = {mod: mod.load_table for mod in ALL_MODULES if hasattr(mod, "load_table")}
    stable, diffs, errs = [], [], []
    t0 = time.time()
    for i, name in enumerate(REGISTRY, 1):
        try:
            base, _, baseline = record(spark, name, args.sf_dir, _rows)
            for mod in originals:
                mod.load_table = _scrambling_load_table
            scram, _, scrambled = record(spark, name, args.sf_dir, _rows)
        finally:
            for mod, orig in originals.items():
                mod.load_table = orig
        err = base["err"] or scram["err"]
        if err:
            errs.append(f"{name}: {err}")
        elif baseline == scrambled:
            stable.append(name)
        else:
            diffs.append(name)
        if i % 50 == 0:
            print(
                f"[{i}/{len(REGISTRY)}] {time.time() - t0:.0f}s "
                f"stable={len(stable)} diff={len(diffs)} err={len(errs)}",
                flush=True,
            )
    print(
        f"\nARRIVAL-ORDER AUDIT: {len(stable)}/{len(REGISTRY)} stable, "
        f"diffs={diffs}, errors={len(errs)} ({time.time() - t0:.0f}s)"
    )
    for e in errs:
        print("ERR", e)
    return 1 if (diffs or errs) else 0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(prog="python -m tools.query_loop", description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    sub.add_parser("sweep").add_argument("names", nargs="*")
    verify = sub.add_parser("verify")
    verify.add_argument("names", nargs="+")
    verify.add_argument("--sfs", default="0.001,0.01,0.1")
    sub.add_parser("probe").add_argument("flags", nargs="*", help="hostile, full")
    sub.add_parser("arrival").add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    args = ap.parse_args(argv)

    _ensure_loaded()
    if args.cmd == "probe":
        spark = start("hostile" if "hostile" in args.flags else "plain")
    else:
        spark = start(shuffle_partitions=8 if args.cmd == "arrival" else None)
    try:
        return {"sweep": _sweep, "verify": _verify, "probe": _probe, "arrival": _arrival}[args.cmd](spark, args)
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
