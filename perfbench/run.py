"""spark-graft benchmark: one workload per fresh process.

    python3 perfbench/run.py --workload similarity_build --seed 1 --seconds 5 --trace 0

Sets up a session with ``session.get_spark(cpus=<nproc>)`` and no other
conf, generates the workload's inputs, runs one cold pass and then
measured passes until ``--seconds`` have passed (at least two). One
caller runs every operation, the next only after the previous one
returns. Every result is checked outside the timed region.

Prints a JSON record of the run (seed, machine context, every pass and
operation, and with ``--trace 1`` every span) and, as the last line,
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
``--scale tiny`` is the self-test size.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

import machine

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_wrangling_openstreetmap_spark"
SCRATCH = os.path.join(ROOT, ".perfbench_tmp")

# Measured passes run until --seconds have passed, and at least this many.
MIN_MEASURED = 2

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "latency_p50_s": "s",
    "success_frac": "ratio",
}

# Per-pass medians over the measured passes; "<name>.cold" is the same
# quantity on the cold pass.
_PASS_METRICS = {
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.build_job_s": "s",
    "catalyst.plan_s": "s",
    "execute.job_s": "s",
    "execute.jobs": "count",
    "execute.stages": "count",
    "execute.tasks": "count",
    "execute.task_skew": "ratio",
    "execute.shuffle_write_mb": "MB",
    "execute.shuffle_read_mb": "MB",
    "execute.spill_mb": "MB",
    "io.input_mb": "MB",
    "io.output_mb": "MB",
    "io.files_written": "count",
    "python.stage_s": "s",
    "python.data_sent_mb": "MB",
    "python.data_returned_mb": "MB",
    "collect.transfer_s": "s",
    "collect.rows": "count",
    "sources.pipeline_s": "s",
    "sources.readback_s": "s",
    "streaming.stage_s": "s",
    "streaming.drain_s": "s",
    "streaming.batches": "count",
}
_COLD = (
    "operators.build_s",
    "operators.build_job_s",
    "catalyst.plan_s",
    "execute.job_s",
    "python.stage_s",
    "collect.transfer_s",
    "sources.pipeline_s",
    "sources.readback_s",
    "streaming.stage_s",
    "streaming.drain_s",
)
PER_LAYER = {
    "process.peak_rss_mb": "MB",
    "registry.import_s": "s",
    "session.start_s": "s",
    "python.worker_start_s": "s",
    **_PASS_METRICS,
    **{f"{m}.cold": _PASS_METRICS[m] for m in _COLD},
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full")
    p.add_argument(
        "--corrupt",
        default=None,
        help="self-test only: name of an operation whose results are altered before the check",
    )
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def main(argv=None) -> int:
    age_at_main = machine.process_age_s()
    t_main = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    signal.signal(signal.SIGTERM, _on_sigterm)
    os.makedirs(SCRATCH, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix="run-", dir=SCRATCH)
    # The Python workers import the package whatever the cwd; Spark's
    # local dirs and the JVM's temp files live in this run's own dir.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    jtmp = os.path.join(workdir, "jvm-tmp")
    os.makedirs(jtmp)
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={jtmp}"])
    )
    pre_setup = time.perf_counter() - t_main
    before = machine.snapshot()
    tracer = Tracer(enabled=bool(args.trace))
    try:
        with machine.PeakRss() as rss:
            spark, setup = _setup(tracer)
            setup_s = age_at_main + pre_setup + sum(setup.values())
            record = _run(args, spark, tracer, workdir, workloads)
            _shutdown()
        after = machine.snapshot()
    finally:
        _shutdown()
        shutil.rmtree(workdir, ignore_errors=True)

    record.update(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        scale=args.scale,
        trace=args.trace,
        setup=setup,
        machine={
            "nproc": nproc(),
            "defaultParallelism": record.pop("defaultParallelism"),
            "loadavg_before": before["loadavg"],
            "loadavg_after": after["loadavg"],
            "steal_s": (after["steal_ticks"] - before["steal_ticks"]) / os.sysconf("SC_CLK_TCK"),
            "ref_loop_s_before": before["ref_loop_s"],
            "ref_loop_s_after": after["ref_loop_s"],
        },
    )
    passes = record["passes"]
    ops = [o for p in passes for o in p["ops"]]
    failed = sum(1 for o in ops if not o["ok"])
    measured = passes[1:]
    by_op: dict[str, list[float]] = {}
    for p in measured:
        for o in p["ops"]:
            if o["ok"]:
                by_op.setdefault(o["op"], []).append(o["adjusted_s"])
    op_medians = [statistics.median(v) for v in by_op.values()]
    e2e = {
        "setup_s": setup_s,
        "cold_pass_s": passes[0]["adjusted_s"],
        "warm_pass_s": statistics.median(p["adjusted_s"] for p in measured),
        "latency_p50_s": statistics.median(op_medians) if op_medians else 0.0,
        "success_frac": (len(ops) - failed) / len(ops),
    }
    record["end_to_end"] = e2e
    record["peak_rss_mb"] = rss.peak_mb
    if args.trace:
        values = {"process.peak_rss_mb": rss.peak_mb, **setup}
        record["layers_per_pass"] = _layer_values(record)
        cold, measured = record["layers_per_pass"][0], record["layers_per_pass"][1:]
        values.update({m: statistics.median(p[m] for p in measured) for m in _PASS_METRICS})
        values.update({f"{m}.cold": cold[m] for m in _COLD})
        units = PER_LAYER
    else:
        values, units = e2e, END_TO_END
    print(json.dumps(record, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(ops),
                "failed": failed,
                "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


def _on_sigterm(*_) -> None:
    """Unwind like an error, so the session and the scratch dir go too;
    a second SIGTERM must not interrupt that cleanup."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sys.exit(128 + signal.SIGTERM)


def _shutdown() -> None:
    """Stop the session if one is up, then end the JVM (and with it the
    Python worker daemon) by closing its stdin, and wait for it to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.poll() is None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _setup(tracer):
    """Import and registration, session start, Python worker pool up.
    Returns the session and the three phase times, steal-adjusted."""
    out = {}
    clock = machine.StealClock()
    with tracer.span("registry.import"):
        from data_wrangling_openstreetmap_spark import registry
        from data_wrangling_openstreetmap_spark.session import get_spark

        registry.all_queries()
    out["registry.import_s"] = clock.stop()["adjusted_s"]
    clock = machine.StealClock()
    with tracer.span("session.start"):
        spark = get_spark(cpus=str(nproc()))
    out["session.start_s"] = clock.stop()["adjusted_s"]
    clock = machine.StealClock()
    with tracer.span("python.worker_start"):
        spark.range(8).mapInPandas(lambda it: it, "id long").collect()
    out["python.worker_start_s"] = clock.stop()["adjusted_s"]
    return spark, out


def _run(args, spark, tracer, workdir, workloads) -> dict:
    tracer.attach(spark)
    wl = workloads.WORKLOADS[args.workload](spark, tracer, workdir, args.scale, args.seed)
    timed = []
    t_measure = None
    while True:
        pass_no = len(timed)
        ops = wl.pass_ops(pass_no)
        exec_mark = tracer.sql_executions()
        with tracer.span("pass", pass_no=pass_no) as ps:
            clock = machine.StealClock()
            runs = [_timed(tracer, op) for op in ops]
            timing = clock.stop()
        timed.append((pass_no, ops, runs, timing, exec_mark, ps))
        if t_measure is None:
            t_measure = time.perf_counter()
        elif len(timed) > MIN_MEASURED and time.perf_counter() - t_measure >= args.seconds:
            break
    measured_s = time.perf_counter() - t_measure
    # Checks and status-store reads run after the last pass, outside
    # every timed region, so nothing but the workload runs between passes.
    passes = []
    marks = [t[4] for t in timed[1:]] + [tracer.sql_executions()]
    if args.trace:
        tracer.resolve(foreign_job_spans=("streaming.drain",))
    for (pass_no, ops, runs, timing, exec_mark, ps), end_mark in zip(timed, marks):
        rec = {
            **timing,
            "ops": [_checked(op, *r, corrupt=args.corrupt) for op, r in zip(ops, runs)],
            "files_written": wl.files_written(pass_no),
        }
        if args.trace:
            rec["python"] = tracer.python_crossing(exec_mark, end_mark)
            rec["span"] = ps.id
        passes.append(rec)
    out = {
        "passes": passes,
        "measured_s": measured_s,
        "defaultParallelism": spark.sparkContext.defaultParallelism,
    }
    if args.trace:
        out["spans"] = [
            {"id": s.id, "name": s.name, "parent": s.parent, "t0": s.t0, "t1": s.t1, **s.attrs}
            for s in tracer.spans
        ]
    return out


def _timed(tracer, op) -> tuple:
    """Run one operation; returns (result, timing, error)."""
    clock = machine.StealClock()
    try:
        with tracer.span("op", op=op.name):
            result = op.run()
    except Exception:
        return None, clock.stop(), traceback.format_exc(limit=3)
    return result, clock.stop(), None


def _checked(op, result, timing, error, corrupt=None) -> dict:
    if error is None:
        if corrupt == op.name:
            result = _corrupted(result)
        try:
            if not op.check(result):
                error = "result differs from expectation"
        except Exception:
            error = traceback.format_exc(limit=3)
    out = {"op": op.name, **timing, "ok": error is None}
    if error:
        out["error"] = error
    return out


def _corrupted(result):
    """A result with one row dropped (or, for a non-tabular result, an
    unrelated value), so a working check must reject it."""
    if isinstance(result, tuple) and len(result) == 2 and isinstance(result[1], list):
        return result[0], result[1][1:]
    if isinstance(result, dict):
        return {k: v[1:] for k, v in result.items()}
    return "corrupted"


def _layer_values(record: dict) -> list[dict]:
    """Per-layer metrics of each pass, from the span tree."""
    from spans import Span, covered

    spans = [
        Span(s["id"], s["name"], s["parent"], s["t0"], s["t1"], attrs=s) for s in record["spans"]
    ]
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)

    def descendants(root: Span):
        todo = list(kids.get(root.id, []))
        while todo:
            s = todo.pop()
            yield s
            todo.extend(kids.get(s.id, []))

    per_pass = []
    for rec in record["passes"]:
        root = spans[rec["span"]]
        v = dict.fromkeys(_PASS_METRICS, 0.0)
        jobs_exec = []
        batches = set()
        for s in descendants(root):
            name = s.name
            jobs = [k for k in kids.get(s.id, []) if k.name == "spark.job"]
            if name == "operators.build":
                v["operators.build_s"] += s.dur
                v["operators.build_jobs"] += len(jobs)
                v["operators.build_job_s"] += covered(jobs, s.t0, s.t1)
            elif name != "spark.job" and jobs:
                v["execute.job_s"] += covered(jobs, s.t0, s.t1)
                jobs_exec.extend(jobs)
            if name == "collect":
                v["catalyst.plan_s"] += s.attrs.get("plan_s", 0.0)
                v["collect.transfer_s"] += s.dur - covered(jobs, s.t0, s.t1)
                v["collect.rows"] += s.attrs.get("rows", 0)
            elif name in ("sources.pipeline", "sources.readback", "streaming.stage", "streaming.drain"):
                v[name + "_s"] += s.dur
            if name == "streaming.drain":
                # A micro-batch's jobs carry "batch = <id>" in their description.
                for j in jobs:
                    batches.update(re.findall(r"batch = (\d+)", j.attrs.get("desc") or ""))
            if name == "spark.job":
                a = s.attrs
                v["execute.shuffle_write_mb"] += a["shuffle_write_b"] / 2**20
                v["execute.shuffle_read_mb"] += a["shuffle_read_b"] / 2**20
                v["execute.spill_mb"] += a["spill_b"] / 2**20
                v["io.input_mb"] += a["input_b"] / 2**20
                v["io.output_mb"] += a["output_b"] / 2**20
                v["python.stage_s"] += a["python_ms"] / 1000.0
        v["execute.jobs"] = len(jobs_exec)
        v["execute.stages"] = sum(j.attrs["stages"] for j in jobs_exec)
        v["execute.tasks"] = sum(j.attrs["tasks"] for j in jobs_exec)
        skews = [j.attrs["skew"] for j in jobs_exec if j.attrs["tasks"] >= 2]
        v["execute.task_skew"] = statistics.median(skews) if skews else 1.0
        v["streaming.batches"] = len(batches)
        v["io.files_written"] = rec["files_written"]
        py = rec["python"]
        v["python.data_sent_mb"] = py["sent_b"] / 2**20
        v["python.data_returned_mb"] = py["returned_b"] / 2**20
        per_pass.append(v)
    return per_pass


if __name__ == "__main__":
    sys.exit(main())
