#!/usr/bin/env python3
"""End-to-end benchmark: one workload, one seed, one fresh JVM.

    python3 e2ebench/run.py --workload query_session --seed 1 --seconds 3 --trace 0

Run from the root of a checkout. The run

1. generates the workload's inputs from ``--seed`` (cached per seed under
   ``.e2ebench/data``) and evaluates the checks' reference answers;
2. sets up: ``get_spark`` on ``local[nproc]``, catalog load, and the
   workload's fixed number of warm-up ops (``setup_s`` covers exactly these);
3. runs ops as a closed loop with one client for ``--seconds``, on to the
   end of the workload's pass (1, 2 or 24 ops), checking every op's output
   outside its timed region;
4. prints a human-readable summary, then, as the last stdout line, one JSON
   object with ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones. A traced run traces every other op, starting with the first, so its
first pass is traced where an untraced run times it, and it also reports the
tracing overhead (traced minus untraced op time).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)  # the engine, and the oracle gate in tests/

try:
    import tracing
    from workloads import HEADLINE, HEAVY, WORKLOADS, OpStats
except ImportError as e:  # not inside a checkout of the repo
    sys.exit(f"e2ebench: {e}; run from the root of a full checkout")

#: (name, unit) of the end-to-end metrics a ``--trace 0`` run reports
END_TO_END = (
    ("setup_s", "s"),
    ("op_p50_s", "s"),
    ("op_p90_s", "s"),
    ("ops_per_s", "1/s"),
)

#: (name, unit) of the per-layer metrics a ``--trace 1`` run reports. A
#: layer the workload never calls reports 0.
PER_LAYER = (
    ("session.get_spark_s", "s"),
    ("sources.catalog.load_s", "s"),
    ("setup.warmup_s", "s"),
    ("sources.readers.read_csv_s", "s"),
    ("op.self_s", "s"),
    ("pipeline.run_pipeline_self_s", "s"),
    ("operators.transforms.transform_sales_s", "s"),
    ("operators.quality.run_data_quality_checks_s", "s"),
    ("operators.quality.fk_unresolved_counts_s", "s"),
    ("pipeline.build_sales_warehouse_s", "s"),
    ("sources.sinks.write_parquet_s", "s"),
    ("sources.sinks.bytes_written", "bytes"),
    ("sources.sinks.files_written", "count"),
    ("runmetrics.transform_s", "s"),
    ("runmetrics.quality_s", "s"),
    ("runmetrics.warehouse_s", "s"),
    ("runmetrics.write_s", "s"),
    ("analytics_service.kpis_s", "s"),
    ("analytics_service.monthly_trend_s", "s"),
    ("analytics_service.histogram_s", "s"),
    ("analytics_service.by_dimension_s", "s"),
    ("plans.build_s.headline", "s"),
    ("plans.build_s.heavy", "s"),
    ("plans.build_jobs.headline", "count"),
    ("plans.build_jobs.heavy", "count"),
    ("catalyst.analysis_s", "s"),
    ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"),
    ("exec.collect_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    *((f"query.{q}.e2e_s", "s") for q in HEADLINE + HEAVY),
    ("proc.peak_rss_mb", "MB"),
    ("drift.p50_ratio", "ratio"),
    ("trace.overhead_s", "s"),
    ("fail_ratio", "ratio"),
)

#: per-op span totals reported as per-layer metrics (metric <- span name)
_SPAN_TOTALS = {
    "sources.readers.read_csv_s": "sources.readers.read_csv",
    "operators.transforms.transform_sales_s": "operators.transforms.transform_sales",
    "operators.quality.run_data_quality_checks_s": "operators.quality.run_data_quality_checks",
    "operators.quality.fk_unresolved_counts_s": "operators.quality.fk_unresolved_counts",
    "pipeline.build_sales_warehouse_s": "pipeline.build_sales_warehouse",
    "sources.sinks.write_parquet_s": "sources.sinks.write_parquet",
    "analytics_service.kpis_s": "analytics_service.kpis",
    "analytics_service.monthly_trend_s": "analytics_service.monthly_trend",
    "analytics_service.histogram_s": "analytics_service.histogram",
    "analytics_service.by_dimension_s": "analytics_service.by_dimension",
    "exec.collect_s": "exec.collect",
}


@dataclass
class OpRecord:
    key: str
    cls: str
    dur: float
    ok: bool
    traced: bool
    counts: tuple[int, int, int] = (0, 0, 0)
    phases: dict[str, float] = field(default_factory=dict)
    extra: dict[str, float] = field(default_factory=dict)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolation percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _by_key(ops: list[OpRecord]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for o in ops:
        out.setdefault(o.key, []).append(o.dur)
    return out


def drift_ratio(ops: list[OpRecord]) -> float:
    """Second-half over first-half p50 of the timed ops, paired by op key
    (so a change of query mix between the halves does not read as drift)."""
    half = len(ops) // 2
    first, second = _by_key(ops[:half]), _by_key(ops[half:])
    ratios = [_median(second[k]) / _median(first[k]) for k in first if k in second and _median(first[k]) > 0]
    return _median(ratios) if ratios else 1.0


def trace_overhead(ops: list[OpRecord]) -> float:
    """Traced minus untraced op time. Each traced op is compared with the
    mean of the nearest untraced ops of the same key before and after it,
    which cancels a steady drift of op times across the run. The first op
    takes no part: on ``etl_batch`` and ``dashboard_session`` it is the
    application's cold first op."""
    diffs = []
    for i, o in enumerate(ops):
        if not o.traced or i == 0:
            continue
        near = [
            next((p.dur for p in side if not p.traced and p.key == o.key), None)
            for side in (reversed(ops[1:i]), ops[i + 1 :])
        ]
        near = [d for d in near if d is not None]
        if near:
            diffs.append(o.dur - sum(near) / len(near))
    return _median(diffs)


def end_to_end_metrics(setup_s: float, ops: list[OpRecord]) -> dict[str, float]:
    durs = [o.dur for o in ops]
    return {
        "setup_s": setup_s,
        "op_p50_s": percentile(durs, 0.5),
        "op_p90_s": percentile(durs, 0.9),
        "ops_per_s": len(durs) / sum(durs) if durs else 0.0,
    }


def per_layer_metrics(
    setup: dict[str, float], ops: list[OpRecord], tracer, peak_rss_mb: float, pass_len: int
) -> dict[str, float]:
    """Times come from the traced ops of the first pass, the ops an untraced
    run times; counts (Spark jobs, stages, tasks, files, bytes) from every op
    of the traced run."""
    traced = [i for i, o in enumerate(ops[:pass_len]) if o.traced]
    m = {name: 0.0 for name, _ in PER_LAYER}
    m["session.get_spark_s"] = setup["get_spark_s"]
    m["sources.catalog.load_s"] = setup["catalog_load_s"]
    m["setup.warmup_s"] = setup["warmup_s"]
    for metric, span in _SPAN_TOTALS.items():
        m[metric] = _median(tracer.per_op_totals(span, traced))
    m["op.self_s"] = _median(tracer.per_op_self("op", traced))
    m["pipeline.run_pipeline_self_s"] = _median(tracer.per_op_self("pipeline.run_pipeline", traced))
    for cls in ("headline", "heavy"):
        of_cls = [i for i in traced if ops[i].cls == cls]
        m[f"plans.build_s.{cls}"] = _median(tracer.per_op_totals(f"plans.build.{cls}", of_cls))
        # a mean, not a median: most heavy queries pin nothing, a few pin a lot
        jobs = [o.extra.get(f"plans.build_jobs.{cls}", 0.0) for o in ops if o.cls == cls]
        m[f"plans.build_jobs.{cls}"] = sum(jobs) / len(jobs) if jobs else 0.0
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_s"] = _median([ops[i].phases.get(phase, 0.0) for i in traced])
    for j, name in enumerate(("spark.jobs", "spark.stages", "spark.tasks")):
        m[name] = _median([o.counts[j] for o in ops])
    for name in ("runmetrics.transform_s", "runmetrics.quality_s", "runmetrics.warehouse_s", "runmetrics.write_s"):
        m[name] = _median([ops[i].extra.get(name, 0.0) for i in traced])
    for name in ("sources.sinks.bytes_written", "sources.sinks.files_written"):
        m[name] = _median([o.extra.get(name, 0.0) for o in ops])
    for key, durs in _by_key(ops).items():
        if f"query.{key}.e2e_s" in m:
            m[f"query.{key}.e2e_s"] = _median(durs)
    m["proc.peak_rss_mb"] = peak_rss_mb
    m["drift.p50_ratio"] = drift_ratio(ops)
    m["trace.overhead_s"] = trace_overhead(ops)
    m["fail_ratio"] = sum(not o.ok for o in ops) / len(ops) if ops else 0.0
    return m


def result_line(correct: bool, ops: list[OpRecord], metrics: dict[str, float], units: dict[str, str]) -> str:
    return json.dumps(
        {
            "correct": correct,
            "attempted": len(ops),
            "failed": sum(not o.ok for o in ops),
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        }
    )


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def _prepare_environment(work: str, cpus: int) -> None:
    """Keep every file the run writes inside the checkout; must run before
    pyspark starts the JVM."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "spark-local")):
        shutil.rmtree(d, ignore_errors=True)  # what an earlier run left behind
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # every JVM the launch starts: temp files here, no /tmp/hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")


def _stop(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # never leave it running
            proc.kill()
            proc.wait()


def measure(wl, stream, seconds: float, trace: bool, tracer, counts=None) -> list[OpRecord]:
    """The timed closed loop: one client, one op at a time, for ``seconds``
    (and on to the next multiple of ``wl.pass_len`` ops). Only ``wl.run`` is
    timed; the check and the cleanup of each op run outside it. When
    ``trace`` is set, every other op is traced, starting with the first, and
    at least four ops run, so op 2 is traced between two untraced ops;
    ``counts(i, starting)`` brackets op ``i`` to count its Spark work."""
    ops: list[OpRecord] = []
    start = time.perf_counter()
    i = 0
    while not (
        time.perf_counter() - start >= seconds
        and i % wl.pass_len == 0
        and (not trace or i >= 4)
    ):
        op = next(stream)
        traced = trace and i % 2 == 0
        wl.stats = OpStats()
        if counts is not None:
            counts(i, True)
        tracer.enabled, tracer.op = traced, i
        res, err = None, None
        t0 = time.perf_counter()
        with tracer.span("op"):
            try:
                res = wl.run(op)
            except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
                err = e
        dur = time.perf_counter() - t0
        tracer.enabled = False
        if err is not None:
            print(f"op {i} ({op.key}) failed: {err!r}"[:400], file=sys.stderr)
        try:
            ok = err is None and wl.check(op, res)
        except Exception as e:  # noqa: BLE001
            print(f"op {i} ({op.key}) check raised: {e!r}"[:400], file=sys.stderr)
            ok = False
        rec = OpRecord(op.key, op.cls, dur, bool(ok), traced)
        if counts is not None:
            rec.counts = counts(i, False)
        rec.phases, rec.extra = wl.stats.phases, wl.stats.extra
        ops.append(rec)
        wl.cleanup()
        i += 1
    return ops


def run(workload: str, seed: int, seconds: float, trace: bool) -> tuple[bool, list[OpRecord], dict, dict]:
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".e2ebench")
    _prepare_environment(work, cpus)
    from bigdata_etl_elt_dashboard_spark.session import get_spark

    tracer = tracing.Tracer()
    if trace:
        tracing.instrument(tracer)
    wl = WORKLOADS[workload](work, seed, tracer)
    t0 = time.perf_counter()
    wl.make_inputs()
    wl.prepare_checks()
    stream = wl.ops()
    walls = {"prepare_wall_s": time.perf_counter() - t0}

    # -- set-up: session, catalog, fixed-count warm-up ---------------------
    tracer.enabled = trace
    setup = {}
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark(
            app_name=f"e2ebench-{workload}",
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
            extra_conf={
                "spark.ui.enabled": "false",
                "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            },
        )
    setup["get_spark_s"] = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        with tracer.span("sources.catalog.load"):
            wl.load(spark)
        setup["catalog_load_s"] = time.perf_counter() - t0
        warm_ok, warm_s, t_warm = True, 0.0, time.perf_counter()
        for _ in range(wl.warmup):
            op = next(stream)
            t0 = time.perf_counter()
            with tracer.span("setup.warmup"):
                res = wl.run(op)
            warm_s += time.perf_counter() - t0
            warm_ok = wl.check(op, res) and warm_ok
            wl.cleanup()
        setup["warmup_s"] = warm_s
        walls["warmup_wall_s"] = time.perf_counter() - t_warm
        setup["setup_s"] = setup["get_spark_s"] + setup["catalog_load_s"] + warm_s

        # -- timed closed loop ---------------------------------------------
        counts = None
        if trace:
            sc = spark.sparkContext

            def counts(i: int, starting: bool):
                if starting:
                    wl.job_group = f"op-{i}"
                    sc.setJobGroup(wl.job_group, "op")
                    return None
                return tuple(
                    a + b
                    for a, b in zip(
                        tracing.job_counts(spark, f"op-{i}"),
                        tracing.job_counts(spark, f"op-{i}-build"),
                    )
                )

        t0 = time.perf_counter()
        ops = measure(wl, stream, seconds, trace, tracer, counts)
        walls["measure_wall_s"] = time.perf_counter() - t0
        rss = tracing.peak_rss_mb(spark)
    finally:
        t0 = time.perf_counter()
        _stop(spark)
        wl.close()
        walls["stop_wall_s"] = time.perf_counter() - t0
    return warm_ok, ops, setup, {"tracer": tracer, "peak_rss_mb": rss, "walls": walls}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="End-to-end benchmark (see e2ebench/README.md).")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    warm_ok, ops, setup, extra = run(args.workload, args.seed, args.seconds, bool(args.trace))
    e2e = end_to_end_metrics(setup["setup_s"], ops)
    layers = (
        per_layer_metrics(setup, ops, extra["tracer"], extra["peak_rss_mb"], WORKLOADS[args.workload].pass_len)
        if args.trace
        else {}
    )
    correct = warm_ok and all(o.ok for o in ops)
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "ops": len(ops),
        **e2e,
        "fail_ratio": sum(not o.ok for o in ops) / len(ops),
        "drift.p50_ratio": drift_ratio(ops),
        **setup,
        **extra["walls"],
    }
    print("summary " + json.dumps(summary))
    if args.trace:
        print("layers " + json.dumps(layers))
        print(result_line(correct, ops, layers, dict(PER_LAYER)))
    else:
        print(result_line(correct, ops, e2e, dict(END_TO_END)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
