"""The benchmark's own tests. None of them starts Spark.

    python3 -m pytest e2ebench/tests -q
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import pytest

import checks
import datagen
import run
import tracing
from workloads import DASHBOARD_LAKE, QUERY_LAKE, DashboardSession, Op, QuerySession, Workload

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)


def _tree_digest(path: str) -> dict[str, str]:
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


# ---------------------------------------------------------------------------
# generator
# ---------------------------------------------------------------------------


def test_sales_generator_is_deterministic(tmp_path):
    a = datagen.write_sales_csvs(5, str(tmp_path / "a"), n_local=2_000, n_api=200)
    b = datagen.write_sales_csvs(5, str(tmp_path / "b"), n_local=2_000, n_api=200)
    c = datagen.write_sales_csvs(6, str(tmp_path / "c"), n_local=2_000, n_api=200)
    assert _tree_digest(os.path.dirname(a[0])) == _tree_digest(os.path.dirname(b[0]))
    assert _tree_digest(os.path.dirname(a[0])) != _tree_digest(os.path.dirname(c[0]))


def test_sales_generator_plants_every_defect_kind(tmp_path):
    import pandas as pd

    local, api = datagen.write_sales_csvs(1, str(tmp_path), n_local=4_000, n_api=1_000)
    cols = list(checks._SALES_COLS)
    lo = pd.read_csv(local, header=0, names=cols, dtype=str, keep_default_na=False)
    ap = pd.read_csv(api, header=0, names=cols, dtype=str, keep_default_na=False)
    both = pd.concat([lo, ap])
    assert lo.duplicated().any() and ap.duplicated().any()  # verbatim duplicates
    assert (lo["order_id"] == "").sum() == 1 and (ap["order_id"] == "").sum() == 1
    assert set(lo["order_id"]) & set(ap["order_id"]) - {""}  # cross-source overlap
    assert (ap["region"] == "").any() and not (lo["region"] == "").any()
    assert both["sales_channel"].str.startswith(" ").any()
    assert both["order_date"].isin(["13/45/2020", "2015-03-07", ""]).any()
    assert (both["units_sold"] == "").any() and (both["total_profit"] == "").any()
    assert both["total_cost"].str.startswith("-").any()


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _fake_ops() -> list[run.OpRecord]:
    ops = []
    for i in range(32):
        cls = "heavy" if i % 4 == 3 else "headline"
        ops.append(run.OpRecord(f"q{i % 8}", cls, 0.1 + 0.01 * i, True, i % 2 == 0, (2, 3, 8)))
    return ops


def test_every_benchmark_metric_is_emitted_with_its_unit():
    spec = _bench_json()
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(run.PER_LAYER)
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS)

    ops = _fake_ops()
    e2e = json.loads(run.result_line(True, ops, run.end_to_end_metrics(3.0, ops), dict(run.END_TO_END)))
    setup = {"get_spark_s": 1.0, "catalog_load_s": 0.5, "warmup_s": 1.5}
    layers = run.per_layer_metrics(setup, ops, tracing.Tracer(), 800.0, 24)
    per = json.loads(run.result_line(True, ops, layers, dict(run.PER_LAYER)))
    for out, metrics in ((e2e, spec["end_to_end"]), (per, spec["per_layer"])):
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert out["attempted"] == 32 and out["failed"] == 0
        assert {k: v["unit"] for k, v in out["metrics"].items()} == {m["name"]: m["unit"] for m in metrics}
    assert all(e2e["metrics"][m]["value"] > 0 for m in e2e["metrics"])


def test_percentiles_land_in_their_class():
    # one query_session pass: 16 headline ops, 8 heavy ops an order slower
    ops = [run.OpRecord("h", "headline", 0.40 + 0.01 * i, True, False) for i in range(16)]
    ops += [run.OpRecord("x", "heavy", 2.0 + 0.1 * i, True, False) for i in range(8)]
    m = run.end_to_end_metrics(1.0, ops)
    assert 0.40 <= m["op_p50_s"] <= 0.55 and 2.0 <= m["op_p90_s"] <= 2.7
    assert m["ops_per_s"] == pytest.approx(24 / sum(o.dur for o in ops))


# ---------------------------------------------------------------------------
# checks: a planted wrong row fails its op
# ---------------------------------------------------------------------------


def test_wrong_query_row_fails_its_op(tmp_path):
    from bigdata_etl_elt_dashboard_spark.plans import REGISTRY

    wl = QuerySession(str(tmp_path), 3, tracing.Tracer())
    wl.prepare_checks()
    op = Op("q2_revenue_per_year", "headline")
    cols, rows = checks.duck_rows(checks.duck_lake(QUERY_LAKE), REGISTRY[op.key].oracle)
    assert wl.check(op, (cols, rows))
    bad = list(rows)
    bad[0] = (bad[0][0], bad[0][1] * 1.001)
    assert not wl.check(op, (cols, bad))
    assert not wl.check(op, (cols, rows[1:]))


def test_rows_only_query_is_checked_against_its_warmup_digest(tmp_path):
    wl = QuerySession(str(tmp_path), 3, tracing.Tracer())
    wl.expected, wl.reference_digest = {}, {}
    op = Op("sim_ann_lsh", "heavy")
    rows = [(0, 1, 0.9), (0, 2, 0.8)]
    assert wl.check(op, (["query_id", "neighbor_id", "score"], rows))  # sets the reference
    assert wl.check(op, (["query_id", "neighbor_id", "score"], rows[::-1]))
    assert not wl.check(op, (["query_id", "neighbor_id", "score"], [(0, 1, 0.9), (0, 3, 0.8)]))


def test_wrong_dashboard_row_fails_its_op():
    con = checks.duck_lake(QUERY_LAKE)
    exp = checks.dashboard_expected(con, dt.date(1996, 1, 1), dt.date(1998, 12, 31), ["2-HIGH", "5-LOW"], 30)
    (n, total), = exp["kpis"]
    got = {k: list(v) for k, v in exp.items()}
    got["kpis"] = [(n, total, round(total / n, 2))]
    assert checks.dashboard_matches(exp, got)
    bad = dict(got)
    b, start, cnt = bad["histogram"][0]
    bad["histogram"] = [(b, start, cnt + 1), *bad["histogram"][1:]]
    assert not checks.dashboard_matches(exp, bad)
    bad = dict(got)
    bad["monthly_trend"] = got["monthly_trend"][:-1]
    assert not checks.dashboard_matches(exp, bad)


class _Report:
    def __init__(self, e: dict):
        self.n_rows = e["n_rows"]
        self.pk_nulls = e["pk_nulls"]
        self.pk_duplicates = e["pk_duplicates"]
        self.negative_counts = {"total_cost": e["neg_total_cost"]}
        self.null_counts = {"units_sold": 0}
        self.passed = False


def test_wrong_etl_output_fails_its_op(tmp_path):
    local, api = datagen.write_sales_csvs(2, str(tmp_path), n_local=2_000, n_api=200)
    exp = checks.etl_expected(local, api)
    assert exp["pk_nulls"] == 1 and exp["neg_total_cost"] > 0
    assert checks.etl_report_matches(exp, _Report(exp))
    wrong = _Report(exp)
    wrong.n_rows += 1
    assert not checks.etl_report_matches(exp, wrong)
    fact = {"n_rows": exp["n_rows"], "revenue_cents": exp["revenue_cents"]}
    assert checks.etl_fact_matches(exp, fact)
    assert not checks.etl_fact_matches(exp, {**fact, "revenue_cents": fact["revenue_cents"] + 1})


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


class _SleepWorkload(Workload):
    """Ops with nested layer spans, so the loop can be traced without Spark."""

    name = "sleep"
    pass_len = 2

    def ops(self):
        while True:
            yield Op("nap", "nap")

    def run(self, op):
        with self.tracer.span("layer.outer"):
            time.sleep(0.002)
            with self.tracer.span("layer.inner"):
                time.sleep(0.003)
        time.sleep(0.001)
        return True

    def check(self, op, result):
        return result


def test_spans_nest_and_top_level_spans_cover_each_op(tmp_path):
    tracer = tracing.Tracer()
    wl = _SleepWorkload(str(tmp_path), 0, tracer)
    ops = run.measure(wl, wl.ops(), 0.05, True, tracer)
    assert len(ops) >= 3 and len(ops) % wl.pass_len == 0
    assert all(o.ok for o in ops)
    assert len(ops) >= 4 and [o.traced for o in ops[:4]] == [True, False, True, False]
    tops = [s for s in tracer.spans if s.parent is None]
    assert [s.op for s in tops] == [i for i, o in enumerate(ops) if o.traced]
    for s in tops:
        assert s.name == "op"
        assert abs(s.dur - ops[s.op].dur) < 0.002
    for s in tracer.spans:
        if s.parent is not None:
            p = tracer.spans[s.parent]
            assert p.start <= s.start <= s.end <= p.end and p.op == s.op
    inner = [s for s in tracer.spans if s.name == "layer.inner"]
    assert all(tracer.spans[s.parent].name == "layer.outer" for s in inner)
    outer_self = tracer.per_op_self("layer.outer", [tops[0].op])[0]
    assert 0.0015 < outer_self < tracer.per_op_totals("layer.outer", [tops[0].op])[0]


def test_trace_overhead_cancels_drift_and_skips_the_cold_first_op():
    # ops slow down by 0.1 s each; traced (even) ops cost 0.05 s more; op 0 is cold
    ops = [run.OpRecord("op", "op", 1.0 + 0.1 * i + 0.05 * (i % 2 == 0), True, i % 2 == 0) for i in range(8)]
    ops[0].dur = 30.0
    assert run.trace_overhead(ops[:4]) == pytest.approx(0.05)  # op 2 between ops 1 and 3
    assert run.trace_overhead(ops[:7]) == pytest.approx(0.05)


def test_layer_times_come_from_the_first_pass():
    # etl_batch: an untraced run times op 0 only, the application's cold run
    tracer, ops, t = tracing.Tracer(), [], 0.0
    for i, dur in enumerate((30.0, 12.0, 10.0, 9.0)):
        traced = i % 2 == 0
        if traced:
            sid = len(tracer.spans)
            tracer.spans.append(tracing.Span("op", t, t + dur, None, i))
            tracer.spans.append(tracing.Span("operators.transforms.transform_sales", t, t + dur / 3, sid, i))
        ops.append(run.OpRecord("run", "run", dur, True, traced))
        t += dur
    setup = {"get_spark_s": 1.0, "catalog_load_s": 0.0, "warmup_s": 0.0}
    m = run.per_layer_metrics(setup, ops, tracer, 800.0, 1)
    assert m["operators.transforms.transform_sales_s"] == pytest.approx(10.0)
    assert m["op.self_s"] == pytest.approx(20.0)


def test_untraced_ops_record_no_spans(tmp_path):
    tracer = tracing.Tracer()
    wl = _SleepWorkload(str(tmp_path), 0, tracer)
    ops = run.measure(wl, wl.ops(), 0.02, False, tracer)
    assert ops and not tracer.spans and not any(o.traced for o in ops)


def test_benchmark_lakes_are_the_repos_testdata():
    from bigdata_etl_elt_dashboard_spark.sources.catalog import DEFAULT_SF_DIR

    pairs = [(os.path.join(DASHBOARD_LAKE, "orders.parquet"), os.path.join(DEFAULT_SF_DIR, "orders.parquet"))]
    sf001 = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.01")
    pairs += [(os.path.join(QUERY_LAKE, n), os.path.join(sf001, n)) for n in sorted(os.listdir(QUERY_LAKE))]
    if not all(os.path.exists(b) for _, b in pairs):
        pytest.skip("the repo's testdata is not on this host")
    for ours, theirs in pairs:
        with open(ours, "rb") as a, open(theirs, "rb") as b:
            assert a.read() == b.read(), ours


def test_dashboard_filters_follow_the_seed(tmp_path):
    def filters(seed):
        wl = DashboardSession(str(tmp_path), seed, tracing.Tracer())
        wl.prepare_checks()
        stream = wl.ops()
        out = [next(stream).arg for _ in range(4)]
        wl.close()
        return out

    a = filters(1)
    assert a == filters(1) and a != filters(2)
    lo, hi = dt.date(1995, 1, 1), dt.date(2001, 8, 1)
    assert all(lo <= start <= hi and start <= end and prios for start, end, prios in a)


# ---------------------------------------------------------------------------
# the command
# ---------------------------------------------------------------------------


def test_run_refuses_a_directory_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "e2ebench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    cmd = [sys.executable, *_bench_json()["command"][1:]]
    p = subprocess.run(
        [*cmd, "--workload", "etl_batch", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
