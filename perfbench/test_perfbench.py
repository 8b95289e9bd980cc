"""Tests of the benchmark's own helpers and output schema.

Run with ``python -m pytest perfbench -q``. The last test runs every
workload in smoke mode and needs Spark (about a minute per workload)."""

from __future__ import annotations

import json
import math
import os
import re
import statistics
import subprocess
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import spread  # noqa: E402
from spans import Py4jCounter, Span, Tracer, self_time, wrapped  # noqa: E402
from workloads import (  # noqa: E402
    WORKLOADS,
    Outcome,
    layer_sample,
    op_geomean,
    pass_spread,
    per_pass,
    tree_cpu_s,
)

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)


def test_quartile_spread_is_iqr_over_median():
    xs = [float(x) for x in range(1, 11)]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert spread.quartile_spread(xs) == pytest.approx((q3 - q1) / q2)
    assert spread.quartile_spread([5.0] * 10) == 0


def test_spread_flags_a_metric_over_its_bound(tmp_path, capsys):
    paths = []
    for i, v in enumerate([1.0, 1.0, 2.0, 2.0]):
        p = tmp_path / f"run{i}.log"
        p.write_text("info\n" + json.dumps(
            {"metrics": {"pass_cpu_s": {"value": v, "unit": "s"}}}) + "\n")
        paths.append(str(p))
    assert spread.main(paths) == 1
    assert "OVER BOUND" in capsys.readouterr().out
    assert spread.main(paths[:2]) == 0


def _span(i, start, end, parent=None):
    return Span(i, parent, "r", f"s{i}", start, end)


def test_self_time_subtracts_union_of_children():
    root = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 2.0, 4.0, 0),
            _span(3, 8.0, 12.0, 0)]  # overlaps and runs past the parent
    assert self_time(root, kids) == pytest.approx(10 - 3 - 2)
    assert self_time(root, []) == 10


def test_tracer_records_nesting_and_self_time():
    ticks = iter(range(100))
    tr = Tracer("run-1", clock=lambda: float(next(ticks)))
    with tr.span("op") as op:
        with tr.span("child"):
            pass
    assert [s.name for s in tr.spans] == ["op", "child"]
    assert tr.spans[1].parent_id == op.span_id
    assert op.parent_id is None
    assert all(s.run_id == "run-1" for s in tr.spans)
    assert tr.self_times() == {"op": 2.0, "child": 1.0}


def test_wrapped_traces_and_restores():
    mod = types.SimpleNamespace(f=lambda x: x + 1)
    original = mod.f
    tr = Tracer("r")
    seen = []
    with wrapped(tr, mod, "f", "layer.f", after=seen.append):
        assert mod.f(1) == 2
    assert mod.f is original
    assert [s.name for s in tr.spans] == ["layer.f"] and seen == [2]

    class Base:
        def m(self):
            return "base"

    class Child(Base):
        pass

    with wrapped(tr, Child, "m", "layer.m"):
        assert Child().m() == "base"
    assert "m" not in vars(Child)


def test_py4j_counter_skips_memory_commands_and_pauses():
    class Client:
        def send_command(self, command):
            return command

    client = Client()
    counter = Py4jCounter(client)
    counter.install()
    client.send_command("c\nfoo")
    client.send_command("m\nd\no1")
    with counter.paused():
        client.send_command("c\nbar")
    assert counter.calls == 1
    assert counter.by_kind == {"c": 1, "m": 1}


def test_layer_sample_keeps_construct_time_actions_out_of_force():
    ticks = iter(range(100))
    tr = Tracer("r", clock=lambda: float(next(ticks)))
    with tr.span("query.q") as root:
        with tr.span("plans.construct"):
            with tr.span("action.collect"):
                pass
        with tr.span("exec.force"):
            pass
    sample = layer_sample(tr, root, resident_rdds=2, overhead_s=0.5)
    assert sample["construct_s"] == 3
    assert sample["force_s"] == 1
    assert sample["unit_s"] == 7
    assert sample["self_s"] == 7 - 3 - 1
    assert sample["resident_rdds"] == 2


def _outcome():
    out = Outcome(attempted=4, warm_s=1.0)
    keys = ("op_s", "unit_s", "overhead_s", "self_s", "construct_s",
            "construct_py4j", "construct_jobs", "plan_s", "jobs", "stages",
            "tasks", "force_s", "executor_run_ms", "shuffle_write_bytes",
            "spill_bytes", "py4j", "resident_rdds", "cpu_s", "steal_s")
    for op, scale in (("a", 1.0), ("b", 4.0)):
        for k in (1, 2, 3):
            out.samples[op].append({key: scale * k for key in keys})
    return out


def test_pass_aggregates_use_per_operation_medians():
    out = _outcome()
    assert per_pass(out.samples, "op_s") == 2 + 8
    assert pass_spread(out.samples, "jobs") == 2 + 8
    assert op_geomean(out.samples, "op_s") == pytest.approx(4)
    out.samples["a"].append(dict(out.samples["a"][0], op_s=100.0))
    assert per_pass(out.samples, "op_s") == 2.5 + 8


def test_steal_frac_is_a_share_of_all_cpus():
    out = _outcome()  # op_s = steal_s in every sample
    assert run.steal_frac(out.samples) == pytest.approx(1 / os.cpu_count())


def test_tree_cpu_counts_this_process():
    t0 = tree_cpu_s(os.getpid())
    sum(i * i for i in range(2_000_000))
    assert tree_cpu_s(os.getpid()) > t0


def test_output_schema_matches_benchmark_json():
    out = _outcome()
    e2e = run.end_to_end(out, setup_s=3.0)
    layers = run.per_layer(out, rss_mb=100.0)
    for metrics, declared in ((e2e, BENCHMARK["end_to_end"]),
                              (layers, BENCHMARK["per_layer"])):
        assert list(metrics) == [m["name"] for m in declared]
        for m in declared:
            got = metrics[m["name"]]
            assert set(got) == {"value", "unit"}
            assert got["unit"] == m["unit"]
            assert isinstance(got["value"], (int, float))
            assert math.isfinite(got["value"])


def test_benchmark_json_contract():
    assert set(BENCHMARK) == {"command", "paths", "run_seconds", "workloads",
                              "end_to_end", "per_layer"}
    assert BENCHMARK["paths"] == ["perfbench"]
    assert 1 <= BENCHMARK["run_seconds"] <= 60
    assert [w["name"] for w in BENCHMARK["workloads"]] == sorted(WORKLOADS)
    names = [m["name"] for key in ("workloads", "end_to_end", "per_layer")
             for m in BENCHMARK[key]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names)
    for m in BENCHMARK["end_to_end"] + BENCHMARK["per_layer"]:
        assert UNIT.fullmatch(m["unit"]) and m["better"] in ("lower",
                                                             "higher")
    bounds = {m["name"]: m["bound"] for m in BENCHMARK["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke(workload):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "7", "--seconds", "1", "--trace", "1",
         "--smoke"],
        capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert list(result["metrics"]) == [m["name"]
                                       for m in BENCHMARK["per_layer"]]
