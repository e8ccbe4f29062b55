"""Tests of the benchmark's own code (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import time
import types
from pathlib import Path

import numpy as np
import pytest

from perfbench import gen
from perfbench.run import END_TO_END, JVM_HEAP, per_layer_names
from perfbench.stats import percentile, tail
from perfbench.trace import Tracer, read_event_log, traced_calls, tree_rss_kb

BENCHMARK_JSON = Path(__file__).resolve().parents[2] / "BENCHMARK.json"
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.\-]{1,16}")


def valid_name(name: str) -> bool:
    return bool(NAME_RE.fullmatch(name))


def valid_unit(unit: str) -> bool:
    return bool(UNIT_RE.fullmatch(unit))


# ---------------------------------------------------------------- generators


def test_forecast_inputs_deterministic_per_seed():
    a, b = gen.forecast_inputs(3, 20), gen.forecast_inputs(3, 20)
    assert a == b
    assert gen.forecast_inputs(4, 20).payloads != a.payloads


def test_forecast_replays_repeat_earlier_payloads():
    inp = gen.forecast_inputs(5, 40)
    for i, (payload, replay) in enumerate(zip(inp.payloads, inp.replay)):
        assert replay == (i % gen.REPLAY_EVERY == 1)
        assert (payload in inp.payloads[:i]) == replay
        assert len(json.loads(payload)) == gen.PAYLOAD_HOURS


def test_train_inputs_deterministic_per_seed(tmp_path):
    kw = dict(n_days=6, n_detectors=5, readings_per_hour=2, n_files=3)
    a = gen.train_inputs(9, str(tmp_path / "a"), **kw)
    b = gen.train_inputs(9, str(tmp_path / "b"), **kw)
    names = sorted(os.listdir(tmp_path / "a"))
    assert names == sorted(os.listdir(tmp_path / "b"))
    _, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert not mismatch and not errors
    assert (a.n_csv_rows, a.expected_join_rows) == (b.n_csv_rows, b.expected_join_rows)
    assert 0 < a.expected_join_rows <= a.expected_series_rows <= 6 * 24
    c = gen.train_inputs(10, str(tmp_path / "c"), **kw)
    assert not filecmp.cmp(tmp_path / "a" / "ind_000.csv", tmp_path / "c" / "ind_000.csv", shallow=False)


def test_train_inputs_use_three_dialects(tmp_path):
    gen.train_inputs(1, str(tmp_path), n_days=6, n_detectors=2, readings_per_hour=1, n_files=3)
    heads = [(tmp_path / f"ind_{i:03d}.csv").read_text().splitlines()[:2] for i in range(3)]
    assert [h[0][len("Detector")] for h in heads] == [",", ";", "\t"]
    assert "," in heads[1][1].split(";")[4]  # decimal-comma coordinates


def test_corpus_inputs_deterministic_per_seed(tmp_path):
    a = gen.corpus_inputs(2, str(tmp_path / "a"), n_docs=400)
    b = gen.corpus_inputs(2, str(tmp_path / "b"), n_docs=400)
    assert (a.exact_dups, a.near_dups, a.contaminated) == (b.exact_dups, b.near_dups, b.contaminated)
    assert filecmp.cmp(a.raw_jsonl, b.raw_jsonl, shallow=False)
    docs = [json.loads(line) for line in open(a.raw_jsonl)]
    assert [d["doc_id"] for d in docs] == list(range(400))
    texts = [d["text"] for d in docs]
    assert all(texts[i] in texts[:i] for i in a.exact_dups)
    assert a.exact_dups and a.near_dups and a.contaminated


def test_ann_inputs_deterministic_per_seed():
    kw = dict(n_base=50, n_append_batches=2, append_rows=5, n_query_batches=2, queries_per_batch=3)
    a, b = gen.ann_inputs(7, **kw), gen.ann_inputs(7, **kw)
    assert np.array_equal(a.base, b.base)
    assert all(np.array_equal(x[1], y[1]) for x, y in zip(a.query_batches, b.query_batches))
    assert not np.array_equal(gen.ann_inputs(8, **kw).base, a.base)
    assert a.query_batches[0][0].min() >= gen.QUERY_ID_BASE


# ---------------------------------------------------------------- statistics


def test_percentile_nearest_rank():
    vals = list(range(1, 101))
    assert percentile(vals, 50) == 50
    assert percentile(vals, 90) == 90
    assert percentile(vals, 100) == 100
    assert percentile([3.0], 50) == 3.0
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize(
    "n, expected_pct",
    [(10, None), (11, 9), (20, 50), (100, 90), (200, 95), (1000, 99), (5000, 99)],
)
def test_tail_leaves_at_least_ten_samples_beyond(n, expected_pct):
    vals = [float(v) for v in range(n)]
    got = tail(vals)
    if expected_pct is None:
        assert got is None
        return
    pct, value = got
    assert pct == expected_pct
    assert sum(v > value for v in vals) >= 10
    # one percentile higher would leave fewer than ten beyond
    if pct < 99:
        assert sum(v > percentile(vals, pct + 1) for v in vals) < 10


# ---------------------------------------------------------------- names


def test_metric_names_and_units_valid():
    for name, unit in {**END_TO_END, **per_layer_names()}.items():
        assert valid_name(name), name
        assert valid_unit(unit), unit
    assert not valid_name("bad name")
    assert not valid_name(".leading_dot")
    assert not valid_name("x" * 65)


def test_benchmark_json_matches_the_runner():
    spec = json.loads(BENCHMARK_JSON.read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer_names()
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    names = [w["name"] for w in spec["workloads"]] + [
        m["name"] for m in spec["end_to_end"] + spec["per_layer"]
    ]
    assert all(valid_name(n) for n in names)


def test_command_records_the_pinned_heap():
    command = json.loads(BENCHMARK_JSON.read_text())["command"]
    assert f"SPARK_DRIVER_MEM={JVM_HEAP}" in command


# ---------------------------------------------------------------- tracing


def test_self_time_is_span_minus_children():
    tr = Tracer()
    tr.begin_op(0)
    with tr.span("op"):
        with tr.span("a"):
            time.sleep(0.02)
        with tr.span("b"):
            with tr.span("a"):
                time.sleep(0.01)
    spans = {(sp.name, sp.parent.name if sp.parent else None): sp for sp in tr.spans}
    op = spans[("op", None)]
    b = spans[("b", "op")]
    assert op.self_s == pytest.approx(op.duration - spans[("a", "op")].duration - b.duration)
    assert b.self_s == pytest.approx(b.duration - spans[("a", "b")].duration)
    assert tr.self_seconds("a")[0] == pytest.approx(
        spans[("a", "op")].duration + spans[("a", "b")].duration
    )


def test_traced_calls_spans_callees_and_restores_them():
    def add(a, b):
        return a + b

    def sink(path):
        return len(path)

    mod = types.SimpleNamespace(add=add, sink=sink)
    tr = Tracer()
    tr.begin_op(0)
    with tr.span("op"), traced_calls(tr, [(mod, "add", "layer.add"),
                                          (mod, "sink", lambda path: f"sink.{path}")]):
        assert mod.add(2, 3) == 5
        assert mod.sink("w") == 1
    assert (mod.add, mod.sink) == (add, sink)
    names = [(sp.name, sp.parent.name if sp.parent else None) for sp in tr.spans]
    assert names == [("op", None), ("layer.add", "op"), ("sink.w", "op")]


def test_read_event_log_attributes_stage_metrics_to_job_groups(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "ml.fit#3"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "JVM GC Time": 5, "Disk Bytes Spilled": 7,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "JVM GC Time": 1, "Shuffle Write Metrics": {"Shuffle Bytes Written": 20}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {}},
    ]
    log = tmp_path / "app.inprogress"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n{\"Event\": \"trunc")
    st = read_event_log(str(log))
    fit = st["ml.fit#3"]
    assert (fit.jobs, fit.stages, fit.tasks) == (1, 1, 2)
    assert (fit.shuffle_write_bytes, fit.spill_bytes, fit.gc_ms) == (120, 7, 6)
    assert (st[""].jobs, st[""].tasks) == (1, 1)


def test_tree_rss_counts_this_process():
    assert tree_rss_kb(os.getpid()) > 1000
