"""Fast self-tests of the benchmark (no Spark session):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import metrics, workload
from perfbench.tracing import read_event_log

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("name", sorted(workload.SHAPES))
def test_generator_is_deterministic_per_seed(name):
    a, b = workload.make(name, 7), workload.make(name, 7)
    for field in ("point", "point_kind", "warmup", "batch", "deltas", "probes",
                  "burst", "oracle"):
        assert getattr(a, field) == getattr(b, field), field
    c = workload.make(name, 8)
    assert a.point != c.point and a.probes != c.probes


def test_point_queries_distinct_after_tokenize_and_mixed():
    wl = workload.make("point", 3)
    sigs = [workload.signature(t) for _, t in wl.point]
    assert len(set(sigs)) == len(sigs) == workload.POINT_POOL
    mix = wl.mix()
    assert set(mix) == {"head", "mid", "unique", "absent", "long"}
    assert mix["long"] == pytest.approx(1 / len(wl.point))
    # every kind is present in the always-run prefix
    prefix = {wl.point_kind[q] for q, _ in wl.point[: wl.shape.point_min]}
    assert prefix == set(mix)


def test_batch_repeat_share_is_measured():
    wl = workload.make("batch", 3)
    share = wl.batch_repeat_share()
    assert share == pytest.approx(workload.BATCH_REPEAT, abs=0.02)
    # the repeats are re-phrasings, not byte-identical copies
    texts = [t for _, t in wl.batch]
    assert len(set(texts)) > len(set(workload.signature(t) for t in texts))


def test_probes_come_from_delta_text():
    wl = workload.make("point", 5)
    corpus_end = workload.N_CONVS
    for (start, n), probe in zip(wl.deltas, wl.probes):
        assert start >= corpus_end
        conv = int(probe[len("uniq"):])
        assert start <= conv < start + n
        assert workload.carries_uniq(conv, wl.seed)
        corpus_end = start + n


def test_metric_catalog_comes_from_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert list(metrics.END_TO_END) == [m["name"] for m in spec["end_to_end"]]
    assert list(metrics.PER_LAYER) == [m["name"] for m in spec["per_layer"]]
    assert set(metrics.DETERMINISTIC) <= set(metrics.PER_LAYER)
    assert set(metrics.WORKLOADS) == set(workload.SHAPES)


def test_self_times():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps 1
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 4, "parent": 0, "start": 9.0, "end": 12.0},  # runs past 0
    ]
    st = metrics.self_times(spans)
    assert st[0] == pytest.approx(10 - (6 - 1) - (10 - 9))
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(3)
    assert st[3] == pytest.approx(1)
    assert st[4] == pytest.approx(3)


def test_tail_percentile_keeps_ten_beyond():
    pct, val = metrics.tail_percentile(list(range(1, 201)))
    assert (pct, val) == (95.0, 190.0)
    pct, val = metrics.tail_percentile(list(range(1, 51)))
    assert (pct, val) == (80.0, 40.0)


def test_answer_gate_catches_a_perturbed_score():
    rows = [(3, 2.5), (7, 1.25)]
    assert metrics.same_answer(rows, list(rows))
    bumped = [(3, 2.5 * (1 + 1e-12)), (7, 1.25)]
    assert not metrics.same_answer(bumped, rows)
    assert metrics.same_answer(bumped, rows, rel=1e-9)
    assert not metrics.same_answer([(7, 1.25), (3, 2.5)], rows, rel=1e-9)


def test_event_log_grouping(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "scan"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "group"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 1500, "Executor CPU Time": 2e9,
            "JVM GC Time": 10, "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
            "Shuffle Read Metrics": {"Remote Bytes Read": 5, "Local Bytes Read": 7},
            "Input Metrics": {"Records Read": 9}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor Run Time": 500}},
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events))
    ev = read_event_log(str(tmp_path))
    assert ev["scan"] == {
        "jobs": 1, "tasks": 1, "task_s": 1.5, "cpu_s": 2.0, "gc_s": 0.01,
        "shuffle_write_bytes": 100, "shuffle_read_bytes": 12, "input_rows": 9,
        "spill_bytes": 3,
    }
    assert ev["group"]["tasks"] == 1 and ev["group"]["task_s"] == 0.5
