"""Spark-free tests of the benchmark's own arithmetic.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

import datagen
import run
import stats


# -- tail percentile -------------------------------------------------------------

def test_tail_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    q, v = stats.tail(xs)
    assert (q, v) == (0.9, 90.0)  # 91..100 lie above: exactly ten
    assert sum(1 for x in xs if x > v) == 10


def test_tail_of_thirty_samples():
    xs = [float(i) for i in range(30)]
    q, v = stats.tail(xs)
    assert q == pytest.approx(20 / 30)
    assert sum(1 for x in xs if x > v) == 10


def test_tail_falls_back_to_median_below_twenty_samples():
    xs = [float(i) for i in range(15)]
    assert stats.tail(xs) == (0.5, float(np.median(xs)))
    # at twenty samples the tenth order statistic is the lower median
    q, v = stats.tail([float(i) for i in range(20)])
    assert q == 0.5 and v == 9.0


def test_tail_rejects_no_samples():
    with pytest.raises(ValueError):
        stats.tail([])


# -- self time ------------------------------------------------------------------

def test_self_time_subtracts_children():
    assert stats.self_time(0.0, 10.0, [(1.0, 3.0), (5.0, 6.0)]) == pytest.approx(7.0)


def test_self_time_counts_overlapping_children_once():
    assert stats.self_time(0.0, 10.0, [(1.0, 5.0), (4.0, 6.0)]) == pytest.approx(5.0)


def test_self_time_clips_children_to_parent():
    assert stats.self_time(2.0, 4.0, [(0.0, 3.0), (3.5, 9.0)]) == pytest.approx(0.5)


def test_self_times_over_a_span_tree():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 6.0},
        {"id": 2, "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 3, "parent": 0, "start": 7.0, "end": 8.0},
    ]
    got = stats.self_times(spans)
    assert got == pytest.approx({0: 4.0, 1: 4.0, 2: 1.0, 3: 1.0})


# -- file -> batch delay mapping -------------------------------------------------

def _write_log(d, name, entries):
    with open(os.path.join(d, name), "w") as f:
        f.write("v1\n")
        for path, batch in entries:
            f.write(json.dumps({"path": path, "timestamp": 0, "batchId": batch}) + "\n")


def test_read_source_log_merges_compact_and_delta_files(tmp_path):
    _write_log(tmp_path, "9.compact", [(f"file:///s/{i:05d}.parquet", i // 3) for i in range(9)])
    _write_log(tmp_path, "10", [("file:///s/00009.parquet", 10)])
    got = stats.read_source_log(str(tmp_path))
    assert got["00000.parquet"] == 0
    assert got["00008.parquet"] == 2
    assert got["00009.parquet"] == 10
    assert stats.read_source_log(str(tmp_path / "missing")) == {}


def test_file_delays_run_from_due_time_to_batch_end():
    due = {"a": 10.0, "b": 11.0, "c": 12.0}
    file_batch = {"a": 3, "b": 3, "c": 4}
    batch_end = {3: 15.0, 4: 20.5}
    assert stats.file_delays(due, file_batch, batch_end) == {"a": 5.0, "b": 4.0, "c": 8.5}


def test_file_delays_reject_uncommitted_file():
    with pytest.raises(ValueError):
        stats.file_delays({"a": 1.0}, {}, {})


def test_files_per_batch():
    fb = {"a": 1, "b": 1, "c": 2, "d": 5}
    assert stats.files_per_batch(fb, ["a", "b", "c", "d"]) == [2, 1, 1]


# -- generator ------------------------------------------------------------------

def test_lateness_is_the_worst_release_gap():
    due = {"a": 0.0, "b": 1.0, "c": 2.0}
    released = {"a": 0.01, "b": 1.5, "c": 2.2}
    assert stats.lateness(due, released) == pytest.approx(0.5)


def test_backlog_max_counts_released_not_committed():
    released = {"a": 0.0, "b": 1.0, "c": 2.0, "d": 3.0}
    committed = {"a": 2.5, "b": 2.5, "c": 5.0, "d": 5.0}
    assert stats.backlog_max(released, committed) == 3  # a, b, c pending at t=2


def test_backlog_max_applies_a_commit_before_a_release_at_the_same_instant():
    assert stats.backlog_max({"a": 0.0, "b": 1.0}, {"a": 1.0, "b": 2.0}) == 1


# -- inputs and catalogue --------------------------------------------------------

def test_datagen_is_seeded(tmp_path):
    import pyarrow.parquet as pq

    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    datagen.generate(str(a), 7, 0.001)
    datagen.generate(str(b), 7, 0.001)
    datagen.generate(str(c), 8, 0.001)
    for t in ("orders", "lineitem", "documents", "embeddings"):
        ta, tb, tc = (pq.read_table(str(d / f"{t}.parquet")) for d in (a, b, c))
        assert ta.equals(tb)
        assert ta.num_rows == tc.num_rows  # same work for every seed
        assert not ta.equals(tc)


def test_money_columns_are_exact_cents(tmp_path):
    import pyarrow.parquet as pq

    datagen.generate(str(tmp_path), 3, 0.001)
    prices = pq.read_table(str(tmp_path / "lineitem.parquet")).column("l_extendedprice").to_pylist()
    assert all(round(p * 100) / 100 == p for p in prices)


def test_every_per_layer_metric_is_reached_by_some_workload():
    import registry
    import stream

    _, per_layer = run.catalogue()
    prefixes = stream.LAYERS + registry.LAYERS
    assert all(n.startswith(prefixes) for n in per_layer)


# -- tracer (no Spark: job counters stay unset) ------------------------------------

class _Layer:
    def work(self, x):
        return x + 1


def test_tracer_records_nesting_and_restores_patches():
    from spans import Tracer

    tr = Tracer()
    original = _Layer.__dict__["work"]
    tr.patch(_Layer, "work", tr.wrap(_Layer.work, "layer.work"))
    outer = tr.begin("outer")
    assert _Layer().work(1) == 2
    tr.end(outer)
    tr.restore()
    assert _Layer.__dict__["work"] is original
    assert _Layer().work(1) == 2 and len(tr.spans) == 2  # no span once restored
    inner = tr.named("layer.work")[0]
    assert inner["parent"] == outer["id"]
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]


def test_tracer_sums_spark_metrics_over_spans():
    from spans import Tracer

    tr = Tracer()
    tr.block_bytes_peak = 7
    spans = [{"tasks": 2, "memory_spill_bytes": 1, "disk_spill_bytes": 2},
             {"tasks": 3, "jvm_gc_ms": 4}]
    got = tr.spark_metrics(spans)
    assert got["spark.tasks"] == (5, "count")
    assert got["spark.spill_bytes"] == (3, "bytes")
    assert got["spark.jvm_gc_ms"] == (4, "ms")
    assert got["storage.block_bytes_peak"] == (7, "bytes")
    assert set(got) <= set(run.catalogue()[1])
