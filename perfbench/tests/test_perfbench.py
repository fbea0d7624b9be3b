"""Self-tests of the benchmark: seeded inputs, metric names, span arithmetic.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
None of these start Spark.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from types import SimpleNamespace

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))

import datagen  # noqa: E402
import report  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

SMALL = {"star_scale": 0.001, "event_scale": 0.001, "n_docs": 200, "n_vecs": 200}


@pytest.fixture(autouse=True)
def _repo_root(monkeypatch):
    monkeypatch.chdir(ROOT)


def _inputs(tmp_path, seed: int) -> dict[str, str]:
    """sha256 of every file the parent process writes for ``seed``."""
    d = datagen.generate(str(tmp_path / "data"), seed, **SMALL)
    datagen.write_batches(str(tmp_path / "batches"), seed, d, 3, 3, 50, 10_000)
    out = {}
    for root, _, files in os.walk(tmp_path):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, tmp_path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_gives_identical_inputs_and_batches(tmp_path):
    a, b = _inputs(tmp_path / "a", 7), _inputs(tmp_path / "b", 7)
    assert a == b


def test_other_seed_changes_inputs_and_batches(tmp_path):
    a, b = _inputs(tmp_path / "a", 7), _inputs(tmp_path / "b", 8)
    assert a.keys() == b.keys()
    for key in ("data/lineitem.parquet", "data/events.parquet", "data/documents.parquet",
                "data/embeddings.parquet", "batches/vec-0000.parquet",
                "batches/vec-0002.parquet", "batches/docs-0000/part-0.parquet",
                "batches/docs-0002/part-0.parquet"):
        assert a[key] != b[key], key


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_request_sequence_follows_the_seed(workload):
    seq = lambda seed: [workloads.pass_order(workload, seed, p) for p in range(4)]  # noqa: E731
    assert seq(3) == seq(3)
    for order in seq(3):
        assert sorted(order) == sorted(workloads.WORKLOADS[workload])
    if workload != "store_ingest_serve":  # a store cycle has a fixed order
        assert seq(3) != seq(4)


def test_document_batch_is_near_duplicates_with_fresh_ids(tmp_path):
    d = datagen.generate(str(tmp_path), 1, **SMALL)
    batch = datagen.document_batch(1, 0, d, 5_000, 20)
    assert batch.column("doc_id").to_pylist() == list(range(5_000, 5_020))
    corpus = set(pq.read_table(os.path.join(d, "documents.parquet")).column("text").to_pylist())
    for text in batch.column("text").to_pylist():
        toks = text.split(" ")
        best = max(sum(a == b for a, b in zip(toks, c.split(" "))) / len(toks)
                   for c in corpus if len(c.split(" ")) == len(toks))
        assert best >= 0.8


def _spans(*rows):
    return [{"id": i, "name": n, "layer": n.split(".")[0], "parent": p, "rid": "1:q",
             "start": s, "end": e} for i, (n, p, s, e) in enumerate(rows)]


def test_self_time_subtracts_the_union_of_children():
    spans = _spans(
        ("request", None, 0.0, 10.0),
        ("workload.build", 0, 1.0, 6.0),
        ("operators.a", 1, 2.0, 4.0),
        ("operators.b", 1, 3.0, 5.0),  # overlaps a: union 2..5
        ("sources.write_table", 2, 2.5, 3.0),
        ("exec.run", 0, 6.0, 9.5),
        ("operators.c", 1, 5.5, 7.0),  # sticks out of its parent: clipped
    )
    st = tracing.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 3.5)
    assert st[1] == pytest.approx(5.0 - 3.5)  # children cover 2..5 and 5.5..6
    assert st[2] == pytest.approx(2.0 - 0.5)
    assert st[3] == pytest.approx(2.0)
    assert st[4] == pytest.approx(0.5)


def _fake_runner(store: bool):
    st = SimpleNamespace(metrics=lambda: {"serve_p50_s": 1.0}) if store else None
    return SimpleNamespace(
        latencies=[("q", 1.0), ("serve_knn", 2.0)],
        pass_walls=[(False, 3.0), (True, 3.3), (False, 3.1)],
        pass_bytes=[(False, 10), (True, 1000), (False, 10)], pending_at_serve=[0, 1],
        store=st, warm_rows={"knn_ivf_served": (["a"], [(1,), (2,)])},
    )


def test_untraced_run_reports_every_end_to_end_metric_with_unit():
    vals = report.end_to_end(_fake_runner(False), {"setup_s": 20.0, "peak_rss_mb": 900.0})
    out = report.with_units(vals, "end_to_end")
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {
        k: v["unit"] for k, v in out.items()}
    assert all(v["value"] > 0 for v in out.values())


def test_traced_run_reports_every_per_layer_metric_with_unit():
    spans = _spans(("request", None, 0.0, 2.0), ("workload.build", 0, 0.0, 0.5),
                   ("exec.run", 0, 0.5, 2.0))
    tracer = SimpleNamespace(spans=spans, counts={"sources.read_calls": 3})
    listener = SimpleNamespace(progress=[(1, {"id": "q", "durationMs": {"addBatch": 5},
                                              "numInputRows": 10, "state_rows": 4,
                                              "state_mem": 100})])
    rest = {
        "jobs": [{"jobId": 0, "jobGroup": "pb|1:q|exec", "stageIds": [0]},
                 {"jobId": 1, "jobGroup": "pb|1:q|eager", "stageIds": [1]},
                 {"jobId": 2, "jobGroup": "pb|2:append_vectors|eager", "stageIds": [2]}],
        "stages": {(0, 0): {"status": "COMPLETE", "numTasks": 4, "executorCpuTime": 1e9,
                            "executorRunTime": 1500}},
        "sql": [],
    }
    timings = {k: 1.0 for k in ("session.start_s", "session.warm_s", "store.build_s",
                                "box.canary_s", "box.load_avg", "box.cpus")}
    vals = report.per_layer(_fake_runner(True), tracer, listener, rest, timings)
    out = report.with_units(vals, "per_layer")
    assert set(out) == set(report.declared("per_layer"))
    assert out["exec.task_offcpu_s"]["value"] == pytest.approx(0.5)
    assert out["streaming.addbatch_ms"]["value"] == 5
    assert out["trace.overhead_frac"]["value"] == pytest.approx(3.3 / 3.05 - 1)
    # eager jobs of a query are plan build; those of a store write are not
    assert out["workload.build_jobs"]["value"] == 1
    assert out["operators.eager_jobs"]["value"] == 2
    assert out["store.bytes_written"]["value"] == 1000
    assert out["store.pending_batches"]["value"] == 0.5


def test_missing_metric_is_an_error():
    with pytest.raises(KeyError):
        report.with_units({"setup_s": 1.0}, "end_to_end")
