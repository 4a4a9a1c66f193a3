"""The benchmark's own arithmetic, checked without a JVM.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import harness, inputs
from perfbench.harness import PlanNode, Span, Tally, Tracer
from perfbench.metrics import PER_LAYER, emit
from perfbench.workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


# --- percentile rule -------------------------------------------------------


@pytest.mark.parametrize(
    "n, want",
    [(19, None), (20, 50), (39, 50), (40, 75), (99, 75), (100, 90), (199, 90), (200, 95), (1000, 99), (10000, 99.9)],
)
def test_highest_percentile_keeps_ten_samples_beyond(n, want):
    assert harness.highest_percentile(n) == want
    if want is not None:
        assert n * (1 - want / 100) >= 10 - 1e-9


def test_percentile_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert harness.percentile(xs, 50) == 50
    assert harness.percentile(xs, 90) == 90
    assert harness.percentile([3.0], 90) == 3.0
    assert harness.percentile([5, 1, 4, 2, 3], 50) == 3
    with pytest.raises(ValueError):
        harness.percentile([], 50)


# --- span self time ----------------------------------------------------------


def _span(sid, start, end, parent=None, name="s"):
    return Span(name, start, end, parent, "r", sid)


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 3.0, 0),
        _span(2, 2.0, 5.0, 0),  # overlaps span 1: [1, 5] counts once
        _span(3, 8.0, 12.0, 0),  # runs past the parent: only [8, 10] counts
        _span(4, 1.5, 2.5, 1),  # grandchild: only its own parent loses it
    ]
    st = harness.self_times(spans)
    assert st[0] == pytest.approx(10 - 4 - 2)
    assert st[1] == pytest.approx(2 - 1)
    assert st[2] == pytest.approx(3)
    assert st[4] == pytest.approx(1)


def test_self_times_of_a_tree_sum_to_the_root():
    spans = [_span(0, 0, 9), _span(1, 1, 4, 0), _span(2, 4, 6, 0), _span(3, 2, 3, 1), _span(4, 6.5, 8, 0)]
    assert sum(harness.self_times(spans).values()) == pytest.approx(9)


def test_tracer_nests_by_call_order_and_disabled_records_nothing():
    tr = Tracer("run-1")
    with tr.span("job"):
        with tr.span("a"):
            pass
        with tr.span("b"):
            with tr.span("c"):
                pass
    by = {s.name: s for s in tr.spans}
    assert by["job"].parent is None
    assert by["a"].parent == by["b"].parent == by["job"].sid
    assert by["c"].parent == by["b"].sid
    assert all(s.run_id == "run-1" and s.end >= s.start for s in tr.spans)
    assert [d["name"] for d in tr.to_json()] == ["job", "a", "b", "c"]
    off = Tracer("run-2", enabled=False)
    with off.span("job"):
        pass
    assert off.spans == []


# --- SQL metrics from a recorded plan ----------------------------------------


@pytest.mark.parametrize(
    "kind, text, want",
    [
        ("timing", "total (min, med, max (stageId: taskId))\n8.1 s (1.9 s, 2.0 s, 2.1 s (stage 6.0: task 8))", 8100.0),
        ("timing", "345 ms", 345.0),
        ("timing", "1.5 m", 90000.0),
        ("nsTiming", "16 ms", 16.0),
        ("size", "129.8 KiB", 129.8 * 1024),
        ("size", "total (min, med, max (stageId: taskId))\n1.5 MiB (1 B, 2 B, 3 B (stage 1.0: task 2))", 1.5 * 2**20),
        ("size", "0.0 B", 0.0),
        ("sum", "4,229", 4229.0),
        ("sum", "", 0.0),
        ("sum", None, 0.0),
    ],
)
def test_parse_metric(kind, text, want):
    assert harness.parse_metric(kind, text) == pytest.approx(want)


def _fixture_nodes() -> list[PlanNode]:
    with open(os.path.join(HERE, "fixtures", "ingest_write_plan.json")) as f:
        raw = json.load(f)
    return [PlanNode(n["name"], n["desc"], {k: tuple(v) for k, v in n["metrics"].items()}) for n in raw]


def test_layer_metrics_from_recorded_checkpoint_write():
    """One bucket-batch write of extract_with_checkpoint: fast-path and
    shard-path MapInPandas, three shuffles, the two-phase reassembly
    aggregate, two parquet scans and the partitioned write."""
    nodes = _fixture_nodes()
    py = harness.python_layer(nodes, harness.is_extract_python)
    assert py["python_total_ms"] == pytest.approx(1700 + 3900)
    assert py["python_init_ms"] == pytest.approx(3800 + 8300)
    assert py["python_sent_bytes"] == pytest.approx((164.1 + 129.8) * 1024)
    assert py["python_received_bytes"] == pytest.approx((94.4 + 117.9) * 1024)
    sh = harness.shuffle_layer(nodes)
    assert sh["shuffle_bytes"] == pytest.approx((62.6 + 64.6 + 51.1) * 1024)
    assert sh["shuffle_write_ms"] == pytest.approx(16 + 50 + 24)
    assert sh["shuffle_fetch_wait_ms"] == 0
    assert harness.sum_metric(nodes, "time in aggregation build", harness.is_reassembly_agg) == pytest.approx(403 + 4000)
    assert harness.sum_metric(nodes, "size of files read", harness.is_scan) == pytest.approx(2 * 87.9 * 1024)
    assert harness.sum_metric(nodes, "scan time", harness.is_scan) == pytest.approx(210 + 206)
    write = [n for n in nodes if n.name.startswith("Execute InsertIntoHadoopFsRelationCommand")]
    assert write[0].value("number of written files") == 98
    assert write[0].value("written output") == pytest.approx(320.2 * 1024)
    # no chunk or embed UDF in this plan
    assert harness.python_layer(nodes, harness.is_chunk_python)["python_total_ms"] == 0
    assert harness.python_layer(nodes, harness.is_embed_python)["python_total_ms"] == 0
    stages = {harness.metric_stage(n.metrics["time in aggregation build"][1]) for n in nodes if harness.is_reassembly_agg(n)}
    assert stages == {5, 9}
    assert harness.metric_stage("108 ms") is None


# --- failure accounting ---------------------------------------------------------


def test_tally_counts_failures_against_attempts_and_keeps_ids():
    t = Tally()
    assert t.failed_frac == 1.0  # nothing attempted is not a pass
    for i in range(8):
        t.check(i != 3, f"doc {i}")
    t.error("op 9", RuntimeError("boom"))
    assert (t.attempted, t.failed) == (9, 2)
    assert t.failed_frac == pytest.approx(2 / 9)
    assert t.failures[0] == "doc 3"
    assert t.failures[1].startswith("op 9: RuntimeError: boom")


# --- metric list, BENCHMARK.json and the result line ---------------------------------


def test_workloads_match_benchmark_json_and_pinned_inputs():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = {w["name"] for w in json.load(f)["workloads"]}
    with open(inputs.LOCK_PATH) as f:
        assert set(json.load(f)["workloads"]) == names
    assert set(WORKLOADS) == names


def test_emit_reports_every_name_with_its_unit():
    out = emit({"chunk.chunks": 7}, PER_LAYER)
    assert list(out) == PER_LAYER
    assert out["chunk.chunks"] == {"value": 7.0, "unit": "count"}
    assert out["search.self_s"] == {"value": 0.0, "unit": "s"}


def test_fingerprint_is_order_free_and_content_sensitive():
    docs = [
        {"doc_id": "b", "fmt": "html", "size_bytes": 3, "spans": [{"kind": "html", "text": "x", "media_ref": "", "offset": 0}]},
        {"doc_id": "a", "fmt": "pdf", "size_bytes": 5, "spans": [{"kind": "pdf_page", "text": "y", "media_ref": "", "offset": 0}]},
    ]
    fp = inputs.fingerprint(docs)
    assert fp["docs"] == 2 and fp["raw_bytes"] == 8 and fp["formats"] == {"html": 1, "pdf": 1}
    assert inputs.fingerprint(docs[::-1]) == fp
    docs[0]["spans"][0]["text"] = "z"
    assert inputs.fingerprint(docs)["sha256"] != fp["sha256"]


def test_refuses_without_the_engine(tmp_path):
    """With only the benchmark's files present the command exits non-zero
    and prints no result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench", ignore=shutil.ignore_patterns("_work"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "search_topk", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
