"""Tests of the benchmark's own code: statistics, tracing, metric parsing,
generators, and a toy-size run of every workload in both modes.

    python3 -m pytest perfbench/tests -q        (from the repository root)
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path[:0] = [ROOT]

from perfbench import harness, inputs, probes, workloads  # noqa: E402
from perfbench.stats import percentile, summary, tail_percentile  # noqa: E402
from perfbench.trace import Tracer, prefix_self_times  # noqa: E402


# ---- the tail-percentile rule ----

@pytest.mark.parametrize(
    "n, expected",
    [(1, None), (19, None), (20, 50), (40, 75), (41, 75), (100, 90), (101, 90), (201, 95), (1001, 99)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected


def test_tail_percentile_counts_samples_strictly_beyond_the_rank():
    values = list(range(40))
    p = tail_percentile(len(values))
    cut = percentile(values, p)
    assert sum(v > cut for v in values) >= 10
    higher = {75: 90}[p]
    assert sum(v > percentile(values, higher) for v in values) < 10


def test_summary_reports_median_quartiles_count_and_tail():
    s = summary([float(v) for v in range(1, 21)])
    assert s["n"] == 20 and s["median"] == 10.5
    assert s["q1"] < s["median"] < s["q3"]
    assert s["p50"] == 10.5 and "p75" not in s


# ---- self time ----

def test_prefix_self_times_are_differences_of_growing_prefixes():
    got = prefix_self_times([("scan.s", 1.0), ("sha.s", 1.25), ("scrub.s", 4.0)])
    assert got == {"scan.s": 1.0, "sha.s": 0.25, "scrub.s": 2.75}


def test_spans_record_parent_and_iteration():
    tr = Tracer()
    tr.iteration = "batch_clean-traced-1"
    with tr.span("outer") as outer:
        with tr.span("inner"):
            pass
    inner = tr.spans[1]
    assert inner["parent"] == outer["id"] and inner["iteration"] == "batch_clean-traced-1"
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert tr.durations("inner", "batch_clean") == [inner["end"] - inner["start"]]
    assert tr.durations("inner", "near_dup") == []


# ---- SQL metric parsing ----

@pytest.mark.parametrize(
    "text, value",
    [
        ("total (min, med, max (stageId: taskId))\n3.6 s (883 ms, 892 ms, 897 ms (stage 0.0: task 1))", 3.6),
        ("total (min, med, max (stageId: taskId))\n797.4 KiB (196.3 KiB, 196.3 KiB, 199.4 KiB (stage 0.0: task 2))", 797.4 * 1024),
        ("22 ms", 0.022),
        ("1134.0 B", 1134.0),
        ("100,000", 100000.0),
    ],
)
def test_parse_metric(text, value):
    assert probes.parse_metric(text) == pytest.approx(value)


# ---- generators ----

def test_near_dup_generator_is_seeded_and_plants_pairs():
    docs, planted = inputs.near_dup_docs(400, seed=5)
    again, _ = inputs.near_dup_docs(400, seed=5)
    assert docs.equals(again)
    assert len(planted) == 40 and docs.doc_id.is_unique
    text = dict(zip(docs.doc_id, docs.text))
    for a, b, kind in planted.itertuples(index=False):
        if kind == "rewrap":
            assert text[a].split() == text[b].split() and text[a] != text[b]


def test_brute_force_finds_planted_vectors_and_little_else():
    vecs = inputs.near_dup_vectors(500, seed=5)
    pairs = inputs.cosine_pairs_brute(vecs, 0.8)
    assert 50 <= len(pairs) <= 60  # 50 planted copies, plus copies of one base
    assert (pairs.id_a < pairs.id_b).all()


# ---- toy-size runs of every workload ----

TOY = {
    workloads._CodeFiles: {"corpus_rows": 300},
    workloads.StreamMicro: {"n_files": 2, "rows_per_file": 100},
    workloads.NearDup: {"n_docs": 300, "n_vecs": 200, "parts": 2},
}

LAYER_DETAIL = {
    "batch_clean": [
        "sha.s", "features.s", "scorer.udf_s", "scrub.s", "qf.s", "scorer.kernel_s",
        "scorer.kernel_mb_per_s", "audit.rows", "audit.write_s", "pipeline.output_write_s",
        "pipeline.report_s", "pipeline.bytes_written", "scaling_eff",
    ],
    "incremental_resume": [
        "state.filter_new_s", "state.score_new_s", "state.commit_s", "state.rows_new",
        "state.bytes_written",
    ],
    "near_dup": [
        "minhash.sig_s", "minhash.candidates", "minhash.pairs", "minhash.yield",
        "simhash.s", "simhash.pairs", "embedding.s", "embedding.pairs",
    ],
    "stream_micro": ["stream.add_batch_s", "stream.planning_s", "stream.wal_s", "stream.batches"],
}


@pytest.fixture
def toy(monkeypatch, tmp_path):
    for cls, attrs in TOY.items():
        for k, v in attrs.items():
            monkeypatch.setattr(cls, k, v)
    monkeypatch.setattr(harness, "LADDER_REPS", 1)
    monkeypatch.setattr(harness, "WARMUP", 1)
    monkeypatch.setenv("PYTHONPATH", ROOT)
    return str(tmp_path)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_toy_run_emits_every_metric_with_its_unit(toy, name):
    result, detail = harness.main(name, seed=3, seconds=0.1, trace=False, root=toy)
    assert result["correct"] and result["failed"] == 0, detail["problems"]
    assert result["metrics"] == {
        k: {"value": result["metrics"][k]["value"], "unit": u}
        for k, u in harness.END_TO_END.items()
    }
    assert all(m["value"] > 0 for m in result["metrics"].values())
    assert detail["error_rate"] == 0.0 and detail["iteration_s"]["n"] >= 2
    assert detail["peak_rss_mb"] > 0
    if name == "stream_micro":
        assert detail["batch_latency_s"]["n"] >= 2

    result, detail = harness.main(name, seed=3, seconds=0.1, trace=True, root=toy)
    assert result["correct"], detail["problems"]
    assert {k: m["unit"] for k, m in result["metrics"].items()} == harness.PER_LAYER
    legs = detail["legs"]
    for key in LAYER_DETAIL[name]:
        assert key in detail, key
    for leg in workloads.WORKLOADS[name].legs:
        for key in LAYER_DETAIL[leg]:
            assert key in legs[leg], (leg, key)
    assert os.path.exists(os.path.join(toy, ".perfbench", "traces", f"{name}-s3.json"))
    assert not os.listdir(os.path.join(toy, ".perfbench", "runs"))
