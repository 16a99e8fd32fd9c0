"""The benchmark's own tests.  ``python -m pytest lssbench -q``

The end-to-end tests run the benchmark command on every workload at a
tiny size (about a minute each at local[4]); the rest run without Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from lssbench import checks, inputs, run, workloads

ROOT = run.ROOT
TINY = {"dedup_batch": 120, "boilerplate_skew": 120, "stream_ingest": 90,
        "curation_funnel": 120}


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int, cwd: str = ROOT, docs: int | None = None):
    cmd = [sys.executable, os.path.join(cwd, "lssbench", "run.py"),
           "--workload", workload, "--seed", "3", "--seconds", "1",
           "--trace", str(trace)]
    if docs:
        cmd += ["--docs", str(docs)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


# -- declared metrics -----------------------------------------------------------


def test_declared_metrics_match_the_command():
    bench = _benchmark_json()
    declared_e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert declared_e2e == run.END_TO_END
    assert declared_layer == run.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)


# -- checks on hand-made results -------------------------------------------------


def _truth(n_pairs: int) -> dict:
    return {(2 * i, 2 * i + 1): 0.9 for i in range(n_pairs)}


def _no_extra(pairs):
    return {p: 0.0 for p in pairs}


def test_pair_check_passes_on_exact_result():
    truth = _truth(50)
    q = checks.pair_quality(set(truth), truth, 0.707, _no_extra)
    assert q["recall"] == 1.0 and q["precision"] == 1.0
    assert checks.check_pair_quality(q) == []


def test_pair_check_fails_on_one_dropped_edge():
    truth = _truth(50)
    edges = set(truth)
    edges.remove((0, 1))
    q = checks.pair_quality(edges, truth, 0.707, _no_extra)
    assert q["recall"] == pytest.approx(0.98)
    assert checks.check_pair_quality(q)


def test_pair_check_fails_on_one_false_edge():
    truth = _truth(50)
    q = checks.pair_quality(set(truth) | {(0, 2)}, truth, 0.707, _no_extra)
    assert q["precision"] < 1.0
    assert checks.check_pair_quality(q)


def test_cluster_check_fails_when_an_edge_crosses_clusters():
    labels = [(1, 1), (2, 1), (3, 3), (4, 3)]
    assert checks.check_clusters(labels, {(1, 2), (3, 4)}) == []
    assert checks.check_clusters(labels, {(1, 2), (2, 3)})
    assert checks.check_clusters([(1, 2), (2, 2)], {(1, 2)})  # label not the min


def test_stream_and_funnel_checks_fail_on_divergence():
    a = [(1, 1), (2, 1), (3, 3)]
    b = [(1, 1), (2, 2), (3, 3)]
    assert checks.check_stream_end_state(["x", "y"], ["y", "x"], a, a) == []
    assert checks.check_stream_end_state(["x"], ["x", "y"], a, a)
    assert checks.check_stream_end_state(["x"], ["x"], a, b)
    assert checks.check_funnel([("raw", 3, 3), ("exact_dedup", 3, 2)], a, a) == []
    assert checks.check_funnel([("exact_dedup", 2, 3)], a, a)
    assert checks.check_funnel([("raw", 3, 3)], a, b)


def _write(path: str, cols: dict) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(path, "part-0.parquet"))


def test_spine_check_reads_the_store_and_catches_a_dropped_edge(tmp_path):
    """``check_op`` over a committed store written by hand: the exact
    result passes; the same store with one edge removed fails."""
    from localitysensitivesketch_spark.config import SketchConfig

    cfg = SketchConfig()
    inp = inputs.build(str(tmp_path), "spine", 60, 5, cfg)
    docs = inputs.read_texts(inp.docs_path)
    truth = [p for p, j in inp.truth.items() if j >= cfg.jaccard_threshold]
    # one missing pair of fewer than 100 takes recall below 0.99
    assert 0 < len(truth) < 100
    parent = {d: d for d in docs}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in truth:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    wl = workloads.WORKLOADS["dedup_batch"]
    for name, edges in (("good", truth), ("bad", truth[1:])):
        store = str(tmp_path / name)
        _write(os.path.join(store, "edges", "data.parquet"),
               {"id1": [a for a, _ in edges], "id2": [b for _, b in edges]})
        _write(os.path.join(store, "clusters", "data.parquet"),
               {"doc_id": list(docs), "cluster_id": [find(d) for d in docs]})
        fails, _ = workloads.check_op(None, wl, inp, store, cfg)
        assert (fails == []) == (name == "good"), fails


def test_oracle_scores_equal_exact_jaccard():
    from localitysensitivesketch_spark.config import SketchConfig
    from localitysensitivesketch_spark.oracle import exact_jaccard

    cfg = SketchConfig()
    texts = {1: "a b c d e f g h", 2: "a b c d e f g x", 3: "", 4: "z"}
    pairs = [(1, 2), (1, 3), (3, 4), (1, 1)]
    scores = inputs.oracle_pair_scores(texts, pairs, cfg)
    for a, b in pairs:
        assert scores[(a, b)] == exact_jaccard(texts[a], texts[b], cfg)


def test_inputs_depend_only_on_the_seed(tmp_path):
    from localitysensitivesketch_spark.config import SketchConfig

    cfg = SketchConfig()
    a = inputs.build(str(tmp_path / "a"), "w", 80, 7, cfg, boilerplate=True)
    b = inputs.build(str(tmp_path / "b"), "w", 80, 7, cfg, boilerplate=True)
    c = inputs.build(str(tmp_path / "c"), "w", 80, 8, cfg, boilerplate=True)
    assert inputs.read_texts(a.docs_path) == inputs.read_texts(b.docs_path)
    assert a.truth == b.truth
    assert inputs.read_texts(a.docs_path) != inputs.read_texts(c.docs_path)


# -- the command, end to end --------------------------------------------------


@pytest.mark.parametrize("workload", sorted(TINY))
def test_workload_end_to_end(workload):
    p = _run(workload, 0, docs=TINY[workload])
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["attempted"] >= 1 and out["failed"] == 0
    assert {k: v["unit"] for k, v in out["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_run_reports_every_layer_metric_and_harvests_run_no_job():
    p = _run("dedup_batch", 1, docs=TINY["dedup_batch"])
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert {k: v["unit"] for k, v in out["metrics"].items()} == run.PER_LAYER
    with open(os.path.join(run.WORK, "records", "dedup_batch-s3-t1.json")) as f:
        rec = json.load(f)
    assert rec["harvests"] > 0 and rec["harvest_jobs"] == 0
    assert rec["warmed_up"] is True and rec["warmup_s"] > 0
    names = {s["name"] for s in rec["spans"][0]}
    assert {"DedupPipeline.run", "commit:signatures", "commit:clusters"} <= names


def test_command_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "lssbench"), tmp_path / "lssbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("dedup_batch", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
