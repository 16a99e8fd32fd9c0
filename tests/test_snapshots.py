"""Snapshot / time-travel tests for the CheckpointStore (Iceberg parity
on the parquet fallback — the north_rule names Iceberg, whose snapshot
model gives versioned commits, time-travel reads, rollback, and
expire_snapshots; `plans/pipeline.py` realizes the same surface on plain
parquet: superseded versions archive under `_history/<snapshot_id>/`,
`snapshots.jsonl` is the per-stage snapshot-metadata log, `read(stage,
snapshot_id=)` time-travels, `rollback` is a new undoable commit, and
retention bounds disk).

Reference analogue: the window flush + serialize + resume protocol keeps
each flushed window addressable until superseded
(`Sketching/Sub4SketchingKVStream.java:419-452`); here each stage commit
is the flushed window and the snapshot id addresses it.
"""

from __future__ import annotations

import json
import os

import pytest

from localitysensitivesketch_spark.config import SketchConfig
from localitysensitivesketch_spark.plans.pipeline import CheckpointStore, DedupPipeline

CFG = SketchConfig()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _mk(spark, vals):
    return spark.createDataFrame([(i, v) for i, v in vals], "id int, v string")


def test_snapshot_history_time_travel_and_ids(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "snap"), CFG)
    v1 = [(1, "a"), (2, "b")]
    v2 = [(1, "a"), (3, "c"), (4, "d")]
    store.write("t", _mk(spark, v1))
    store.write("t", _mk(spark, v2))

    snaps = store.snapshots("t")
    assert [s["snapshot_id"] for s in snaps] == [1, 2]
    assert [s["parent_id"] for s in snaps] == [None, 1]
    assert [s["rows"] for s in snaps] == [2, 3]
    assert all(s["operation"] == "overwrite" for s in snaps)

    # current read = v2; time travel = v1; current is also addressable
    assert _rows(store.read("t")) == _rows(_mk(spark, v2))
    assert _rows(store.read("t", snapshot_id=1)) == _rows(_mk(spark, v1))
    assert _rows(store.read("t", snapshot_id=2)) == _rows(_mk(spark, v2))

    with pytest.raises(FileNotFoundError, match="no snapshot 9"):
        store.read("t", snapshot_id=9)
    with pytest.raises(FileNotFoundError, match="no snapshot history"):
        store.read("u", snapshot_id=1)


def test_rollback_is_a_new_undoable_commit(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "rb"), CFG)
    v1 = [(1, "a")]
    v2 = [(2, "b"), (3, "c")]
    store.write("t", _mk(spark, v1))
    store.write("t", _mk(spark, v2))

    store.rollback("t", 1)
    assert _rows(store.read("t")) == _rows(_mk(spark, v1))
    snaps = store.snapshots("t")
    assert [s["snapshot_id"] for s in snaps] == [1, 2, 3]
    assert snaps[-1]["operation"] == "rollback-to-1"
    assert snaps[-1]["rows"] == 1
    # the rolled-over v2 stays addressable — rollback is undoable
    assert _rows(store.read("t", snapshot_id=2)) == _rows(_mk(spark, v2))
    store.rollback("t", 2)
    assert _rows(store.read("t")) == _rows(_mk(spark, v2))
    # the stage stays committed throughout (marker rewritten per commit)
    assert store.is_committed("t")


def test_read_changes_row_level_changelog(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "cdc"), CFG)
    v1 = [(1, "a"), (2, "b"), (2, "b")]  # duplicate row: multiset diff
    v2 = [(1, "a"), (2, "b"), (3, "c")]
    store.write("t", _mk(spark, v1))
    store.write("t", _mk(spark, v2))
    changes = sorted(
        (r["id"], r["v"], r["_change"])
        for r in store.read_changes("t", from_snapshot_id=1).collect()
    )
    assert changes == [(2, "b", "removed"), (3, "c", "added")]
    # explicit to_snapshot_id, inverted direction
    inv = sorted(
        (r["id"], r["v"], r["_change"])
        for r in store.read_changes("t", 2, to_snapshot_id=1).collect()
    )
    assert inv == [(2, "b", "added"), (3, "c", "removed")]


def test_expire_snapshots_retention_bounds_history(spark, tmp_path):
    store = CheckpointStore(
        spark, str(tmp_path / "exp"), CFG, snapshot_retention=2
    )
    versions = [[(i, f"v{i}")] for i in range(1, 6)]
    for v in versions:
        store.write("t", _mk(spark, v))
    snaps = store.snapshots("t")
    assert [s["snapshot_id"] for s in snaps] == [1, 2, 3, 4, 5]
    # retention=2 superseded versions: 3 and 4 retained, 1 and 2 expired
    assert _rows(store.read("t", snapshot_id=4)) == _rows(_mk(spark, versions[3]))
    assert _rows(store.read("t", snapshot_id=3)) == _rows(_mk(spark, versions[2]))
    with pytest.raises(FileNotFoundError, match="expired"):
        store.read("t", snapshot_id=1)
    # metadata (the snapshot log) is never expired, only data
    assert len(store.snapshots("t")) == 5


def test_pre_snapshot_era_store_keeps_working(spark, tmp_path):
    """A checkpoint written before the snapshot index existed has no
    snapshots.jsonl — reads, commits, and resume must work unchanged
    (the superseded pre-era table archives under the reserved id 0,
    which is retention-expired but never addressable)."""
    store = CheckpointStore(spark, str(tmp_path / "old"), CFG)
    v1 = [(1, "a")]
    v2 = [(2, "b")]
    store.write("t", _mk(spark, v1))
    os.remove(store._snapshots_path("t"))  # simulate a pre-era store

    assert store.is_committed("t")
    assert _rows(store.read("t")) == _rows(_mk(spark, v1))
    store.write("t", _mk(spark, v2))
    assert _rows(store.read("t")) == _rows(_mk(spark, v2))
    # ids restart at 1; the unaddressable pre-era version sits in
    # _history/0 until retention expires it
    assert [s["snapshot_id"] for s in store.snapshots("t")] == [1]
    with pytest.raises(FileNotFoundError):
        store.read("t", snapshot_id=0)


def test_incremental_merge_keeps_pre_merge_clusters_readable(spark, tmp_path):
    """The MERGE pattern the archive exists for: after incremental_update
    rewrites the spine in place, the pre-merge cluster assignment is one
    time-travel read away (audit/debug at 100 TB without a second copy of
    the pipeline output)."""
    from pyspark.sql import functions as F

    from localitysensitivesketch_spark.fixtures import (
        corpus_to_spark,
        generate_corpus,
    )
    from localitysensitivesketch_spark.operators.signatures import with_doc_id
    from localitysensitivesketch_spark.plans.incremental import (
        incremental_update,
    )

    corpus = generate_corpus(n_docs=100, seed=31)
    docs = with_doc_id(corpus_to_spark(spark, corpus)).cache()
    old_urls = set(sorted(corpus.url)[:60])
    old_docs = docs.filter(F.col("url").isin(*old_urls))
    new_docs = docs.filter(~F.col("url").isin(*old_urls))

    pipe = DedupPipeline(spark, str(tmp_path / "inc"), CFG)
    res = pipe.run(old_docs)
    pre = _rows(res.clusters)
    pre_snap = pipe.store.snapshots("clusters")[-1]["snapshot_id"]

    incremental_update(pipe.store, docs, new_docs, CFG)
    post = _rows(pipe.store.read("clusters"))
    assert post != pre  # the merge actually changed the assignment
    assert _rows(pipe.store.read("clusters", snapshot_id=pre_snap)) == pre


# -- commit cost and the marker's row counts --------------------------------


def _committed_files(spark, store, stage):
    return spark.read.parquet(os.path.join(store._stage_dir(stage), "data.parquet"))


def _marker(store, stage):
    with open(store._commit_path(stage)) as f:
        return json.load(f)


def test_commit_starts_no_job_beyond_its_data_write(spark, tmp_path, job_ids):
    """Rows, per-partition rows and the returned frame's schema come from
    the written files' footers and ``df``'s schema: committing a stage
    starts exactly the jobs a bare write of the same frame starts — both
    for a first commit and for one that archives a superseded version."""
    from pyspark.sql import functions as F

    store = CheckpointStore(spark, str(tmp_path / "jobs"), CFG)
    df = (
        spark.range(2000)
        .withColumn("k", F.col("id") % 7)
        .groupBy("k")
        .agg(F.count("*").alias("n"), F.collect_list("id").alias("ids"))
    )
    for attempt in range(2):
        with job_ids(f"bare-write-{attempt}") as bare:
            df.write.mode("overwrite").parquet(str(tmp_path / "bare"))
        with job_ids(f"commit-{attempt}") as commit:
            out = store.write("t", df)
        assert bare and len(commit) == len(bare), (attempt, bare, commit)
        assert _marker(store, "t")["rows"] == 7
        assert out.schema == _committed_files(spark, store, "t").schema
    assert [s["rows"] for s in store.snapshots("t")] == [7, 7]


def test_sliced_commit_counts_slice_rows_from_footers(spark, tmp_path, job_ids):
    """A sliced commit starts the jobs of its slice writes plus one: the
    schema-inferring read-back.  Its per-slice rows come from the slice
    directories' footers and leave out slices without rows."""
    from pyspark.sql import functions as F

    df = spark.range(400).withColumn("k", F.col("id") % 3)
    key = F.col("k")  # k == 3 never holds: slice 3 has no rows
    with job_ids("bare-slices") as bare:
        for s in range(4):
            df.filter(F.pmod(key, F.lit(4)) == s).write.mode("overwrite").parquet(
                str(tmp_path / "bare" / f"__slice={s}")
            )
    store = CheckpointStore(spark, str(tmp_path / "sliced"), CFG)
    with job_ids("sliced-commit") as sliced:
        out = store.resume_partitioned("t", df, lambda d: d, key, n_slices=4)
    assert len(bare) == 4 and len(sliced) <= len(bare) + 1, (bare, sliced)
    assert _marker(store, "t")["partitions"] == [[0, 134], [1, 133], [2, 133]]
    assert _marker(store, "t")["rows"] == out.count() == 400
    assert sorted(out.columns) == ["id", "k"]


def _assert_stage_markers(spark, pipe, res) -> dict[str, int]:
    frames = (
        res.signatures, res.candidates, res.skew_metrics, res.verified,
        res.edges, res.clusters,
    )
    rows = {}
    for stage, frame in zip(DedupPipeline.STAGES, frames):
        files = _committed_files(spark, pipe.store, stage)
        meta = _marker(pipe.store, stage)
        assert meta["rows"] == files.count(), stage
        parts = pipe.store.partition_lineage(stage).collect()
        assert sum(r["rows"] for r in parts) == meta["rows"], stage
        assert all(r["stage"] == stage for r in parts), stage
        assert frame.schema == files.schema, stage
        rows[stage] = meta["rows"]
    return rows


def test_every_pipeline_stage_marker_matches_its_files(spark, tmp_path):
    """Every stage of a DedupPipeline run — including stages with no rows
    (a corpus without near-duplicates has empty candidates and edges) —
    records the row count of its committed files, per-partition rows
    summing to it, and returns a frame with the files' inferred schema."""
    import random

    from localitysensitivesketch_spark.fixtures import (
        corpus_to_spark,
        generate_corpus,
    )
    from localitysensitivesketch_spark.operators.signatures import with_doc_id

    docs = with_doc_id(
        corpus_to_spark(spark, generate_corpus(n_docs=60, seed=41))
    ).cache()
    pipe = DedupPipeline(spark, str(tmp_path / "dups"), CFG)
    rows = _assert_stage_markers(spark, pipe, pipe.run(docs))
    assert rows["signatures"] == 60 and rows["edges"] > 0

    rng = random.Random(5)
    distinct = spark.createDataFrame(
        [
            (i, " ".join(f"w{rng.randrange(10**6)}" for _ in range(30)))
            for i in range(40)
        ],
        "doc_id long, text string",
    )
    pipe = DedupPipeline(spark, str(tmp_path / "distinct"), CFG)
    rows = _assert_stage_markers(spark, pipe, pipe.run(distinct))
    assert rows["signatures"] == 40 and rows["clusters"] == 40
    assert rows["candidates"] == rows["verified"] == rows["edges"] == 0


def test_marker_without_partition_rows_resumes_but_has_no_partition_lineage(
    spark, tmp_path
):
    """A store committed before markers carried per-partition rows stays
    committed and resumes unchanged; asking it for partition lineage is
    an error that names the stage."""
    import time

    from localitysensitivesketch_spark.fixtures import (
        corpus_to_spark,
        generate_corpus,
    )
    from localitysensitivesketch_spark.operators.signatures import with_doc_id

    docs = with_doc_id(
        corpus_to_spark(spark, generate_corpus(n_docs=30, seed=43))
    ).cache()
    root = str(tmp_path / "old")
    first = DedupPipeline(spark, root, CFG).run(docs)
    want = _rows(first.clusters)

    store = CheckpointStore(spark, root, CFG)
    for stage in DedupPipeline.STAGES:
        old = {
            "run_id": "before-partition-rows",
            "stage": stage,
            "status": "ok",
            "rows": _committed_files(spark, store, stage).count(),
            "n_partitions": 1,
            "wall_sec": 0.5,
            "config_sha": store.cfg_sha,
            "committed_at": time.time(),
            "snapshot_id": 1,
        }
        with open(store._commit_path(stage), "w") as f:
            json.dump(old, f)
        assert store.is_committed(stage)

    again = DedupPipeline(spark, root, CFG).run(docs)
    assert again.stages_run == []
    assert again.stages_resumed == list(DedupPipeline.STAGES)
    assert _rows(again.clusters) == want
    with pytest.raises(
        ValueError, match="'edges' was committed without per-partition rows"
    ):
        store.partition_lineage("edges")
