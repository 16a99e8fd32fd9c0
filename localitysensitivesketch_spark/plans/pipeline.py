"""Checkpointed, resumable dedup pipeline — the engine's window/flush layer.

Reference analogue: the sketch window flush + serialize + resume protocol
(``Sketching/Sub4SketchingKVStream.java:419-452`` — on window boundary,
serialize the whole sketch state and publish; ``LSSFingerprintAtomic.java:
1278-1336`` write / ``:1405-1483`` read).  Here every stage boundary is a
durable table commit: signatures, candidate pairs, skew metrics, verified
pairs, edges, cluster labels — plus a ``lineage`` manifest recording
per-stage and per-partition progress + metrics, so any stage is resumable
(north_rule).

Backend: the design target is Iceberg (`df.writeTo(...).append()`,
snapshot-id lineage, MERGE for incremental runs); the sandbox has no
Iceberg runtime jars, so :class:`CheckpointStore` commits parquet
directories with an atomic ``_SUCCESS``-style manifest row instead — and
realizes the Iceberg snapshot model on that fallback: every commit
appends a snapshot row (monotonic id, parent, operation), superseded
versions archive under ``_history/<id>`` with bounded retention, and the
store exposes time-travel ``read(stage, snapshot_id=)``, ``rollback``,
``expire_snapshots`` and a row-level ``read_changes`` changelog.  The
store's surface (write/read/snapshots/lineage) is exactly what an
Iceberg catalog-backed implementation would expose; swap
`_write_parquet` for ``writeTo`` on a real cluster.

Resume safety: a checkpoint is only reused when its recorded SketchConfig
JSON matches the current one (the reference's same-config ⇒ same-clusters
contract) and the stage committed successfully.
"""

from __future__ import annotations

import gc
import json
import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import SketchConfig
from ..session import local_frame
from .incremental import merge_batch

LINEAGE_SCHEMA = (
    "run_id string, stage string, status string, rows long, n_partitions int, "
    "wall_sec double, config_sha string, committed_at double"
)

PARTITION_SCHEMA = "stage string, partition_id int, rows long"


def _footer_rows(data_path: str) -> list[list[int]]:
    """``[write task index, rows]`` for a directory written by one
    ``df.write.parquet``, read from the ``part-NNNNN-…`` files' parquet
    footers on the driver — no Spark job.  ``NNNNN`` is the write task's
    partition index; a task that rolled over into several files
    (``maxRecordsPerFile``) is summed into one pair."""
    import pyarrow.parquet as pq

    rows: dict[int, int] = {}
    for name in os.listdir(data_path):
        if name.startswith("part-"):
            pid = int(name.split("-", 2)[1])
            n = pq.read_metadata(os.path.join(data_path, name)).num_rows
            rows[pid] = rows.get(pid, 0) + n
    return [[pid, n] for pid, n in sorted(rows.items())]


def _config_sha(cfg: SketchConfig) -> str:
    import hashlib

    return hashlib.sha256(cfg.to_json().encode()).hexdigest()[:16]


class CheckpointStore:
    """Durable stage-table store with a lineage manifest.

    Layout::

        root/
          <stage>/data.parquet/...      stage output table (current version)
          <stage>/_COMMIT.json          commit marker (rows, per-partition
                                        rows, config, wall)
          <stage>/snapshots.jsonl       per-stage snapshot metadata log
          <stage>/_history/<id>/...     retained superseded versions
          lineage.jsonl                 append-only stage commit log
          deps.jsonl                    stage→inputs dependency index

    The marker's ``partitions`` list holds ``[partition_id, rows]`` pairs
    (the reference's per-window metric lines,
    ``QueryLSSFingerFlowApps.java:243-245``).
    For a :meth:`write` commit ``partition_id`` is the index of the write
    task that produced a ``part-NNNNN-…`` file, and the rows come from
    the files' parquet footers; for a sliced commit
    (:meth:`resume_partitioned`) it is the slice index.
    """

    #: the key column that sliced commits written before the slice key
    #: became an argument of :meth:`resume_partitioned` carry in their
    #: data; it and the ``__slice`` directory column belong to the sliced
    #: layout, so :meth:`read` drops both
    SLICE_COL = "part_key"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        cfg: SketchConfig,
        snapshot_retention: int = 2,
    ):
        self.spark = spark
        self.root = root
        self.cfg = cfg
        self.cfg_sha = _config_sha(cfg)
        # how many SUPERSEDED stage versions stay time-travel readable
        # (Iceberg's expire_snapshots retention; the current version is
        # always readable and never counts against this)
        self.snapshot_retention = snapshot_retention
        os.makedirs(root, exist_ok=True)

    # -- commit protocol ----------------------------------------------------

    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _commit_path(self, stage: str) -> str:
        return os.path.join(self._stage_dir(stage), "_COMMIT.json")

    def is_committed(self, stage: str) -> bool:
        p = self._commit_path(stage)
        if not os.path.exists(p):
            return False
        try:
            with open(p) as f:
                meta = json.load(f)
        except (OSError, json.JSONDecodeError):
            return False
        return meta.get("config_sha") == self.cfg_sha and meta.get("status") == "ok"

    def write(
        self,
        stage: str,
        df: DataFrame,
        operation: str = "overwrite",
        extra_wall_sec: float = 0.0,
    ) -> DataFrame:
        """Commit a stage: data, then the marker (last) with its row and
        per-partition counts.

        Writes into a staging dir first and swaps it in afterwards, so a
        stage may be rewritten from a plan that READS its own previous
        version (the incremental MERGE pattern) — the old files stay
        readable until the new ones are complete.  A superseded version
        is ARCHIVED under ``_history/<snapshot_id>/`` (not deleted) and a
        snapshot row is appended to the stage's ``snapshots.jsonl``, so
        :meth:`read` can time-travel to any retained snapshot and
        :meth:`rollback` can restore one — the Iceberg snapshot model on
        the parquet fallback; the last ``snapshot_retention`` superseded
        versions stay readable (:meth:`expire_snapshots`).

        The data write is the commit's only Spark job: the returned frame
        reads the files with ``df``'s schema, and the row counts come from
        their footers (:func:`_footer_rows`) — the reference likewise
        publishes a flushed window without re-reading it
        (``Sub4SketchingKVStream.java:419-452``).

        The lineage's ``wall_sec`` is the wall measured around the parquet
        write itself; ``extra_wall_sec`` is added on top for stages whose
        plan CONSTRUCTION runs real jobs (broadcast-guard counts, bloom
        builds in the containment/span tiers) so per-tier walls in the
        lineage log stay honest.
        """
        d = self._stage_dir(stage)
        data_path = os.path.join(d, "data.parquet")
        staging = os.path.join(d, f"data.parquet.staging-{uuid.uuid4().hex[:8]}")
        t_write = time.time()
        df.write.mode("overwrite").parquet(staging)
        wall_sec = time.time() - t_write + extra_wall_sec
        if os.path.exists(data_path):
            # archive the superseded version under the snapshot id that
            # produced it (a pre-snapshot-era table gets id 0)
            prev = self.snapshots(stage)
            prev_id = prev[-1]["snapshot_id"] if prev else 0
            hist = os.path.join(d, "_history", str(prev_id))
            os.makedirs(hist, exist_ok=True)
            os.replace(data_path, os.path.join(hist, "data.parquet"))
            os.replace(staging, data_path)
        else:
            os.replace(staging, data_path)
        out = self.spark.read.schema(df.schema).parquet(data_path)
        self._commit(stage, out, wall_sec, operation, _footer_rows(data_path))
        self.expire_snapshots(stage)
        # the previous stages' dropped frames keep their localCheckpoint
        # blocks pinned until the driver's GC frees the py4j refs (only
        # then does the ContextCleaner unpersist them): one driver-side
        # gc.collect() per commit keeps dead blocks from piling up
        gc.collect()
        return out

    def _commit(self, stage: str, out: DataFrame, wall_sec: float,
                operation: str, partitions: list[list[int]]) -> None:
        """Append the snapshot row, write the commit marker (marker last =
        the commit point, an atomic rename) and append the lineage log
        row.  ``partitions`` is the ``[partition_id, rows]`` list whose
        row total is the stage's ``rows``."""
        rows = sum(r for _, r in partitions)
        snap = self._record_snapshot(stage, rows, operation)
        meta = {
            "run_id": getattr(self, "run_id", "adhoc"),
            "stage": stage,
            "status": "ok",
            "rows": rows,
            "n_partitions": out.rdd.getNumPartitions(),
            "wall_sec": round(wall_sec, 3),
            "config_sha": self.cfg_sha,
            "committed_at": time.time(),
            "snapshot_id": snap["snapshot_id"],
        }
        tmp = self._commit_path(stage) + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(dict(meta, partitions=partitions), f)
        os.replace(tmp, self._commit_path(stage))
        with open(os.path.join(self.root, "lineage.jsonl"), "a") as f:
            f.write(json.dumps(meta) + "\n")

    # -- per-partition (sliced) stage commit --------------------------------

    def resume_partitioned(
        self,
        stage: str,
        input_df: DataFrame,
        compute_fn,
        key,
        n_slices: int = 8,
        resume: bool = True,
    ) -> DataFrame:
        """Commit a stage in ``n_slices`` independent write jobs with a
        durable slice ledger, so an interrupted run RESUMES AT SLICE
        GRANULARITY instead of recomputing the whole stage (SURVEY §4.2
        item 4; the reference's window-granular flush+resume,
        ``Sub4SketchingKVStream.java:419-452`` — a window there ≈ a slice
        of input partitions here).

        ``key`` is a Column over ``input_df`` — a DETERMINISTIC, input-
        derived integer (e.g. ``pmod(xxhash64(doc_id), 256)``), never
        ``spark_partition_id()`` (not stable across runs).  Slice ``s``
        covers ``key % n_slices == s``, and ``compute_fn(subset) →
        DataFrame`` computes the stage's rows for it.  Each slice
        OVERWRITES its own subdirectory ``data.parquet/__slice=s`` and is
        then recorded in ``slices.jsonl`` (the anti-join against completed
        work is the set difference on this ledger).  A re-entry after a
        crash computes ONLY the missing slices — a job dying at 90% redoes
        ~1 slice, not 100% (at 100 TB the difference between minutes and
        hours).  Per-slice overwrite (not append) makes re-entry
        IDEMPOTENT under every crash point: a slice that landed its data
        but died before its ledger line is simply recomputed into the same
        directory, never duplicated.  On Iceberg each slice is an
        overwrite-by-filter snapshot commit giving the same idempotency.
        """
        import shutil

        if resume and self.is_committed(stage):
            return self.read(stage)
        t0 = time.time()
        d = self._stage_dir(stage)
        if not resume:
            # resume=False means recompute from scratch: committed data AND
            # the slice ledger are both stale by declaration (e.g. the
            # input table was replaced — input data is not part of cfg_sha)
            shutil.rmtree(d, ignore_errors=True)
        data_path = os.path.join(d, "data.parquet")
        ledger = os.path.join(d, "slices.jsonl")
        done: set[int] = set()
        stale = False
        if os.path.exists(ledger):
            with open(ledger) as f:
                for line in f:
                    try:
                        rec = json.loads(line)
                    except json.JSONDecodeError:
                        continue
                    if rec.get("config_sha") == self.cfg_sha and rec.get(
                        "n_slices"
                    ) == n_slices:
                        done.add(int(rec["slice"]))
                    else:
                        stale = True
        if stale:
            # a prior run under a different config/slicing left data that
            # cannot be safely reused — start clean
            shutil.rmtree(d, ignore_errors=True)
            done = set()
        os.makedirs(d, exist_ok=True)
        for s in range(n_slices):
            if s in done:
                continue
            out = compute_fn(input_df.filter(F.pmod(key, F.lit(n_slices)) == s))
            # the Hive-style dir name makes a read partition-discover a
            # __slice column (dropped by read)
            out.write.mode("overwrite").parquet(
                os.path.join(data_path, f"__slice={s}")
            )
            with open(ledger, "a") as f:
                f.write(
                    json.dumps(
                        {
                            "slice": s,
                            "n_slices": n_slices,
                            "config_sha": self.cfg_sha,
                            "committed_at": time.time(),
                        }
                    )
                    + "\n"
                )
        # slice rows from the footers (empty slices left out): the read
        # below, which infers the schema, is the only job beyond the writes
        parts = []
        for name in os.listdir(data_path):
            if name.startswith("__slice="):
                n = sum(r for _, r in _footer_rows(os.path.join(data_path, name)))
                if n:
                    parts.append([int(name.split("=", 1)[1]), n])
        parts.sort()
        full = self.read(stage)
        # sliced commits rewrite slice subdirs in place, so there is no
        # superseded whole-table version to archive — the snapshot row
        # still lands (operation marks it) so lineage stays uniform
        self._commit(stage, full, time.time() - t0, "overwrite-sliced", parts)
        return full

    def invalidate(self, stage: str) -> None:
        """Drop a stage's commit marker so a later resume recomputes it
        (data files stay until overwritten — the marker IS the commit)."""
        p = self._commit_path(stage)
        if os.path.exists(p):
            os.remove(p)

    # -- stage dependency index ----------------------------------------------

    def _deps_path(self) -> str:
        return os.path.join(self.root, "deps.jsonl")

    def record_deps(self, stage: str, deps: list[str]) -> None:
        """Append a stage→inputs edge set to the durable dependency index
        (append-only; last record for a stage wins).  Callers that commit
        stages derived from OTHER stage tables record the input keys here
        so :meth:`invalidate_downstream` can cascade-invalidate after an
        in-place rewrite such as :func:`~.incremental.incremental_update`."""
        rec = {"stage": stage, "deps": sorted(set(deps))}
        with open(self._deps_path(), "a") as f:
            f.write(json.dumps(rec) + "\n")

    def invalidate_downstream(
        self, seeds: list[str], exclude: tuple[str, ...] | list[str] = ()
    ) -> list[str]:
        """Invalidate every stage whose recorded dependency chain reaches
        any key in ``seeds`` (the seeds themselves are roots, not targets;
        ``exclude`` protects stages the caller just rewrote).  Returns the
        stage keys invalidated — empty when no dependency index exists,
        which keeps pre-index checkpoints working unchanged."""
        p = self._deps_path()
        if not os.path.exists(p):
            return []
        deps: dict[str, list[str]] = {}
        with open(p) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                try:
                    rec = json.loads(line)
                except json.JSONDecodeError:
                    continue
                deps[rec["stage"]] = rec.get("deps", [])
        dirty = set(seeds)
        changed = True
        while changed:
            changed = False
            for stage, ds in deps.items():
                if stage in dirty:
                    continue
                if any(d in dirty for d in ds):
                    dirty.add(stage)
                    changed = True
        out = sorted(dirty - set(seeds) - set(exclude))
        for s in out:
            self.invalidate(s)
        return out

    # -- snapshots (Iceberg time-travel parity on the parquet fallback) ------

    def _snapshots_path(self, stage: str) -> str:
        return os.path.join(self._stage_dir(stage), "snapshots.jsonl")

    def snapshots(self, stage: str) -> list[dict]:
        """Commit history of a stage, oldest first: ``snapshot_id`` (int,
        monotonic per stage), ``parent_id``, ``operation``, ``rows``,
        ``config_sha``, ``committed_at`` — the Iceberg snapshot-metadata
        analogue.  Empty list for a stage never written (or written
        before this index existed)."""
        p = self._snapshots_path(stage)
        if not os.path.exists(p):
            return []
        out = []
        with open(p) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                try:
                    out.append(json.loads(line))
                except json.JSONDecodeError:
                    continue
        return out

    def _record_snapshot(self, stage: str, rows: int, operation: str) -> dict:
        snaps = self.snapshots(stage)
        os.makedirs(self._stage_dir(stage), exist_ok=True)
        rec = {
            "snapshot_id": (snaps[-1]["snapshot_id"] + 1) if snaps else 1,
            "parent_id": snaps[-1]["snapshot_id"] if snaps else None,
            "operation": operation,
            "rows": rows,
            "config_sha": self.cfg_sha,
            "committed_at": time.time(),
        }
        with open(self._snapshots_path(stage), "a") as f:
            f.write(json.dumps(rec) + "\n")
        return rec

    def _snapshot_data_path(self, stage: str, snapshot_id: int) -> str:
        snaps = self.snapshots(stage)
        if not snaps:
            raise FileNotFoundError(
                f"stage {stage!r} has no snapshot history"
            )
        known = {s["snapshot_id"] for s in snaps}
        if snapshot_id not in known:
            raise FileNotFoundError(
                f"stage {stage!r} has no snapshot {snapshot_id} "
                f"(known: {sorted(known)})"
            )
        if snapshot_id == snaps[-1]["snapshot_id"]:
            return os.path.join(self._stage_dir(stage), "data.parquet")
        hist = os.path.join(
            self._stage_dir(stage), "_history", str(snapshot_id), "data.parquet"
        )
        if not os.path.exists(hist):
            raise FileNotFoundError(
                f"snapshot {snapshot_id} of stage {stage!r} was expired "
                f"(retention {self.snapshot_retention}); increase "
                "snapshot_retention to keep more history"
            )
        return hist

    def rollback(self, stage: str, snapshot_id: int) -> DataFrame:
        """Restore a retained snapshot as the CURRENT version of a stage —
        Iceberg's ``rollback_to_snapshot``, as a new commit (the rolled-
        back-to data is re-materialized and the superseded current version
        is itself archived, so a rollback is undoable and the lineage log
        stays strictly append-only)."""
        return self.write(
            df=self.read(stage, snapshot_id),
            stage=stage,
            operation=f"rollback-to-{snapshot_id}",
        )

    def expire_snapshots(self, stage: str, keep_last: int | None = None) -> list[int]:
        """Delete archived versions beyond the newest ``keep_last``
        (default: the store's ``snapshot_retention``) — Iceberg's
        ``expire_snapshots`` disk bound.  The current version never
        expires.  Returns the snapshot ids whose data was removed."""
        import shutil

        keep = self.snapshot_retention if keep_last is None else keep_last
        hist_root = os.path.join(self._stage_dir(stage), "_history")
        if not os.path.exists(hist_root):
            return []
        archived = sorted(
            (int(n) for n in os.listdir(hist_root) if n.isdigit()),
            reverse=True,
        )
        expired = []
        for sid in archived[keep:]:
            shutil.rmtree(os.path.join(hist_root, str(sid)), ignore_errors=True)
            expired.append(sid)
        return sorted(expired)

    def read_changes(
        self,
        stage: str,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Row-level changelog between two retained snapshots — Iceberg's
        incremental/CDC read on the parquet fallback: the target version
        (current when ``to_snapshot_id`` is None) diffed against the
        ``from`` version, one ``_change ∈ {added, removed}`` column
        appended.  Multiset semantics (``exceptAll``), so duplicate rows
        diff by count.  This is an audit/debug surface (what did the last
        MERGE do to clusters?) — it shuffles both versions once; don't
        put it on a hot path."""
        new = self.read(stage, to_snapshot_id)
        old = self.read(stage, from_snapshot_id)
        return (
            new.exceptAll(old)
            .withColumn("_change", F.lit("added"))
            .unionByName(
                old.exceptAll(new).withColumn("_change", F.lit("removed"))
            )
        )

    def read(self, stage: str, snapshot_id: int | None = None) -> DataFrame:
        """Read a stage table — the current version by default, or a
        retained historical version via ``snapshot_id`` (time travel)."""
        if snapshot_id is not None:
            df = self.spark.read.parquet(
                self._snapshot_data_path(stage, snapshot_id)
            )
        else:
            df = self.spark.read.parquet(
                os.path.join(self._stage_dir(stage), "data.parquet")
            )
        if "__slice" in df.columns:  # a sliced commit's layout columns
            df = df.drop("__slice", self.SLICE_COL)
        return df

    def lineage(self) -> DataFrame:
        p = os.path.join(self.root, "lineage.jsonl")
        if not os.path.exists(p):
            return self.spark.createDataFrame([], LINEAGE_SCHEMA)
        return self.spark.read.schema(LINEAGE_SCHEMA).json(p)

    def partition_lineage(self, stage: str) -> DataFrame:
        """Per-partition row counts of a stage's committed version, built
        from its commit marker (``PARTITION_SCHEMA``; no Spark job)."""
        with open(self._commit_path(stage)) as f:
            meta = json.load(f)
        if "partitions" not in meta:
            raise ValueError(
                f"stage {stage!r} was committed without per-partition rows "
                "(its marker predates them); recommit the stage to record "
                "them"
            )
        return local_frame(
            self.spark,
            [(stage, pid, rows) for pid, rows in meta["partitions"]],
            PARTITION_SCHEMA,
        )


@dataclass
class PipelineResult:
    signatures: DataFrame
    candidates: DataFrame
    skew_metrics: DataFrame
    verified: DataFrame
    edges: DataFrame
    clusters: DataFrame
    cluster_stats: DataFrame
    stages_run: list[str]
    stages_resumed: list[str]


class DedupPipeline:
    """documents → signatures → candidates → verify → edges → clusters,
    every arrow a committed stage table (SURVEY §3.4): :meth:`run` is the
    spine :func:`~.incremental.merge_batch` with a commit-or-resume
    hook.  ``PipelineResult.cluster_stats`` is a lazy group-by of the
    committed clusters, not a stage."""

    STAGES = (
        "signatures",
        "candidates",
        "skew_metrics",
        "verified",
        "edges",
        "clusters",
    )

    def __init__(
        self,
        spark: SparkSession,
        checkpoint_root: str,
        cfg: SketchConfig | None = None,
    ):
        self.spark = spark
        self.cfg = cfg or SketchConfig()
        self.store = CheckpointStore(spark, checkpoint_root, self.cfg)
        self.store.run_id = uuid.uuid4().hex[:12]

    def _stage(self, name: str, compute, resume: bool, ran: list, reused: list):
        if resume and self.store.is_committed(name):
            reused.append(name)
            return self.store.read(name)
        t0 = time.time()
        df = compute()
        out = self.store.write(name, df, extra_wall_sec=time.time() - t0)
        ran.append(name)
        return out

    N_PART_KEYS = 256  # deterministic input-partition key space

    def run(
        self,
        documents: DataFrame,
        resume: bool = True,
        id_col: str = "doc_id",
        text_col: str = "text",
        signature_slices: int | None = None,
        stage_suffix: str = "",
    ) -> PipelineResult:
        """``signature_slices``: commit the (most expensive) signature stage
        in that many independent slice jobs via
        :meth:`CheckpointStore.resume_partitioned`, so an interruption
        resumes mid-stage instead of recomputing all signatures.

        ``stage_suffix``: appended to every stage key.  Callers that feed
        this pipeline a PARAMETER-DEPENDENT input (the curation funnel's
        quality-gated document set) pass a hash of that upstream lineage
        here, so resume=True can never reuse signatures/clusters computed
        from a differently-parameterized input — the store's config_sha
        covers only SketchConfig."""
        ran: list[str] = []
        reused: list[str] = []

        def stage(name: str, compute) -> DataFrame:
            key = name + stage_suffix
            if name != "signatures" or not signature_slices:
                return self._stage(key, compute, resume, ran, reused)
            if resume and self.store.is_committed(key):
                reused.append(key)
                return self.store.read(key)
            sigs = self.store.resume_partitioned(
                key,
                documents,
                compute,
                # cast to long BEFORE hashing — xxhash64 is type-sensitive,
                # so a doc's slice does not depend on the id column's type
                F.pmod(
                    F.xxhash64(F.col(id_col).cast("long")), F.lit(self.N_PART_KEYS)
                ),
                n_slices=signature_slices,
                resume=resume,
            )
            ran.append(key)
            return sigs

        out = merge_batch(
            documents, documents, None, self.cfg,
            id_col=id_col, text_col=text_col, stage=stage,
        )
        return PipelineResult(**out, stages_run=ran, stages_resumed=reused)
