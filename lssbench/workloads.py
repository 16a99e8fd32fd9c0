"""The four workloads: inputs, the timed operation, and its output check.

Each operation calls one public entry point of the package on a fresh
store and returns when the result is committed:

* ``dedup_batch`` — ``DedupPipeline.run(resume=False)`` over a
  planted-duplicate corpus: the MinHash+LSH spine with every stage
  committed.
* ``boilerplate_skew`` — the same entry point over the same kind of
  corpus, with a quarter of the docs sharing a 300-token boilerplate
  block: hot band keys that stay below ``band_width_cap`` while those docs'
  mutual Jaccard stays far below the threshold, so candidates and verify
  do most of the work and waste most of it.
* ``stream_ingest`` — ``stream_curation(dedup=True)`` with ``availableNow``
  and one file per trigger, in ascending doc_id: a closed loop with one
  client and one trigger in flight.
* ``curation_funnel`` — ``CurationPipeline.run`` with every tier on.

Checks read committed tables with pyarrow (no Spark job).  The stream
and the funnel are also compared with a batch reference computed apart
from the operation under test (``batch_reference``), which is their
warm-up (``warm_up``), outside the timed section.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import time
from dataclasses import dataclass

from . import checks, inputs

# the fixture vocabulary is synthetic, so the English character-ratio rules
# are relaxed as in tools/funnel_bench.py; min_stopword_ratio=0.0 is the
# package's own multilingual default, spelled out for the batch references
GOPHER_KWARGS = {
    "min_chars_per_token": 0.0,
    "max_chars_per_token": 100.0,
    "min_stopword_ratio": 0.0,
}
WARMUP_SEED = 0


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str            # "spine" | "stream" | "funnel"
    n_docs: int
    why: str
    boilerplate: bool = False
    stream_files: int = 0


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "dedup_batch", "spine", 600,
            "flagship MinHash+LSH spine, every stage committed; signatures "
            "and verify carry the work",
        ),
        Workload(
            "boilerplate_skew", "spine", 600,
            "a quarter of the docs share a boilerplate block: hot band keys "
            "below the width cap flood candidates and verify with pairs "
            "that fail the threshold",
            boilerplate=True,
        ),
        Workload(
            "stream_ingest", "stream", 300,
            "streaming curation + incremental near-dup, one file per "
            "trigger, one trigger in flight; fixed cost per micro-batch "
            "dominates",
            stream_files=2,
        ),
        Workload(
            "curation_funnel", "funnel", 300,
            "CurationPipeline with every tier on: the only workload that "
            "runs the corpus quality and span tiers and containment",
        ),
    )
}


def make_inputs(work_dir: str, wl: Workload, n_docs: int, seed: int, cfg,
                warmup: bool = False) -> inputs.Inputs:
    return inputs.build(
        work_dir, wl.name + ("-warmup" if warmup else ""), n_docs, seed, cfg,
        boilerplate=wl.boilerplate, stream_files=wl.stream_files,
    )


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def _table(path: str, columns=None) -> dict:
    """A committed parquet table (file, directory or hive-partitioned
    directory) as a column dict, read with pyarrow."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns
    ).to_pydict()


def _stage_dir(store: str, stage: str) -> str:
    """The committed directory of ``stage`` (or ``stage@<suffix>``)."""
    found = sorted(glob.glob(os.path.join(store, stage))
                   + glob.glob(os.path.join(store, stage + "@*")))
    if not found:
        raise FileNotFoundError(f"stage {stage!r} not committed under {store}")
    return os.path.join(found[-1], "data.parquet")


@dataclass
class OpResult:
    wall_s: float
    cpu_s: float
    store_bytes: int
    spark_jobs: int          # Spark jobs the operation ran
    batch_walls: list        # per micro-batch wall (stream) or [wall_s]
    n_docs: int


# -- timed operations ---------------------------------------------------------


def run_op(spark, wl: Workload, inp: inputs.Inputs, store: str, cfg, cpu) -> OpResult:
    """One timed call of the workload's entry point on a fresh store.
    ``cpu()`` reads the process tree's CPU seconds."""
    from localitysensitivesketch_spark.plans.curation import CurationPipeline
    from localitysensitivesketch_spark.plans.pipeline import DedupPipeline
    from localitysensitivesketch_spark.streaming import stream as ST

    if wl.kind == "stream":
        docs = ST.read_document_stream(
            spark, inp.stream_dir, schema="doc_id long, text string",
            max_files_per_trigger=1,
        )
    else:
        docs = spark.read.parquet(inp.docs_path)
    jobs0 = spark_job_count(spark)
    c0, t0 = cpu(), time.perf_counter()
    if wl.kind == "spine":
        DedupPipeline(spark, store, cfg).run(docs, resume=False)
        walls = None
    elif wl.kind == "funnel":
        CurationPipeline(spark, store, cfg, gopher_kwargs=GOPHER_KWARGS).run(
            docs.drop("doc_id"), resume=False,
            containment_threshold=1.0, exactsubstr_window=50,
        )
        walls = None
    else:
        q = ST.stream_curation(
            spark, docs, store, cfg=cfg, gopher_kwargs=GOPHER_KWARGS, dedup=True
        )
        try:
            q.awaitTermination(600)
        finally:
            if q.isActive:
                q.stop()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        walls = [
            p["durationMs"]["triggerExecution"] / 1000.0
            for p in q.recentProgress
            if p["numInputRows"] > 0
        ]
    wall = time.perf_counter() - t0
    cpu_s = cpu() - c0
    return OpResult(wall, cpu_s, dir_bytes(store), spark_job_count(spark) - jobs0,
                    walls or [wall], inp.n_docs)


def spark_job_count(spark) -> int:
    """Jobs the session has run so far, from the application's status store once
    every posted scheduler event has reached it (runs no job)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(60_000)
    return sc.statusStore().jobsList(None).size()


def warm_up(spark, wl: Workload, warm: inputs.Inputs, inp: inputs.Inputs,
            store: str, cfg, cpu):
    """The untimed warm-up; returns (output-check failures, reference).

    A spine workload makes one full operation over ``warm``, a fixed input
    the size of the timed one, so every stage the timed operation runs
    (Python workers, the Arrow path, each operator's JVM code) has run
    and been compiled.  The stream and the funnel instead compute the
    batch reference their check compares against, over the run's own
    input ``inp``: it runs the operators they share with the batch path
    (exact and quality tiers, the spine) at about half the cost of their
    own cold operation, which is what lets a run fit its time budget;
    their own code (the streaming engine, the funnel's other tiers) is
    still cold in the first timed operation.  The reference is checked
    against the oracle truth."""
    if wl.kind == "spine":
        run_op(spark, wl, warm, store, cfg, cpu)
        return check_op(spark, wl, warm, store, cfg)[0], None
    ref = batch_reference(spark, wl, inp, cfg)
    q = checks.pair_quality(ref.edges, _restrict(inp.truth, ref.keep, ref.id_map),
                            cfg.jaccard_threshold,
                            _score_extra(inp.docs_path, cfg, ref.id_map))
    return checks.check_pair_quality(q) + checks.check_clusters(ref.labels, ref.edges), ref


# -- output checks ------------------------------------------------------------


def _score_extra(docs_path: str, cfg, id_map=None):
    """Oracle scores for emitted edges that are not planted pairs."""
    def score(pairs):
        ids = {i for p in pairs for i in p}
        if id_map is not None:
            back = {v: k for k, v in id_map.items()}
            texts = inputs.read_texts(docs_path, {back[i] for i in ids})
            texts = {id_map[k]: v for k, v in texts.items()}
        else:
            texts = inputs.read_texts(docs_path, ids)
        return inputs.oracle_pair_scores(texts, pairs, cfg)
    return score


def _restrict(truth: dict, keep: set, id_map=None) -> dict:
    out = {}
    for (a, b), j in truth.items():
        if id_map is not None:
            a, b = id_map[a], id_map[b]
        if a in keep and b in keep:
            out[(min(a, b), max(a, b))] = j
    return out


@dataclass
class Reference:
    """The batch funnel's exact + quality tiers and the spine over their
    survivors, computed apart from the operation under test."""

    md5: list        # survivors' text md5s
    labels: list     # (doc_id, cluster_id) from connected components
    edges: set       # verified duplicate edges
    id_map: dict | None  # input doc_id -> reference doc_id (funnel only)

    @property
    def keep(self) -> set:
        return {d for d, _ in self.labels}


def _exact_quality_survivors(spark, docs):
    """The exact + quality tiers over ``docs(doc_id, text)``, as in the
    batch funnel."""
    from localitysensitivesketch_spark.operators.corpus import gopher_filter
    from localitysensitivesketch_spark.operators.dedup import exact_dedup

    kept = exact_dedup(docs)
    return kept.join(
        gopher_filter(kept, **GOPHER_KWARGS).filter("keep").select("doc_id"),
        "doc_id", "left_semi",
    ).select("doc_id", "text").localCheckpoint(eager=True)


def batch_reference(spark, wl: Workload, inp: inputs.Inputs, cfg) -> Reference:
    """The batch reference a stream's end state and a funnel's near-dup
    tier must equal.  Funnel doc ids are ``xxhash64(url)``, as the funnel
    assigns them."""
    from pyspark.sql import functions as F

    from localitysensitivesketch_spark.operators.candidates import band_candidates
    from localitysensitivesketch_spark.operators.cluster import connected_components
    from localitysensitivesketch_spark.operators.signatures import compute_signatures
    from localitysensitivesketch_spark.operators.verify import (
        duplicate_edges,
        verify_pairs,
    )

    id_map = None
    if wl.kind == "stream":
        docs = spark.read.parquet(inp.stream_dir)
    else:
        raw = spark.read.parquet(inp.docs_path)
        id_map = {r[0]: r[1] for r in
                  raw.select("doc_id", F.xxhash64("url")).collect()}
        docs = raw.withColumn("doc_id", F.xxhash64("url"))
    survivors = _exact_quality_survivors(spark, docs)
    md5 = [hashlib.md5(r["text"].encode()).hexdigest()
           for r in survivors.select("text").collect()]
    sigs = compute_signatures(survivors, cfg)
    cands, _ = band_candidates(sigs, cfg)
    edges = duplicate_edges(verify_pairs(cands, survivors, cfg), cfg).localCheckpoint(
        eager=True)
    labels = connected_components(survivors.select("doc_id"), edges)
    return Reference(
        md5,
        [(r["doc_id"], r["cluster_id"]) for r in labels.collect()],
        checks.norm_pairs((r["id1"], r["id2"]) for r in edges.select("id1", "id2").collect()),
        id_map,
    )


def check_op(spark, wl: Workload, inp: inputs.Inputs, store: str, cfg,
             ref: Reference | None = None) -> tuple[list, dict]:
    """(failures, pair quality) of the committed result under ``store``.
    A stream or funnel result is compared with ``ref`` (computed here when
    not given)."""
    thr = cfg.jaccard_threshold
    if wl.kind == "spine":
        e = _table(os.path.join(store, "edges", "data.parquet"), ["id1", "id2"])
        edges = checks.norm_pairs(zip(e["id1"], e["id2"]))
        lab = _table(os.path.join(store, "clusters", "data.parquet"))
        labels = list(zip(lab["doc_id"], lab["cluster_id"]))
        q = checks.pair_quality(edges, inp.truth, thr, _score_extra(inp.docs_path, cfg))
        fails = checks.check_pair_quality(q) + checks.check_clusters(labels, edges)
        if len(labels) != inp.n_docs:
            fails.append(f"{len(labels)} docs labelled, {inp.n_docs} in input")
        return fails, q

    ref = ref or batch_reference(spark, wl, inp, cfg)
    if wl.kind == "stream":
        from localitysensitivesketch_spark.streaming import stream as ST

        lab = _table(os.path.join(store, "dedup", "clusters"))
        labels = list(zip(lab["doc_id"], lab["cluster_id"]))
        e = _table(os.path.join(store, "dedup", "edges"), ["id1", "id2"])
        got_md5 = [hashlib.md5(t.encode()).hexdigest() for t in
                   ST.read_curated(spark, store).select("text").toPandas()["text"]]
        fails = checks.check_stream_end_state(got_md5, ref.md5, labels, ref.labels)
    else:
        lab = _table(_stage_dir(store, "clusters"))
        labels = list(zip(lab["doc_id"], lab["cluster_id"]))
        e = _table(_stage_dir(store, "edges"), ["id1", "id2"])
        audit = _table(_stage_dir(store, "funnel"), ["stage", "n_in", "n_out"])
        fails = checks.check_funnel(
            list(zip(audit["stage"], audit["n_in"], audit["n_out"])), labels, ref.labels)
    edges = checks.norm_pairs(zip(e["id1"], e["id2"]))
    q = checks.pair_quality(edges, _restrict(inp.truth, ref.keep, ref.id_map), thr,
                            _score_extra(inp.docs_path, cfg, ref.id_map))
    return fails + checks.check_clusters(labels, edges) + checks.check_pair_quality(q), q


# -- facts the traced run reads from the store ---------------------------------


def store_facts(store: str) -> dict:
    """Rows per committed stage (from the commit markers), the widest band
    bucket, and the size of the streaming state."""
    rows: dict = {}
    for marker in glob.glob(os.path.join(store, "*", "_COMMIT.json")):
        with open(marker) as f:
            meta = json.load(f)
        rows[meta["stage"].split("@")[0]] = meta["rows"]
    width = 0
    for path in glob.glob(os.path.join(store, "skew_metrics*", "data.parquet")):
        width = max([width] + [w or 0 for w in _table(path, ["max_width"])["max_width"]])
    state = sum(
        dir_bytes(os.path.join(store, d))
        for d in ("exact_hashes", "curated", "dedup")
        if os.path.isdir(os.path.join(store, d))
    )
    return {"rows": rows, "max_bucket_width": width, "state_mb": state / 1e6}
