"""The near-dup spine, written once: signatures → candidates → verify →
edges → clusters, plus cluster stats as a view over the clusters.

Reference analogue: the one insert path every writer goes through
(``Sketching/LSSFingerprintAtomic.java:591-690``) — the stream consumer
(``Sub4SketchingKVStream.java:353-394``) and re-clustering on value drift
(``:646-686``) both insert through it without rebuilding the sketch.
Here that path is :func:`merge_batch`: only the new docs are
shingled/hashed (the expensive stage), candidates are generated
new-vs-new (salted/capped band join) and, when stored signatures are
passed, new-vs-old (one band-key join against them), the pairs are
verified, and the cluster labels are computed or merged from the edges.
It calls one hook, ``stage(name, compute) -> DataFrame``, at each of the
six stage boundaries (the names of ``DedupPipeline.STAGES``), and its
callers differ only in that hook:

* ``DedupPipeline.run`` — commit-or-resume every stage (the signature
  stage optionally in slices);
* ``operators.dedup.minhash_lsh_dedup`` — a lazy pin of the signatures,
  everything else lazy;
* :func:`incremental_update` (the batch MERGE) and
  ``streaming.stream.process_incremental_batch`` (one micro-batch) —
  the default :func:`pin_shared`; they add only their own storage.

Cost model at scale: signatures O(|new|); candidate probe O(|new| band
rows ⋈ store); connected components over the (small) edge set only —
never re-reads the old corpus text.  The batch MERGE's storage is not
O(|new|): :func:`incremental_update` rewrites every stage table as
old ∪ new, so a merge writes O(store).  Appending only the new rows is
ROADMAP item 7 ("Append, don't rewrite").

Store layout at cluster scale: the documents and signature tables are
joined on ``doc_id`` by every verify pass and relabel — write them
bucketed on ``doc_id`` (``sources/bucketed_store.py``; on Iceberg the
``bucket(N, doc_id)`` partition transform) so those joins read
co-located buckets with no exchange.  The sandbox CheckpointStore keeps
plain dir-swap parquet because its atomic-commit protocol (and the
resume tests that pin it) predate catalog tables; the bucketed layout is
a drop-in for the ``read``/``write`` surface.
"""

from __future__ import annotations

import functools
from typing import TYPE_CHECKING, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import SketchConfig
from ..functions.bloom import bloom_build, bloom_supported, might_contain
from ..operators.candidates import band_candidates, band_key_rows
from ..operators.cluster import (
    cluster_stats,
    connected_components,
    merge_components,
)
from ..operators.signatures import compute_signatures
from ..operators.verify import duplicate_edges, verify_pairs
from ..session import auto_prefilter_enabled

if TYPE_CHECKING:
    from .pipeline import CheckpointStore

#: ``stage(name, compute) -> DataFrame``: materializes (or not) one stage
Stage = Callable[[str, Callable[..., DataFrame]], DataFrame]


def pin_shared(name: str, compute: Callable[..., DataFrame]) -> DataFrame:
    """The incremental callers' hook: ``signatures`` and ``verified`` each
    feed several consumers, so an eager ``localCheckpoint`` pins them;
    every other stage stays lazy."""
    df = compute()
    if name in ("signatures", "verified"):
        return df.localCheckpoint(eager=True)
    return df


def _probe_old(
    new_sigs: DataFrame, old_signatures: DataFrame, cfg: SketchConfig
) -> DataFrame:
    """New-vs-old candidates: an uncapped equi-join on band key.

    Takes the M2 bloom plan (``functions/bloom.py``; reference
    ``BloomFilter.java:153-232``) when ``session.auto_prefilter_enabled``
    says the old side is large: old band-key rows whose key cannot be
    among the new keys are dropped by a codegen'd ``might_contain``
    BEFORE the join shuffle, so at scale (|old| ≫ |new|) the join's big
    side shrinks to ~|matching old rows|.  Lossless: false positives are
    discarded by the join itself, and a filter that cannot be built
    leaves the plain join."""
    new_keys = band_key_rows(new_sigs)
    old_keys = band_key_rows(old_signatures).withColumnRenamed("doc_id", "old_id")
    if auto_prefilter_enabled(old_keys) and bloom_supported(
        old_keys.sparkSession
    ):
        n_new_keys = new_keys.count()
        bloom = (
            bloom_build(new_keys, "key", expected_items=n_new_keys)
            if n_new_keys
            else None
        )
        pred = might_contain(old_keys, "key", bloom) if bloom else None
        if pred is not None:
            old_keys = old_keys.filter(pred)
    return (
        new_keys.join(old_keys, "key")
        .filter(F.col("doc_id") != F.col("old_id"))
        .select(
            F.least("doc_id", "old_id").alias("id1"),
            F.greatest("doc_id", "old_id").alias("id2"),
        )
        .distinct()
    )


def merge_batch(
    new_documents: DataFrame,
    all_documents: DataFrame,
    old_signatures: DataFrame | None,
    cfg: SketchConfig,
    clusters: DataFrame | None = None,
    old_edges: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    stage: Stage = pin_shared,
) -> dict[str, DataFrame]:
    """Run the spine over ``new_documents`` against accumulated near-dup
    state; writes nothing itself.

    ``all_documents`` holds old + new rows (old-vs-new pairs verify
    against both texts; a from-scratch run passes the same frame twice);
    ``old_signatures`` is the stored signature table (``None`` when there
    is none yet).  ``clusters`` is the previous ``(doc_id, cluster_id)``
    assignment: the new edges are merged into it by
    :func:`~..operators.cluster.merge_components`.  Without one (a
    from-scratch run, a first window, or a crash between a snapshot's
    renames) the labels are computed by ``connected_components`` over
    ``old_edges`` plus the new edges and every doc of ``all_documents``.

    ``stage(name, compute)`` is called at every boundary, in
    ``DedupPipeline.STAGES`` order, and its return value is what the
    later stages read.  ``compute()`` builds the stage's frame; the
    signature stage's ``compute`` also takes a documents frame (default
    ``new_documents``), so a sliced commit can apply it per slice.  A
    hook that reuses a stored stage never calls ``compute``; the band
    join runs at most once, for whichever of ``candidates`` and
    ``skew_metrics`` is computed.

    Returns every stage under its name: ``signatures`` (the new docs'
    rows), ``candidates``, ``skew_metrics`` (of the new-vs-new band
    join), ``verified``, ``edges`` (the new ones) and ``clusters`` (all
    docs), plus ``cluster_stats``: a lazy group-by of the staged
    ``clusters``, never a stage of its own.
    """

    def _signatures(docs: DataFrame = new_documents) -> DataFrame:
        return compute_signatures(docs, cfg, id_col=id_col, text_col=text_col)

    sigs = stage("signatures", _signatures)
    band = functools.cache(lambda: band_candidates(sigs, cfg))  # (pairs, metrics)

    def _candidates() -> DataFrame:
        pairs = band()[0]
        if old_signatures is None:
            return pairs
        return pairs.unionByName(_probe_old(sigs, old_signatures, cfg)).distinct()

    candidates = stage("candidates", _candidates)
    skew_metrics = stage("skew_metrics", lambda: band()[1])
    all_sigs = sigs if old_signatures is None else old_signatures.unionByName(sigs)
    verified = stage(
        "verified",
        lambda: verify_pairs(
            candidates, all_documents, cfg, id_col=id_col, text_col=text_col,
            signatures=all_sigs,
        ),
    )
    edges = stage("edges", lambda: duplicate_edges(verified, cfg))

    def _clusters() -> DataFrame:
        if clusters is not None:
            # contract the previous clusters, CC only the batch-sized
            # contracted graph, relabel with one broadcast join —
            # identical labels to a full recompute over old ∪ new edges
            # (pinned by test_merge_components_equals_full_recompute), and
            # re-merging edges already in ``clusters`` is a no-op (every
            # contracted edge collapses to l1 == l2), which makes a stream
            # replay safe
            return merge_components(
                clusters,
                edges,
                new_vertices=new_documents.select(
                    F.col(id_col).cast("long").alias("doc_id")
                ),
            )
        cc_edges = edges
        if old_edges is not None:
            cc_edges = old_edges.select("id1", "id2").unionByName(edges)
        return connected_components(
            all_documents.select(F.col(id_col).cast("long").alias("doc_id")),
            cc_edges,
        )

    labels = stage("clusters", _clusters)
    return {
        "signatures": sigs,
        "candidates": candidates,
        "skew_metrics": skew_metrics,
        "verified": verified,
        "edges": edges,
        "clusters": labels,
        "cluster_stats": cluster_stats(labels),
    }


def incremental_update(
    store: CheckpointStore,
    all_documents: DataFrame,
    new_documents: DataFrame,
    cfg: SketchConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    stage_suffix: str = "",
) -> dict[str, DataFrame]:
    """Merge ``new_documents`` into an existing pipeline checkpoint.

    ``all_documents`` must contain old + new rows (texts are needed to
    verify old-vs-new candidate pairs).  Returns the updated stage tables;
    every updated stage is re-committed through the store's protocol so a
    later resume sees the merged state.

    ``stage_suffix`` must match the suffix the stages were committed
    under — bare names for a direct :class:`DedupPipeline` run (default),
    or the lineage hash a :class:`~.curation.CurationPipeline` run used
    (``CurationResult.dedup_stage_suffix``); mixing them would either
    fail to find the tables or, worse, merge into a stale lineage.
    """
    cfg = cfg or store.cfg

    def nm(stage: str) -> str:
        return stage + stage_suffix

    # a retry after a crash between the commits below finds this batch's
    # signatures already stored: drop them, or the merge stores them twice
    # and the probe pairs the batch with itself through the uncapped
    # new-vs-old join (the stream's state reads exclude the current batch
    # for the same reason)
    new_ids = new_documents.select(F.col(id_col).cast("long").alias("doc_id"))
    old_sigs = store.read(nm("signatures")).join(
        F.broadcast(new_ids), "doc_id", "left_anti"
    )
    step = merge_batch(
        new_documents, all_documents, old_sigs, cfg,
        clusters=store.read(nm("clusters")), id_col=id_col, text_col=text_col,
    )

    def union(stage: str) -> DataFrame:
        # projected: 'verified' in older stores has two more columns
        stored = store.read(nm(stage)).select(*step[stage].columns)
        return stored.unionByName(step[stage]).distinct()

    # every stage is merged — a later resume must never pair a stale
    # 'verified' commit with the merged candidates/edges — and pinned,
    # because its plan reads the stage about to be rewritten (commits
    # swap the underlying files; on Iceberg snapshot isolation makes the
    # pin a no-op); each commit then records the wall of its own write
    merged = {
        "signatures": old_sigs.unionByName(step["signatures"]),
        "candidates": union("candidates"),
        "verified": union("verified"),
        "edges": union("edges"),
        "clusters": step["clusters"],
    }
    merged = {s: df.localCheckpoint(eager=True) for s, df in merged.items()}
    out = {s: store.write(nm(s), df) for s, df in merged.items()}
    # the skew metrics describe only the batch that produced them, and a
    # cluster_stats table (a stage in older stores) the pre-merge clusters:
    # invalidate both, plus the bare skew key of pre-suffix checkpoints
    store.invalidate(nm("skew_metrics"))
    store.invalidate(nm("cluster_stats"))
    if stage_suffix:
        store.invalidate("skew_metrics")
    # cascade: downstream stages (curation's survivors / containment /
    # span / funnel tables) whose recorded dependency chain reaches a
    # table rewritten above hold pre-merge content — invalidate them so
    # resume=True recomputes them over the merged spine
    rewritten = [nm(s) for s in (*merged, "skew_metrics")]
    store.invalidate_downstream(rewritten, exclude=rewritten)
    return out
