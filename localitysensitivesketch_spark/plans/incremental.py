"""Incremental corpus updates: sketch only the new docs, merge clusters.

Reference analogue: the one insert path every writer goes through
(``Sketching/LSSFingerprintAtomic.java:591-690``) — the stream consumer
(``Sub4SketchingKVStream.java:353-394``) and re-clustering on value drift
(``:646-686``) both insert through it without rebuilding the sketch.
Here that path is :func:`merge_batch`, a storage-free step: only the new
docs are shingled/hashed (the expensive stage), candidates are generated
new-vs-new (salted/capped band join) and new-vs-old (one band-key join
against the stored signatures), the pairs are verified, and the cluster
labels are merged from the new edges.  Its two callers add only their
own storage:

* :func:`incremental_update` — the batch MERGE: union-commits every
  stage of a :class:`~.pipeline.DedupPipeline` checkpoint through the
  store's protocol (on Iceberg a MERGE INTO per stage table) and
  invalidates what the merge makes stale;
* ``streaming.stream.process_incremental_batch`` — one micro-batch:
  batch_id-partitioned per-batch tables plus a swapped cluster snapshot.

Cost model at scale: signatures O(|new|); candidate join O(|new| band rows
⋈ store); connected components O(|V|+|E|) but over the (small) edge set
only — never re-reads the old corpus text.

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

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import SketchConfig
from ..functions.bloom import bloom_build, bloom_supported, might_contain
from ..operators.candidates import pairs_by_key
from ..operators.cluster import connected_components, merge_components
from ..operators.signatures import compute_signatures
from ..operators.verify import duplicate_edges, verify_pairs
from ..session import auto_prefilter_enabled
from .pipeline import CheckpointStore


def merge_batch(
    new_documents: DataFrame,
    all_documents: DataFrame,
    old_signatures: DataFrame | None,
    cfg: SketchConfig,
    clusters: DataFrame | None = None,
    old_edges: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict[str, DataFrame]:
    """Merge ``new_documents`` into accumulated near-dup state; writes
    nothing.

    ``all_documents`` holds old + new rows (old-vs-new pairs verify
    against both texts); ``old_signatures`` is the stored signature table
    (``None`` when there is none yet).  ``clusters`` is the previous
    ``(doc_id, cluster_id)`` assignment: the new edges are merged into it
    by :func:`~..operators.cluster.merge_components`.  Without one (first
    window, or a crash between a snapshot's renames) the labels are
    recomputed by ``connected_components`` over ``old_edges`` plus the new
    edges and every doc of ``all_documents``.

    Returns ``signatures`` (the new docs' rows), ``candidates``,
    ``verified``, ``edges`` (the new ones) and ``clusters`` (all docs).
    ``signatures`` and ``verified`` come back pinned by an eager
    ``localCheckpoint`` — each feeds several consumers; the rest are lazy,
    bar the jobs ``merge_components``/``connected_components`` run to
    plan themselves.

    The new-vs-old probe takes the M2 bloom plan (``functions/bloom.py``;
    reference ``BloomFilter.java:153-232``) when
    ``session.auto_prefilter_enabled`` says the old side is large: old
    band-key rows whose key cannot be among the new keys are dropped by a
    codegen'd ``might_contain`` BEFORE the join shuffle, so at scale
    (|old| ≫ |new|) the join's big side shrinks to ~|matching old rows|.
    Lossless: false positives are discarded by the join itself, and a
    filter that cannot be built leaves the plain join.
    """
    new_sigs = compute_signatures(
        new_documents, cfg, id_col=id_col, text_col=text_col
    ).localCheckpoint(eager=True)
    new_keys = new_sigs.filter(F.col("n_shingles") > 0).select(
        "doc_id", F.explode("band_keys").alias("key")
    )
    # new-vs-new through the standard salted/capped path
    candidates, _ = pairs_by_key(new_keys, cfg)
    all_sigs = new_sigs
    if old_signatures is not None:
        old_keys = old_signatures.filter(F.col("n_shingles") > 0).select(
            F.col("doc_id").alias("old_id"), F.explode("band_keys").alias("key")
        )
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
        # new-vs-old: uncapped equi-join on band key
        cross = (
            new_keys.join(old_keys, "key")
            .filter(F.col("doc_id") != F.col("old_id"))
            .select(
                F.least("doc_id", "old_id").alias("id1"),
                F.greatest("doc_id", "old_id").alias("id2"),
            )
            .distinct()
        )
        candidates = candidates.unionByName(cross).distinct()
        all_sigs = old_signatures.unionByName(new_sigs)

    verified = verify_pairs(
        candidates, all_documents, cfg, id_col=id_col, text_col=text_col,
        signatures=all_sigs, min_jaccard=cfg.jaccard_threshold,
    ).localCheckpoint(eager=True)
    new_edges = duplicate_edges(verified, cfg)
    if clusters is not None:
        # contract the previous clusters, CC only the batch-sized
        # contracted graph, relabel with one broadcast join — identical
        # labels to a full recompute over old ∪ new edges (pinned by
        # test_merge_components_equals_full_recompute), and re-merging
        # edges already in ``clusters`` is a no-op (every contracted edge
        # collapses to l1 == l2), which makes a stream replay safe
        clusters = merge_components(
            clusters,
            new_edges.select("id1", "id2"),
            new_vertices=new_documents.select(
                F.col(id_col).cast("long").alias("doc_id")
            ),
        )
    else:
        edges = new_edges.select("id1", "id2")
        if old_edges is not None:
            edges = old_edges.select("id1", "id2").unionByName(edges)
        clusters = connected_components(
            all_documents.select(F.col(id_col).cast("long").alias("doc_id")),
            edges,
        )
    return {
        "signatures": new_sigs,
        "candidates": candidates,
        "verified": verified,
        "edges": new_edges,
        "clusters": clusters,
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
    t0 = time.time()

    def nm(stage: str) -> str:
        return stage + stage_suffix

    old_sigs = store.read(nm("signatures"))
    step = merge_batch(
        new_documents, all_documents, old_sigs, cfg,
        clusters=store.read(nm("clusters")), id_col=id_col, text_col=text_col,
    )
    merged_sigs = old_sigs.unionByName(step["signatures"])
    merged_cands = (
        store.read(nm("candidates")).unionByName(step["candidates"]).distinct()
    )
    # merge the verified table too — a later resume must never pair a stale
    # 'verified' commit with the merged candidates/edges written below
    merged_verified = (
        store.read(nm("verified")).unionByName(step["verified"]).distinct()
    )
    merged_edges = store.read(nm("edges")).unionByName(step["edges"]).distinct()
    clusters = step["clusters"]
    stats = clusters.groupBy("cluster_id").agg(
        F.count("*").alias("size"), F.min("doc_id").alias("canonical_doc_id")
    )

    # materialize every frame whose plan reads a stage about to be
    # rewritten — commits below swap the underlying files (on Iceberg the
    # snapshot isolation makes this a no-op)
    merged_sigs = merged_sigs.localCheckpoint(eager=True)
    merged_cands = merged_cands.localCheckpoint(eager=True)
    merged_verified = merged_verified.localCheckpoint(eager=True)
    merged_edges = merged_edges.localCheckpoint(eager=True)
    clusters = clusters.localCheckpoint(eager=True)
    stats = stats.localCheckpoint(eager=True)

    wall = time.time() - t0
    out = {}
    out["signatures"] = store.write(nm("signatures"), merged_sigs, wall)
    out["candidates"] = store.write(nm("candidates"), merged_cands, wall)
    out["verified"] = store.write(nm("verified"), merged_verified, wall)
    out["edges"] = store.write(nm("edges"), merged_edges, wall)
    out["clusters"] = store.write(nm("clusters"), clusters, wall)
    out["cluster_stats"] = store.write(nm("cluster_stats"), stats, wall)
    # the per-run skew metrics describe only the batch that produced them —
    # invalidate so a resume recomputes instead of reusing a stale table.
    # Use the SUFFIXED key (the one this lineage committed under); also
    # drop the bare key for checkpoints written before suffix-awareness.
    store.invalidate(nm("skew_metrics"))
    if stage_suffix:
        store.invalidate("skew_metrics")
    # cascade: any downstream stage (curation's survivors / containment /
    # span / funnel tables, keyed via this spine's suffix) now holds
    # pre-merge content — invalidate every commit whose recorded
    # dependency chain reaches a table rewritten above, so a later
    # resume=True recomputes them over the merged spine instead of
    # silently serving stale survivors
    rewritten = [
        nm(s)
        for s in (
            "signatures", "candidates", "verified", "edges",
            "clusters", "cluster_stats", "skew_metrics",
        )
    ]
    store.invalidate_downstream(rewritten, exclude=rewritten)
    return out
