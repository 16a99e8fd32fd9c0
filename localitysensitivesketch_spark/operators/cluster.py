"""Duplicate clustering: DataFrame-only connected components.

The reference's end product is a cluster assignment per key (the paper's
"clustering-preserving" guarantee — keys grouped by value similarity,
``Sketching/LSSFingerprintAtomic.java:474-498``).  Ours is the duplicate
cluster label per doc (SURVEY §4.2 item 2):

* :func:`connected_components` — iterative min-label propagation:
  ``label(v) ← min(label(v), min over neighbors u of label(u))`` to
  fixpoint.  O(diameter) rounds — duplicate clusters from LSH banding are
  near-cliques, so 2-3 rounds in practice.
* :func:`connected_components_star` — alternating large-star / small-star
  (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC
  2014): O(log n) rounds regardless of diameter — the fallback
  :func:`connected_components` switches to when a chain-shaped graph
  (boilerplate A↔B↔C…) does not converge within ``max_iter`` rounds.

Both are deterministic and order-independent (min is commutative/
associative), so labels are identical at any parallelism level — the
engine's analogue of "same config ⇒ same clusters".  Canonical member =
min(doc_id).  ``localCheckpoint`` each round truncates the lineage that
iterative joins otherwise accumulate.

Scale notes: the iteration runs ONLY over vertices incident to ≥1 edge —
isolated vertices (the vast majority of a web corpus: non-duplicates)
never enter the loop joins and are labeled with themselves in one final
left join.  Labels are initialized to min(v, min neighbor), which IS the
first propagation round — one fewer iteration (2 Spark jobs) per run.

Durability: ``localCheckpoint`` (the default) stores to executor-local
disk — lost on executor death, which merely recomputes here (single-job
lineage).  On a long multi-executor run, pass ``checkpoint_dir`` to route
per-round labels through ``sc.setCheckpointDir`` + reliable
``checkpoint()`` (HDFS/object store) instead; the loop structure is
unchanged and the labels are identical.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)


def _ckpt_fn(df_any: DataFrame, checkpoint_dir: str | None):
    """Round-truncation strategy: reliable ``checkpoint()`` when a
    directory is given (set once on the SparkContext), else
    ``localCheckpoint``.  ``eager=False`` marks for materialization on
    first use (no extra job) — used to pin an expensive upstream plan so
    downstream self-unions evaluate it once."""
    if checkpoint_dir is None:
        return lambda df, eager=True: df.localCheckpoint(eager=eager)
    sc = df_any.sparkSession.sparkContext
    sc.setCheckpointDir(checkpoint_dir)
    return lambda df, eager=True: df.checkpoint(eager=eager)


def _sym_edges(edges: DataFrame) -> DataFrame:
    """(id1, id2) → symmetric (src, dst) edge list, self-loops dropped."""
    return (
        edges.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
        .unionByName(
            edges.select(F.col("id2").alias("src"), F.col("id1").alias("dst"))
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """vertices(id), edges(id1, id2) → (doc_id, cluster_id).

    cluster_id = min doc_id reachable in the undirected graph.  Isolated
    vertices label themselves (outside the iteration).  ``checkpoint_dir``
    switches round truncation from executor-local ``localCheckpoint`` to
    reliable ``checkpoint()`` (survives executor loss on a cluster).
    Label propagation that has not converged after ``max_iter`` rounds
    (a chain longer than ~``max_iter``) hands the same inputs to
    :func:`connected_components_star` instead of returning wrong labels.
    """
    ck = _ckpt_fn(edges, checkpoint_dir)
    verts = vertices.select(F.col(id_col).cast("long").alias("id")).distinct()
    # pin the (often expensive — a whole candidate join) edge plan BEFORE
    # symmetrizing: _sym_edges unions two projections of it, and without
    # this the upstream plan's post-exchange work runs twice (measured 2×
    # the ngram-join wall on the token-CC query)
    sym = ck(_sym_edges(ck(edges, eager=False)))

    # init = min(v, min neighbor): round 1 of propagation, for free
    labels = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("nbr"))
        .select(
            F.col("src").alias("id"),
            F.least(F.col("src"), F.col("nbr")).alias("label"),
        )
    )
    labels = ck(labels)

    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym.src == labels.id)
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr_min, labels.id == nbr_min.dst, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                F.col("label").alias("old_label"),
            )
        )
        new_labels = ck(new_labels)
        labels = new_labels.select("id", "label")
        # convergence check EVERY round: the count job reads the
        # round's already-checkpointed labels (cheap, no recompute),
        # while each avoided iteration is a full edge-join + aggregate +
        # checkpoint round — LSH duplicate clusters are near-cliques, so
        # the init (= round 1) usually converges immediately and the
        # first in-loop round just confirms it; checking here saves the
        # whole second in-loop round that the old >=1 gate always paid
        changed = new_labels.filter(F.col("label") != F.col("old_label")).count()
        if changed == 0:
            break
    else:
        logger.warning(
            "connected_components: label propagation did not converge in "
            "%d rounds — falling back to large-star/small-star", max_iter
        )
        return connected_components_star(
            vertices, edges, id_col, max_iter, checkpoint_dir
        )

    return verts.join(labels, "id", "left").select(
        F.col("id").alias("doc_id"),
        F.coalesce("label", F.col("id")).alias("cluster_id"),
    )


def connected_components_star(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Alternating large-star / small-star connected components.

    Each round rewrites the edge set (canonical ``lo < hi`` pairs):

    * **large-star** — per node u with closed-neighborhood min m:
      every neighbor v > u re-attaches to m, i.e. emit (m, v);
    * **small-star** — per node u: every neighbor v < u re-attaches to m,
      plus u itself, i.e. emit (m, v) and (m, u).

    Components contract into stars centered at their min node in
    O(log n) rounds (Kiveris et al., SoCC 2014 — published algorithm,
    reimplemented from the paper).  Fixpoint = edge set unchanged; at
    fixpoint every edge is (component_min, member).
    """
    ck = _ckpt_fn(edges, checkpoint_dir)
    verts = vertices.select(F.col(id_col).cast("long").alias("id")).distinct()
    E = ck(
        edges.select(
            F.least("id1", "id2").alias("lo"), F.greatest("id1", "id2").alias("hi")
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )

    def closed_min(sym: DataFrame) -> DataFrame:
        return (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )

    def symmetrize(e: DataFrame) -> DataFrame:
        return e.select(F.col("lo").alias("u"), F.col("hi").alias("v")).unionByName(
            e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        )

    for _ in range(max_iter):
        # large-star
        sym = symmetrize(E)
        ls = (
            sym.join(closed_min(sym), "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
            .filter(F.col("lo") != F.col("hi"))
            .distinct()
        )
        ls = ck(ls)
        # small-star
        sym2 = symmetrize(ls)
        m2 = closed_min(sym2)
        ss = (
            sym2.join(m2, "u")
            .filter(F.col("v") < F.col("u"))
            .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
            .unionByName(m2.select(F.col("m").alias("lo"), F.col("u").alias("hi")))
            .filter(F.col("lo") != F.col("hi"))
            .distinct()
        )
        ss = ck(ss)
        # m ≤ v and m ≤ u by construction, so (lo, hi) stays canonical
        converged = (
            ss.count() == E.count() and ss.exceptAll(E).count() == 0
        )
        E = ss
        if converged:
            break

    stars = E.groupBy("hi").agg(F.min("lo").alias("label"))
    return verts.join(
        stars.select(F.col("hi").alias("id"), "label"), "id", "left"
    ).select(
        F.col("id").alias("doc_id"),
        F.coalesce("label", F.col("id")).alias("cluster_id"),
    )


def merge_components(
    labels: DataFrame,
    new_edges: DataFrame,
    new_vertices: DataFrame | None = None,
    id_col: str = "doc_id",
    endpoint_broadcast_limit: int = 5_000_000,
) -> DataFrame:
    """Incremental CC: merge ``new_edges`` (and optionally ``new_vertices``)
    into an existing ``labels(doc_id, cluster_id)`` assignment WITHOUT
    re-running connected components over the full edge set.

    Correctness: contracting each existing cluster to a single node
    preserves connectivity, so CC over the CONTRACTED graph — one node per
    old cluster label touched by a new edge, one edge per new edge mapped
    through the old labels — yields exactly the components of the union
    graph.  Labels are min-doc_ids, and min over merged groups of mins is
    the global min, so the merged labels are IDENTICAL to a from-scratch
    ``connected_components`` over old∪new edges (pinned by
    ``test_merge_components_equals_full_recompute``).

    Scale shape (the reason this exists): per batch the full recompute is
    O(|all edges|) across ~log rounds of shuffles; here the only work
    proportional to corpus size is ONE map-side pass — the final relabel
    broadcast-joins the (tiny) label→superlabel map against ``labels``, and
    the contracted CC runs on ≤|new edges| edges.  The endpoint set of a
    micro-batch is small by construction, so the semi-join that extracts
    touched label rows broadcasts it.  Pathological-batch guard (in code,
    not a docstring punt): when the endpoint set exceeds
    ``endpoint_broadcast_limit`` rows — a batch whose endpoints rival the
    corpus, where driver-collecting them for a broadcast would OOM — the
    SAME contracted-graph merge runs with shuffle hash joins instead of
    broadcasts (one cheap ``endpoints.count()`` decides).  Labels are
    identical on both paths (the algorithm doesn't change, only the join
    strategy); cost degrades gracefully to ~one shuffle of the label
    table, still cheaper than full CC's ~log rounds over all edges.

    Edge endpoints absent from both ``labels`` and ``new_vertices`` are
    treated as implicitly new vertices (labeled by themselves before the
    merge), so no edge is ever silently dropped.
    """
    new_edges = new_edges.select(
        F.col("id1").cast("long").alias("id1"),
        F.col("id2").cast("long").alias("id2"),
    )
    base = labels.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )
    endpoints = (
        new_edges.select(F.col("id1").alias("doc_id"))
        .unionByName(new_edges.select(F.col("id2").alias("doc_id")))
        .distinct()
    )
    # new vertices = explicit ones plus any edge endpoint unknown to the
    # committed labels — both batch-sized; without the endpoint union an
    # edge touching an unlabeled doc would vanish through the inner joins
    incoming = endpoints
    if new_vertices is not None:
        incoming = incoming.unionByName(
            new_vertices.select(F.col(id_col).cast("long").alias("doc_id"))
        ).distinct()
    fresh = incoming.join(base.select("doc_id"), "doc_id", "left_anti").select(
        "doc_id", F.col("doc_id").alias("cluster_id")
    )
    base = base.unionByName(fresh)
    base = base.localCheckpoint(eager=False)  # two consumers: touched + relabel
    # pathological-batch guard: decide the join strategy from the actual
    # endpoint count (endpoints is batch-derived, so this count is cheap
    # relative to the merge itself)
    small_batch = endpoints.count() <= endpoint_broadcast_limit
    _bc = F.broadcast if small_batch else (lambda df: df)
    if not small_batch:
        logger.warning(
            "merge_components: endpoint set exceeds broadcast limit "
            "(%d rows) — falling back to shuffle joins", endpoint_broadcast_limit
        )
    # touched = the old label of every endpoint — normally batch-sized,
    # so broadcast it into the big labels table (map-side semi-join)
    touched = base.join(_bc(endpoints), "doc_id")
    c1 = touched.select(
        F.col("doc_id").alias("id1"), F.col("cluster_id").alias("l1")
    )
    c2 = touched.select(
        F.col("doc_id").alias("id2"), F.col("cluster_id").alias("l2")
    )
    contracted = (
        new_edges.join(c1, "id1")
        .join(c2, "id2")
        .filter(F.col("l1") != F.col("l2"))
        .select(F.col("l1").alias("id1"), F.col("l2").alias("id2"))
        .distinct()
    )
    cverts = (
        contracted.select(F.col("id1").alias("doc_id"))
        .unionByName(contracted.select(F.col("id2").alias("doc_id")))
        .distinct()
    )
    # contracted graph is new-edge-sized — CC on it is cheap regardless of
    # corpus size
    super_labels = connected_components(cverts, contracted)
    remap = super_labels.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias("cluster_id"),
        F.col("cluster_id").alias("new_cluster_id"),
    )
    # ONE broadcast hash join over the corpus-sized label table — no
    # shuffle of labels, no iteration (shuffle join on the guard path)
    return base.join(_bc(remap), "cluster_id", "left").select(
        "doc_id",
        F.coalesce("new_cluster_id", "cluster_id").alias("cluster_id"),
    )


def cluster_stats(assignments: DataFrame, documents: DataFrame | None = None,
                  id_col: str = "doc_id") -> DataFrame:
    """Per-cluster size + canonical doc (avg-estimator analogue,
    ``Sketching/LSSEntryFinger.java:70-80`` — the shared-cell summary that
    answers queries for every member)."""
    return assignments.groupBy("cluster_id").agg(
        F.count("*").alias("size"),
        F.min(id_col).alias("canonical_doc_id"),
    )
