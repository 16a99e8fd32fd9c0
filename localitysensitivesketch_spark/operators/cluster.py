"""Duplicate clustering: connected components over the duplicate edges.

The reference's end product is a cluster assignment per key (the paper's
"clustering-preserving" guarantee — keys grouped by value similarity,
``Sketching/LSSFingerprintAtomic.java:474-498``), computed in one
process's memory.  Ours is the duplicate cluster label per doc (SURVEY
§4.2 item 2): ``cluster_id`` = min doc_id reachable, canonical member =
min(doc_id).

:func:`connected_components` has one algorithm, split by the driver edge
limit L (:func:`_driver_edge_limit`, millions of edges at the default
``spark.driver.maxResultSize``):

* One ``limit(L + 1).toArrow()`` both decides and collects.  When the
  edges fit — every duplicate graph the engine makes in practice: 596,732
  edges at 400k docs in the funnel — CC finishes on the driver in numpy
  (:func:`_driver_labels`), and the labels join back as a broadcast.  No
  per-round join, aggregate, checkpoint or ``count()``.
* Above L, alternating large-star / small-star rounds (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC 2014) contract the
  edge set in Spark (:func:`_star_rounds`) until it fits under L, or until
  it stops changing, when every edge is (component min, member).

Both phases are deterministic and order-independent (min is commutative/
associative), so labels are identical at any parallelism level and at any
L — the engine's analogue of "same config ⇒ same clusters".  Isolated
vertices (the vast majority of a web corpus) never enter either phase:
they are labeled with themselves in the final left join.

Durability: star rounds truncate lineage with ``localCheckpoint`` (the
default), which stores to executor-local disk.  On a long multi-executor
run, pass ``checkpoint_dir`` to route each round through
``sc.setCheckpointDir`` + reliable ``checkpoint()`` instead; the labels
are identical.
"""

from __future__ import annotations

import logging

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)

#: a collected edge is two int64 ids
_EDGE_BYTES = 16
#: the driver finish holds a few int64 arrays per edge besides the
#: collected table, so the collect takes a quarter of the result budget
_HEADROOM = 4


def _driver_edge_limit(spark: SparkSession) -> int:
    """L: the most edges collected to the driver — the existing
    ``spark.driver.maxResultSize`` (its 1g default when unset or 0 =
    unlimited) at 16 B an edge, over 4x headroom: 16,777,216 edges at
    1g.  Reads the conf only; no job runs."""
    conf = spark.sparkContext._jsc.sc().conf()
    size = int(conf.getSizeAsBytes("spark.driver.maxResultSize", "1g")) or (1 << 30)
    return size // (_EDGE_BYTES * _HEADROOM)


def _ckpt_fn(df_any: DataFrame, checkpoint_dir: str | None):
    """Round-truncation strategy: reliable ``checkpoint()`` when a
    directory is given (set once on the SparkContext), else
    ``localCheckpoint``."""
    if checkpoint_dir is None:
        return lambda df: df.localCheckpoint()
    df_any.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
    return lambda df: df.checkpoint()


def _driver_labels(spark: SparkSession, rows) -> DataFrame:
    """Collected ``(lo, hi)`` edges → ``(id, label)`` for every non-minimal
    member, as a broadcast-sized frame built from Arrow.

    Ids are compacted with ``np.unique`` (sorted, so the min index is the
    min id).  Each round hooks the larger root label of every edge onto
    the smaller one, then pointer-jumps every node to its root; the number
    of roots falls each round, and at the fixpoint every edge joins equal
    roots, so each component's root is its min node.
    """
    import pyarrow as pa

    lo = rows.column("lo").to_numpy()
    ids, idx = np.unique(np.concatenate([lo, rows.column("hi").to_numpy()]),
                         return_inverse=True)
    u, v = idx[: len(lo)], idx[len(lo):]
    root = np.arange(len(ids))
    while True:
        ru, rv = root[u], root[v]
        if np.array_equal(ru, rv):
            break
        np.minimum.at(root, np.maximum(ru, rv), np.minimum(ru, rv))
        while True:
            jumped = root[root]
            if np.array_equal(jumped, root):
                break
            root = jumped
    member = root != np.arange(len(ids))
    # an Arrow table lands on the JVM as a LocalRelation below
    # arrow.localRelationThreshold (see session.local_frame), else as a
    # JVM-only RDD — no Python worker either way
    return spark.createDataFrame(
        pa.table({"id": ids[member], "label": ids[root[member]]})
    )


def _star_rounds(edges: DataFrame, limit: int, ck):
    """Alternating large-star / small-star rounds over canonical
    ``(lo, hi)`` edges (``lo < hi``):

    * **large-star** — per node u with closed-neighborhood min m:
      every neighbor v > u re-attaches to m, i.e. emit (m, v);
    * **small-star** — per node u: every neighbor v < u re-attaches to m,
      plus u itself, i.e. emit (m, v) and (m, u).

    Components contract into stars centered at their min node in
    O(log n) rounds (Kiveris et al., SoCC 2014 — published algorithm,
    reimplemented from the paper).  Returns ``(edges, rows)``: ``rows`` is
    the collected edge set once it fits under ``limit``, or ``None`` when
    the rounds reach their fixpoint first — then every edge is
    (component_min, member).
    """

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

    E = ck(edges.distinct())
    n = E.count()
    while True:
        # large-star
        sym = symmetrize(E)
        ls = ck(
            sym.join(closed_min(sym), "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
            .filter(F.col("lo") != F.col("hi"))
            .distinct()
        )
        # small-star
        sym2 = symmetrize(ls)
        m2 = closed_min(sym2)
        ss = ck(
            sym2.join(m2, "u")
            .filter(F.col("v") < F.col("u"))
            .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
            .unionByName(m2.select(F.col("m").alias("lo"), F.col("u").alias("hi")))
            .filter(F.col("lo") != F.col("hi"))
            .distinct()
        )
        # m ≤ v and m ≤ u by construction, so (lo, hi) stays canonical
        n_next = ss.count()
        if n_next <= limit:
            return ss, ss.toArrow()
        if n_next == n and ss.exceptAll(E).count() == 0:
            return ss, None
        E, n = ss, n_next


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """vertices(id), edges(id1, id2) → (doc_id long, cluster_id long).

    cluster_id = min doc_id reachable in the undirected graph.  Isolated
    vertices label themselves.  When the edges fit under the driver limit
    the only work before the result is consumed is one edge collect;
    ``checkpoint_dir`` switches the star rounds above the limit from
    ``localCheckpoint`` to reliable ``checkpoint()``.
    """
    spark = edges.sparkSession
    limit = _driver_edge_limit(spark)
    verts = vertices.select(F.col(id_col).cast("long").alias("id")).distinct()
    E = edges.select(
        F.least("id1", "id2").cast("long").alias("lo"),
        F.greatest("id1", "id2").cast("long").alias("hi"),
    ).filter(F.col("lo") != F.col("hi"))
    rows = E.limit(limit + 1).toArrow()
    if rows.num_rows > limit:
        E, rows = _star_rounds(E, limit, _ckpt_fn(edges, checkpoint_dir))
    if rows is None:
        labels = E.groupBy(F.col("hi").alias("id")).agg(F.min("lo").alias("label"))
    else:
        labels = F.broadcast(_driver_labels(spark, rows))
    return verts.join(labels, "id", "left").select(
        F.col("id").alias("doc_id"),
        F.coalesce("label", F.col("id")).alias("cluster_id"),
    )


def merge_components(
    labels: DataFrame,
    new_edges: DataFrame,
    new_vertices: DataFrame | None = None,
    id_col: str = "doc_id",
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
    O(|all edges|); here the only work proportional to corpus size is ONE
    map-side pass — the final relabel broadcast-joins the (tiny)
    label→superlabel map against ``labels``, and the contracted graph
    (≤|new edges| edges) goes through :func:`connected_components`, which
    finishes it on the driver whenever it fits under L.  The endpoint set of a micro-batch is small
    by construction, so the semi-join that extracts touched label rows
    broadcasts it.  Pathological-batch guard (in code, not a docstring
    punt): when the endpoint set exceeds the same driver limit L as
    :func:`connected_components` (:func:`_driver_edge_limit`) — a batch
    whose endpoints rival the corpus, where driver-collecting them for a
    broadcast would OOM — the SAME contracted-graph merge runs with
    shuffle hash joins instead of broadcasts (one cheap
    ``endpoints.count()`` decides).  Labels are
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
    limit = _driver_edge_limit(labels.sparkSession)
    small_batch = endpoints.count() <= limit
    _bc = F.broadcast if small_batch else (lambda df: df)
    if not small_batch:
        logger.warning(
            "merge_components: endpoint set exceeds the driver limit "
            "(%d rows) — falling back to shuffle joins", limit
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
    # contracted graph is new-edge-sized, whatever the corpus size
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


def cluster_stats(assignments: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-cluster size + canonical doc (avg-estimator analogue,
    ``Sketching/LSSEntryFinger.java:70-80`` — the shared-cell summary that
    answers queries for every member)."""
    return assignments.groupBy("cluster_id").agg(
        F.count("*").alias("size"),
        F.min(id_col).alias("canonical_doc_id"),
    )
