"""SparkSession factory with the engine's pinned configuration."""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession


def recommended_shuffle_partitions(
    total_bytes: int,
    *,
    target_partition_bytes: int = 128 * 1024 * 1024,
    parallelism: int | None = None,
) -> int:
    """Data-sized shuffle partition count for a job of ``total_bytes``.

    Size shuffle partitions to the DATA, identically at every cluster
    size, and let AQE coalesce small stages at runtime.  Both failure
    modes were measured on the 800k-doc funnel bench
    (BENCH/BASELINE.md, round 4):

    - too few: ``2*cpus`` gave 16 partitions at local[8] for a ~7 GB
      span shuffle (~600 MB a partition) and GC-thrashed the JVM —
      identical runs swung tier walls 2.5x;
    - too many: 256 partitions at local[32] doubled the same tier's
      wall vs 64 — more, smaller shuffle blocks cost more fetch/serve
      overhead per byte.

    Policy: ``ceil(total / target)`` partitions at ~128 MB each
    (Spark's default ``maxPartitionBytes``, the sweet spot between the
    two failure modes), floored at 2x the scheduling parallelism when
    known so every core gets work on small inputs.
    """
    if total_bytes < 0:
        raise ValueError(f"total_bytes must be >= 0, got {total_bytes}")
    n = max(1, math.ceil(total_bytes / target_partition_bytes))
    if parallelism:
        n = max(n, 2 * parallelism)
    return n


def ensure_min_partitions(df, min_partitions: int | None = None):
    """Round-robin repartition ``df`` up to the scheduler's parallelism —
    but ONLY when it currently has fewer partitions.

    Guards the operators whose next phase does EXPENSIVE per-row map work
    (Arrow signature kernels, tokenize+explode, the quadratic in-block
    intersect): a small-file scan lands on ONE task and serializes the
    pass while every other core idles (measured: the sf0.1 bench's 5 k-doc
    single-file scan ran the block Jaccard join and the MinHash signature
    pass on 1 of 32 cores).  At scale it is a no-op: a 100 TB scan has
    more partitions than any cluster has cores.  When it fires, it
    shuffles the caller's column-pruned projection, which can itself be
    the wide payload (``(doc_id, text)`` for the signature pass and the
    corpus Arrow scans, whole vectors for ``hyperplane_buckets``).
    Spark sorts before round-robin (``sortBeforeRepartition``), so
    retries are deterministic, and every guarded operator is
    partition-layout-invariant (pinned by the scaling tests).

    Deciding starts no job.  ``.rdd`` is read only for an exchange-free
    plan (scans, ``LocalRelation``, checkpointed ``LogicalRDD``): under
    AQE it runs the stages below an exchange.  A plan whose only
    exchanges are ``repartition(k)`` keeps ``k`` partitions; any other
    exchange is coalesced by AQE to partitions of at least
    ``spark.sql.adaptive.coalescePartitions.minPartitionSize``, so it is
    widened when :func:`estimated_plan_bytes` (unknown = large) puts it
    below ``n`` of those.  If introspection fails (non-classic
    backends), the input is returned untouched.
    """
    try:
        spark = df.sparkSession
        n = int(min_partitions or spark.sparkContext.defaultParallelism)
        plan, origins = _exchanges(df)
        if not origins:
            narrow = 0 < df.rdd.getNumPartitions() < n
        elif origins == {"REPARTITION_BY_NUM"}:
            narrow = plan.outputPartitioning().numPartitions() < n
        else:
            est = estimated_plan_bytes(df)
            parse = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils
            min_bytes = parse.byteStringAsBytes(spark.conf.get(
                "spark.sql.adaptive.coalescePartitions.minPartitionSize", "1MB"
            ))
            narrow = est is not None and est < n * min_bytes
    except Exception:  # noqa: BLE001 — connect backend: no plan access
        return df
    return df.repartition(n) if narrow else df


def _exchanges(df):
    """``df``'s physical plan as planned (under AQE, the adaptive plan's
    initial one; no job runs) and the origins of its exchanges: each
    shuffle's ``shuffleOrigin``, ``BROADCAST`` for a broadcast."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    origins, stack = set(), [plan]
    while stack:
        node = stack.pop()
        if node.nodeName() == "BroadcastExchange":
            origins.add("BROADCAST")
        elif node.nodeName() == "Exchange":
            origins.add(node.shuffleOrigin().toString())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return plan, origins


#: inputs estimated below this take the plain two-stage plan — the bloom
#: pre-filters pay a few fixed stages (second agg pass, filter build,
#: sizing count) that cost more than the whole query on tiny corpora
#: (measured: duplicate_span_stats 0.55 s → 2.2 s at sf0.1's 5k docs for
#: zero shuffle saved), while at 200k docs the same filter cut shuffle
#: writes 47%.  32 MB sits well between those two regimes.
AUTO_PREFILTER_MIN_BYTES = 32 * 1024 * 1024


def auto_prefilter_enabled(df) -> bool:
    """The shared floor decision of the bloom pre-filter plans
    (``corpus.duplicate_span_hits``, ``dedup.containment_pairs``): take
    the bloom plan unless the input is POSITIVELY estimated below
    :data:`AUTO_PREFILTER_MIN_BYTES` (unknown size ⇒ assume large, keep
    the scale path on)."""
    est = estimated_plan_bytes(df)
    return est is None or est >= AUTO_PREFILTER_MIN_BYTES


def estimated_plan_bytes(df) -> int | None:
    """Catalyst's logical-plan size estimate for ``df`` — file sizes for
    scans, exact bytes for local relations; **no job runs**.  ``None``
    when the estimate is unavailable (non-classic backend, moved
    internals) or is the unknown-stats sentinel — callers treat unknown
    as "large" so scale paths stay on by default.
    """
    try:
        raw = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        # py4j converts scala.math.BigInt to a Python int in current
        # builds; fall back to toString() for builds that return a proxy
        size = int(raw) if isinstance(raw, int) else int(raw.toString())
    except Exception:  # noqa: BLE001
        return None
    # Long.MaxValue / BigInt sentinel = "no idea" — not a real size
    if size < 0 or size >= (1 << 62):
        return None
    return size


def local_frame(spark: SparkSession, rows: list[tuple], schema: str):
    """A few local Python ``rows`` as a DataFrame that plans as a
    ``LocalRelation``, so no action on it starts a Python worker.

    ``spark.createDataFrame(list)`` plans a ``LogicalRDD`` over the
    pickled rows: every later action on it (an emptiness probe, a write)
    runs ``spark.default.parallelism`` Python-worker tasks — measured
    1.3–1.5 s per probe-plus-write of a one-row table at local[4] on 4
    vCPUs, against ~0.2 s for the same row as a ``LocalRelation``.  An
    Arrow table below ``spark.sql.execution.arrow.localRelationThreshold``
    lands on the JVM as a ``LocalRelation`` whatever
    ``arrow.pyspark.enabled`` says.
    ``schema`` is a DDL string; columns keep its types and nullability.
    """
    import pyarrow as pa
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    cols = {name: [r[i] for r in rows] for i, name in enumerate(struct.names)}
    return spark.createDataFrame(pa.table(cols), struct)


def cluster_storage_bytes(spark: SparkSession) -> int | None:
    """Total unified (storage+execution) memory across live executors,
    from the scheduler's executor memory status — **no job runs**.
    ``None`` when the introspection fails (non-classic backend, moved
    internals); callers treat unknown as "small cluster, big data" and
    stay on the recompute path.

    This is the scale signal that a fixed byte threshold cannot be: on
    this sandbox's 48 GB single JVM it reports ~25 GB, so a 3.7 GB corpus
    materializes; on a 1000-executor cluster reading 100 TB the same rule
    compares 100 TB against ~10 TB of executor memory and correctly
    refuses to pin the corpus."""
    try:
        status = spark.sparkContext._jsc.sc().getExecutorMemoryStatus()
        it = status.iterator()
        total = 0
        while it.hasNext():
            total += int(it.next()._2()._1())
        return total or None
    except Exception:  # noqa: BLE001
        return None


def get_spark(
    app_name: str = "localitysensitivesketch_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    # local[N]: shuffle partitions ≈ cores; on a real cluster this is set
    # per-job (2-3× total cores) and AQE coalesces at runtime.
    n_shuffle = shuffle_partitions or max(cpus, 8)
    # Shuffle/spill files on tmpfs: virtualized disks collapse under N
    # concurrent shuffle writers (measured 5× on verify at local[32]).  On a
    # real cluster this is the executors' local NVMe (spark.local.dir /
    # SPARK_LOCAL_DIRS from the cluster manager).
    local_dir = None
    if os.access("/dev/shm", os.W_OK):
        local_dir = "/dev/shm/spark-local"
        os.makedirs(local_dir, exist_ok=True)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.default.parallelism", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
