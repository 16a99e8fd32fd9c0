"""SparkSession factory with the engine's pinned configuration."""

from __future__ import annotations

import math
import os
from contextlib import contextmanager

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
    intersect): Spark sizes a parquet scan's partitions by bytes
    (``maxPartitionBytes``), so a small-file input — one ~MB file, a
    coalesced upstream stage, a single unsplittable row group — lands on
    ONE task and serializes the whole pass while every other core idles
    (measured: the sf0.1 bench's 5 k-doc single-file scan ran the block
    Jaccard join and the MinHash signature pass on 1 of 32 cores).

    At scale this is a no-op by construction: a 100 TB scan has ~10^5+
    partitions ≥ any cluster's parallelism, so the guard never inserts a
    shuffle where the input is already wide.  When it does fire, it
    shuffles the caller's column-pruned projection, and that projection
    can itself be the wide payload: the signature pass and the corpus
    Arrow scans round-robin ``(doc_id, text)`` — full document text —
    and ``hyperplane_buckets`` round-robins whole embedding vectors.
    Only the columns the caller did not select stay put.  Round-robin
    keeps sizes balanced regardless of key skew; Spark sorts batches
    before round-robin (``spark.sql.execution.sortBeforeRepartition``),
    so retries are deterministic.  All guarded operators are
    partition-layout-invariant (pinned by the scaling tests), so outputs
    are unchanged.

    ``None``-safe on non-classic backends: if partition introspection
    fails, the input is returned untouched.
    """
    try:
        sc = df.sparkSession.sparkContext
        n = int(min_partitions or sc.defaultParallelism)
        cur = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 — connect backend: no RDD access
        return df
    if cur >= n or cur <= 0:
        return df
    return df.repartition(n)


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


@contextmanager
def partition_policy(
    spark: SparkSession,
    df,
    *,
    target_partition_bytes: int = 128 * 1024 * 1024,
):
    """Scope ``spark.sql.shuffle.partitions`` to the data-sized
    recommendation for ``df`` (:func:`recommended_shuffle_partitions`
    over :func:`estimated_plan_bytes`) for the duration of the block,
    then restore the previous setting.

    Yields the chosen partition count, or ``None`` when the input size
    cannot be estimated — in that case the session setting is left
    untouched (unknown size ⇒ whatever the operator/session already
    pinned; the policy only acts on evidence).  This is the library
    surface of the bench tools' sizing rule: pipelines opt in with
    ``auto_partition=True`` instead of reading the bench docs.
    """
    est = estimated_plan_bytes(df)
    if est is None:
        yield None
        return
    n = recommended_shuffle_partitions(
        est,
        target_partition_bytes=target_partition_bytes,
        parallelism=spark.sparkContext.defaultParallelism,
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


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
