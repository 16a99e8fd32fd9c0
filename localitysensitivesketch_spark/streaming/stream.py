"""Structured Streaming variant of the engine.

Reference analogue: the Pulsar-wired streaming topology (SURVEY §0) —
ingest publishes keyed batches (``Ingest/Pub4PCapStreamKVTable.java:
511-575``), the sketch stage consumes and flushes a window every
``NumberFlowsPerPeriod`` keys (``Sketching/Sub4SketchingKVStream.java:
353-394``), queries run per window.  Spark-first mapping:

* topic → file/parquet (or Kafka) ``readStream`` source
* count-tumbling window → micro-batch (``foreachBatch``) or event-time
  ``F.window`` + watermark for late data
* sketch flush + serialize → per-batch append into the checkpointed
  signature store (the batch id is the window id)
* downstream queries → each curated micro-batch goes through the same
  incremental near-dup step as the batch MERGE
  (``plans.incremental.merge_batch``: candidates against the accumulated
  store, verify, cluster merge); this module adds only the per-batch
  storage (:func:`process_incremental_batch`)

The batch pipeline stays the primary deliverable (north_rule); this module
makes the same operators run incrementally without rewriting them.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..config import SketchConfig
from ..operators.signatures import compute_signatures
from ..session import local_frame


DOC_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def _write_by_batch(
    df: DataFrame, path: str, batch_id: int, empty: bool | None = None
) -> None:
    """Idempotent per-batch store write: partitioned by batch_id with
    DYNAMIC partition overwrite, so a Structured Streaming replay of the
    same batch rewrites its own partition instead of appending.

    An all-dropped batch must not SEED the store with a schema-less
    directory (a partitioned write of an empty DataFrame lands no parquet
    footers, and every later batch's ``spark.read.parquet`` would fail
    schema inference) — skipping the very first write is replay-equivalent
    (absent directory == no state).  Once the directory exists its schema
    is pinned by earlier footers, and the empty dynamic overwrite touches
    no partitions, so it is skipped too (pure no-op either way).

    ``empty`` is what the caller already knows from a count it took
    anyway; only when it is ``None`` (no count exists) does the write
    probe ``df`` with ``isEmpty()``, which costs one Spark job."""
    if empty is None:
        empty = df.isEmpty()
    if empty:
        return
    df.withColumn("batch_id", F.lit(batch_id)).write.mode(
        "overwrite"
    ).option("partitionOverwriteMode", "dynamic").partitionBy(
        "batch_id"
    ).parquet(path)


def read_document_stream(
    spark: SparkSession,
    path: str | None = None,
    schema: str = DOC_SCHEMA,
    max_files_per_trigger: int = 4,
    source: str = "files",
    kafka_bootstrap_servers: str | None = None,
    kafka_topic: str | None = None,
    kafka_starting_offsets: str = "earliest",
) -> DataFrame:
    """S1/S4 analogue: a document stream — parquet directory (the tested
    sandbox path) or a Kafka topic (``source="kafka"``; the reference's
    Pulsar consumer role, ``Sub4SketchingKVStream.java:236-302``).  The
    downstream transform graph is identical for both sources."""
    if source == "kafka":
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", kafka_bootstrap_servers)
            .option("subscribe", kafka_topic)
            .option("startingOffsets", kafka_starting_offsets)
            .load()
        )
        return project_kafka_records(raw, schema)
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def project_kafka_records(raw: DataFrame, schema: str = DOC_SCHEMA) -> DataFrame:
    """Kafka-shaped records (key/value binary + topic/partition/offset/
    timestamp) → the documents schema.

    Wire format: ``value`` is a UTF-8 JSON envelope of the document row
    with ``html`` base64-encoded (binary can't ride JSON) — the engine's
    version of the reference's Avro KV codec (``control/MyKeyValueSchema.
    java:8-56``).  Pure JVM expressions (``from_json``/``unbase64``), so
    this projection is unit-testable on a batch DataFrame without a broker
    and runs inside codegen on the stream.
    """
    json_schema = schema.replace("html binary", "html string")
    parsed = raw.select(
        F.from_json(F.decode(F.col("value"), "UTF-8"), json_schema).alias("d")
    )
    cols = []
    for field in json_schema.split(","):
        name = field.strip().split()[0]
        c = F.col(f"d.{name}")
        cols.append(F.unbase64(c).alias("html") if name == "html" else c.alias(name))
    return parsed.select(*cols)


def stream_signatures(
    documents: DataFrame,
    cfg: SketchConfig,
    out_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = True,
) -> StreamingQuery:
    """Signature stage as a streaming sink: docs → MinHash/SimHash rows
    appended to the signature store.  ``mapInPandas`` streams unchanged —
    one code path for batch and streaming (the engine's W7 'clone the
    trained skeleton per topic' analogue is just reusing the same cfg)."""
    sigs = compute_signatures(documents, cfg, id_col=id_col, text_col=text_col)
    w = (
        sigs.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def process_incremental_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    cfg: SketchConfig,
    store_root: str,
    all_documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """The near-dup tier for ONE micro-batch (the W1 window flush and the
    reference's per-window query topology, ``Consumer4sketch.java:
    201-269``): the batch goes through the shared incremental step
    (:func:`~..plans.incremental.merge_batch` — sketch, new-vs-new and
    new-vs-old candidates, verify, cluster merge) against the state
    accumulated under ``store_root``, and the batch's signatures and
    edges plus a fresh global cluster snapshot are stored.
    Module-level so the replay contract is directly unit-testable;
    :func:`stream_curation` ``dedup=True`` calls it per micro-batch.

    ``all_documents`` holds every document the state covers, this batch
    included, once each (old-vs-new pairs verify against its texts, as
    in :func:`~..plans.incremental.incremental_update`); the store keeps
    no copy — :func:`stream_curation` passes its curated corpus.

    State lives in parquet dirs under ``store_root`` (sigs/ and edges/
    per batch, clusters/ the snapshot), so a restart resumes from the
    stream checkpoint like the reference's deserialize-and-continue
    path (``LSSFingerprintAtomic.java:1405-1483``).  Other dirs under
    ``store_root`` (such as the ``docs/`` and ``pairs/`` tables older
    stores hold) are never read.

    **Idempotent by construction**: the per-batch tables are written by
    batch_id with DYNAMIC partition overwrite, so a Structured Streaming
    replay of the last uncommitted batch (same batch_id, same rows)
    rewrites ITS OWN partition instead of appending duplicates.  Every
    state read excludes the CURRENT batch_id, so a replay sees exactly
    the pre-batch state — otherwise the failed attempt's signatures
    would re-enter through the uncapped new-vs-old join and re-add the
    intra-batch pairs the width cap dropped.  An empty batch (e.g. an
    all-dropped curation batch) adds no state and is a no-op.
    """
    from ..plans.incremental import merge_batch

    # one signature row per batch row, so an empty batch would add no
    # state: return before anything is sketched, verified or rewritten;
    # the probe also settles the emptiness of the sigs write
    if batch_df.isEmpty():
        return
    sig_path = os.path.join(store_root, "sigs")
    edge_path = os.path.join(store_root, "edges")
    cluster_path = os.path.join(store_root, "clusters")

    def prior(path: str) -> DataFrame | None:
        # this batch's own partition is present only on replay —
        # partition pruning makes the filter free
        if not os.path.exists(path):
            return None
        return (
            spark.read.parquet(path)
            .filter(F.col("batch_id") != F.lit(batch_id))
            .drop("batch_id")
        )

    old_clusters = None
    if os.path.exists(cluster_path):
        old_clusters = spark.read.parquet(cluster_path)
    step = merge_batch(
        batch_df, all_documents, prior(sig_path), cfg,
        clusters=old_clusters, id_col=id_col, text_col=text_col,
        # no snapshot (first window, or a crash between the two renames
        # below): the labels are rebuilt from the durably stored edges
        old_edges=None if old_clusters is not None else prior(edge_path),
    )
    # pinned: its plan reads the snapshot rewritten below
    clusters = step["clusters"].localCheckpoint(eager=True)
    _write_by_batch(step["signatures"], sig_path, batch_id, empty=False)
    _write_by_batch(step["edges"], edge_path, batch_id)
    # global snapshot via staged write + rename swap: a bare
    # mode("overwrite") clears the old directory BEFORE the new data
    # lands, so a crash mid-write would leave a partial/empty snapshot
    # that a replay would silently merge against.  With the swap, every
    # crash point is safe: mid-staging ⇒ stale staging removed on next
    # entry; between the two renames ⇒ cluster_path absent and the replay
    # rebuilds it from ``all_documents`` and the stored per-batch edges.
    # (On an object store / Iceberg this is a snapshot commit instead.)
    import shutil

    staging = cluster_path + "__staging"
    old = cluster_path + "__old"
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    clusters.write.mode("overwrite").parquet(staging)
    if os.path.exists(cluster_path):
        os.rename(cluster_path, old)
    os.rename(staging, cluster_path)
    shutil.rmtree(old, ignore_errors=True)


def process_curation_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    store_root: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    gopher_kwargs: dict | None = None,
    blocklist: list[str] | None = None,
    url_col: str = "url",
    redact: bool = False,
) -> DataFrame:
    """Curation tiers for ONE micro-batch — optional host blocklist →
    quality gate → exact dedup → optional PII redaction — so a crawl
    stream lands curated (round-4 VERDICT #6; the batch analogue is
    ``plans.curation.CurationPipeline``'s exact/quality tiers).
    Module-level so the replay contract is unit-testable.

    Tier semantics (streaming-native):

    * **host blocklist** (stateless, optional): label-boundary suffix
      match of the url's host against ``blocklist``
      (:func:`~..operators.urls.filter_blocked_hosts` list path — pure
      codegen, no join).  Runs FIRST: it reads only the url, so blocked
      rows never pay text work or state I/O.
    * **quality gate** (stateless): ``gopher_filter`` keep/drop per doc —
      a pure function of the text, so running it before the exact tier
      changes nothing downstream: members of an exact-dup group share
      text, hence share the quality verdict.
    * **exact tier** (stateful, first-seen wins): one keeper per content
      md5 — min ``id_col`` within the first batch containing the hash.
      A doc already published downstream can never be unpublished, so
      first-seen is THE streaming exact-dedup semantic; the surviving
      text SET is identical to the batch funnel's on any batch split,
      and the surviving doc-id set matches the batch funnel exactly when
      batches arrive in ascending ``id_col`` order (the global min id of
      a hash group is then in its first batch).
    * **PII redaction** (stateless, optional): ``redact=True`` lands a
      ``redacted_text`` column on the curated rows; the raw ``text_col``
      is kept byte-identical (input_hint invariant).

    **Idempotent by construction** (same contract as
    :func:`process_incremental_batch`): the kept-hash store, curated
    rows, and metrics are all partitioned by batch_id and written with
    dynamic partition overwrite, and the hash-store read excludes the
    CURRENT batch_id, so a replayed batch sees the pre-batch state and
    rewrites only its own partitions — the optional tiers are stateless,
    so they cannot perturb this contract.

    Returns the curated batch (the batch's survivors, full rows) so a
    caller can chain the near-dup tier (:func:`stream_curation`
    ``dedup=True`` does).
    """
    from ..operators.corpus import gopher_filter
    from ..operators.pii import redact_pii
    from ..operators.urls import filter_blocked_hosts, url_host

    hash_path = os.path.join(store_root, "exact_hashes")
    curated_path = os.path.join(store_root, "curated")
    metrics_path = os.path.join(store_root, "curation_metrics")

    n_in = batch_df.count()
    if blocklist:
        batch_df = filter_blocked_hosts(
            batch_df.withColumn("__host", url_host(F.col(url_col))),
            blocklist,
            host_col="__host",
            id_col=id_col,
        ).drop("__host")
    n_unblocked = batch_df.count() if blocklist else n_in
    quality = gopher_filter(
        batch_df, id_col=id_col, text_col=text_col, **(gopher_kwargs or {})
    )
    passed = batch_df.join(
        quality.filter("keep").select(F.col("doc_id").alias(id_col)),
        id_col,
        "left_semi",
    ).localCheckpoint(eager=True)  # two consumers (keeper agg + semi join)
    n_quality = passed.count()

    # exact tier: min-id keeper per md5 WITHIN the batch, minus hashes
    # already kept by earlier batches (replay excludes this batch's rows)
    keepers = (
        passed.select(
            F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("h")
        )
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    if os.path.exists(hash_path):
        seen = spark.read.parquet(hash_path).filter(
            F.col("batch_id") != F.lit(batch_id)
        )
        keepers = keepers.join(seen.select("h"), "h", "left_anti")
    keepers = keepers.localCheckpoint(eager=True)  # plan reads hash_path

    curated = passed.join(
        keepers.select(F.col("doc_id").alias(id_col)), id_col, "left_semi"
    )
    if redact:
        curated = redact_pii(curated, text_col=text_col)
    curated = curated.localCheckpoint(eager=True)  # write + caller chain
    n_curated = curated.count()

    # every keeper's doc_id is a row of ``passed`` (the semi join above
    # drops null ids), so keepers is empty exactly when curated is
    _write_by_batch(keepers, hash_path, batch_id, empty=n_curated == 0)
    _write_by_batch(curated, curated_path, batch_id, empty=n_curated == 0)
    _write_by_batch(
        local_frame(
            spark,
            [(n_in, n_unblocked, n_quality, n_curated)],
            "n_in long, n_unblocked long, n_quality_kept long, "
            "n_curated long",
        ),
        metrics_path,
        batch_id,
        empty=False,
    )
    return curated


def stream_curation(
    spark: SparkSession,
    documents: DataFrame,
    store_root: str,
    cfg: SketchConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    gopher_kwargs: dict | None = None,
    dedup: bool = False,
    available_now: bool = True,
    blocklist: list[str] | None = None,
    url_col: str = "url",
    redact: bool = False,
) -> StreamingQuery:
    """Streaming curation funnel: every micro-batch runs the stateless
    hygiene tiers (optional host ``blocklist``, optional PII
    ``redact``) + quality gate + exact tier
    (:func:`process_curation_batch`) and, with ``dedup=True``, chains
    the near-dup tier (:func:`process_incremental_batch` — sigs →
    incremental candidates → verify → incremental CC) over the CURATED
    survivors only, under
    ``store_root/dedup``; an all-dropped batch leaves that state
    untouched.  Restart resumes from the stream checkpoint; every
    per-batch write is replay-idempotent."""
    ckpt = os.path.join(store_root, "_curation_checkpoint")
    # same multilingual default as plans.curation.CurationPipeline: a web
    # crawl stream is multilingual and the English-stopword rule would
    # drop every non-English doc; pass min_stopword_ratio explicitly to
    # re-enable it
    gopher_kwargs = {"min_stopword_ratio": 0.0, **(gopher_kwargs or {})}

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        curated = process_curation_batch(
            spark, batch_df, batch_id, store_root,
            id_col=id_col, text_col=text_col, gopher_kwargs=gopher_kwargs,
            blocklist=blocklist, url_col=url_col, redact=redact,
        )
        # no curated/ yet means every batch so far was all-dropped: there
        # is nothing to dedup (a later empty batch returns inside the step)
        if dedup and os.path.isdir(os.path.join(store_root, "curated")):
            process_incremental_batch(
                spark, curated, batch_id, cfg or SketchConfig(),
                os.path.join(store_root, "dedup"),
                read_curated(spark, store_root),
                id_col=id_col, text_col=text_col,
            )

    w = (
        documents.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", ckpt)
        .outputMode("update")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def read_curated(spark: SparkSession, store_root: str) -> DataFrame:
    """The curated corpus a :func:`stream_curation` store has landed so
    far (union of per-batch survivor partitions; exactly-one-doc-per-
    surviving-text by the exact tier's keeper contract)."""
    return spark.read.parquet(os.path.join(store_root, "curated")).drop(
        "batch_id"
    )


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "key",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """W1+W3 streaming analytics: per-(event-time window, key) counts with a
    watermark bounding state — the event-time version of the reference's
    count-tumbling window (late data dropped past the watermark instead of
    the reference's implicit drop-on-reset)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col(key_col).alias("key"),
            "cnt",
        )
    )


def stream_sketch_state(
    spark: SparkSession,
    events: DataFrame,
    out_root: str,
    key_col: str = "user_id",
    value_col: str = "value",
    group_col: str = "event_type",
    ts_col: str = "ts",
    window_fmt: str = "yyyy-MM-dd",
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming sketch producer (``Sub4SketchingKVStream.java:419-452``
    window-flush analogue): each micro-batch builds PARTIAL per-(group,
    window) theta/KLL state rows (``operators.sketchstate.
    sketch_window_state``) and lands them partitioned by batch_id with
    dynamic partition overwrite — the same idempotent-replay contract as
    :func:`process_incremental_batch` (a replayed batch rewrites its own
    partition, never appends duplicates).

    No cross-batch reconciliation is needed at write time: sketch
    mergeability guarantees that partials from ANY split of the rows
    coalesce (``sketchstate.coalesce_state``) into the state a single
    batch build produces.  Readers go through :func:`read_sketch_state`.
    """
    from ..operators.sketchstate import sketch_window_state

    ckpt = os.path.join(out_root, "_sketch_checkpoint")
    state_path = os.path.join(out_root, "sketch_state")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        partial = sketch_window_state(
            batch_df,
            key_col=key_col,
            value_col=value_col,
            group_col=group_col,
            ts_col=ts_col,
            window_fmt=window_fmt,
        )
        partial.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "overwrite"
        ).option("partitionOverwriteMode", "dynamic").partitionBy(
            "batch_id"
        ).parquet(state_path)

    w = (
        events.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", ckpt)
        .outputMode("update")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def read_sketch_state(spark: SparkSession, out_root: str) -> DataFrame:
    """Canonical sketch state from a :func:`stream_sketch_state` store:
    reads the per-batch partials and merges them to one row per
    (group, window) — every ``sketchstate`` consumer runs on this."""
    from ..operators.sketchstate import coalesce_state

    partials = spark.read.parquet(os.path.join(out_root, "sketch_state"))
    return coalesce_state(partials.drop("batch_id"))
