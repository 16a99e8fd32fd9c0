"""Candidate-pair generation: LSH band-key joins + SimHash Hamming-ball.

Reference analogue: the cluster-membership probe
(``Sketching/LSSFingerprintAtomic.java:505-545`` — probe every cluster's
cuckoo filter; ``:628-636`` — bucket position by seeded hash).  Two keys
agreeing on a band key / simhash segment collide, exactly like two flows
agreeing on the cluster filter + bucket hash.  Unlike the cuckoo filter this
is an exact equi-join — no false positives at the membership step; false
candidates are removed by the verify stage (shadow-map analogue, :525-529).

Skew handling is explicit (north_rule):
  * band buckets wider than ``cfg.band_width_cap`` are DROPPED and logged —
    pair count is quadratic in bucket width, so boilerplate bands must be
    capped, not just salted (the reference accepts the analogous error when
    hot flows share a bucket — SURVEY §4.1 "Skew handling: none");
  * buckets in (hot_threshold, cap] go through a SALTED self-join: the left
    side is salted by doc hash, the right side replicated to every salt, so
    one hot key's quadratic pair production spreads over ``salt_factor``
    shuffle partitions;
  * everything else is a plain equi-self-join; AQE skew-join splitting
    stays on as a backstop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import SketchConfig

HOT_THRESHOLD = 256  # buckets wider than this use the salted path


def pairs_by_key(
    keyed: DataFrame,
    cfg: SketchConfig,
    id_col: str = "doc_id",
    key_col: str = "key",
    hot_threshold: int = HOT_THRESHOLD,
    payload_cols: tuple[str, ...] = (),
    drop_over_cap: bool = True,
    distinct: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """(id, key) → candidate pairs (id1 < id2) + skew metrics.

    Returns (pairs, bucket_metrics) where bucket_metrics has one row per
    key-width class: kept / salted / dropped (or salted_wide) with bucket
    counts and widths.

    * ``payload_cols`` ride along from both sides as ``{col}_1``/``{col}_2``
      (e.g. token positions for the PPJoin positional filter).  With
      payloads, one output row per shared key occurrence — pass
      ``distinct=False`` and aggregate in the caller.
    * ``drop_over_cap=False`` disables the drop tier: over-cap buckets take
      the salted path instead (classed ``salted_wide`` in the metrics).
      REQUIRED by callers whose exactness depends on losslessness (the
      prefix-filter Jaccard join); pair production is inherently quadratic
      in bucket width there — salting only spreads it, so such callers must
      bound widths by construction (prefix tokens are globally rare) or
      accept the cost.
    """
    keyed = keyed.select(
        F.col(id_col).alias("doc_id"),
        F.col(key_col).alias("key"),
        *[F.col(c) for c in payload_cols],
    )

    # widths feeds the special-key broadcast + metrics; the lazy
    # localCheckpoint materializes the exploded-key aggregation once
    widths = (
        keyed.groupBy("key")
        .agg(F.count("*").alias("width"))
        .localCheckpoint(eager=False)
    )

    over_cap_class = "dropped" if drop_over_cap else "salted_wide"
    metrics = widths.select(
        F.when(F.col("width") > cfg.band_width_cap, F.lit(over_cap_class))
        .when(F.col("width") > hot_threshold, F.lit("salted"))
        .otherwise(F.lit("kept"))
        .alias("bucket_class"),
        "width",
    ).groupBy("bucket_class").agg(
        F.count("*").alias("n_buckets"),
        F.sum("width").alias("n_rows"),
        F.max("width").alias("max_width"),
    )

    # ONE broadcast build: the (tiny) set of keys wider than hot_threshold,
    # tagged over_cap.  A left join against it classifies every keyed row in
    # a single pass — null → normal, false → salted, true → dropped or
    # salted, per drop_over_cap.  (A width-attach shuffle join of
    # keyed⋈widths costs ~1.5× this broadcast at 400 k docs — the special
    # set is near-empty in healthy corpora, the widths table never is.)
    special = widths.filter(F.col("width") > hot_threshold).select(
        "key", (F.col("width") > cfg.band_width_cap).alias("over_cap")
    )
    marked = keyed.join(F.broadcast(special), "key", "left")
    normal = marked.filter(F.col("over_cap").isNull()).drop("over_cap")
    if drop_over_cap:
        hot_rows = marked.filter(F.col("over_cap") == F.lit(False)).drop("over_cap")
    else:
        hot_rows = marked.filter(F.col("over_cap").isNotNull()).drop("over_cap")

    def _sel(side: str, n: int):
        return [F.col(f"{side}.doc_id").alias(f"id{n}")] + [
            F.col(f"{side}.{c}").alias(f"{c}_{n}") for c in payload_cols
        ]

    a = normal.alias("a")
    b = normal.alias("b")
    pairs_normal = (
        a.join(b, F.col("a.key") == F.col("b.key"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(*_sel("a", 1), *_sel("b", 2))
    )

    # salted self-join for hot keys: left gets one salt, right is replicated
    # to all salts — every unordered pair produced exactly once.
    s = cfg.salt_factor
    hl = hot_rows.withColumn(
        "salt", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(s)).cast("int")
    ).alias("hl")
    hr = hot_rows.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(s - 1)))
    ).alias("hr")
    pairs_hot = (
        hl.join(
            hr,
            (F.col("hl.key") == F.col("hr.key"))
            & (F.col("hl.salt") == F.col("hr.salt")),
        )
        .filter(F.col("hl.doc_id") < F.col("hr.doc_id"))
        .select(*_sel("hl", 1), *_sel("hr", 2))
    )

    pairs = pairs_normal.unionByName(pairs_hot)
    if distinct:
        pairs = pairs.distinct()
    return pairs, metrics


def probe_index_pairs(
    probe: DataFrame,
    index: DataFrame,
    cfg: SketchConfig,
    id_col: str = "doc_id",
    key_col: str = "key",
    hot_threshold: int = HOT_THRESHOLD,
    payload_cols: tuple[str, ...] = (),
    distinct: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Asymmetric membership probe: every (probe_id, index_id) pair sharing
    ≥1 key, ``probe_id != index_id`` — the directional analogue of
    :func:`pairs_by_key` for joins where only ONE side may prune its keys
    (containment prefix filter: the contained side probes its rare-token
    prefix, the container side must index every token).

    Skew is classified by INDEX-side bucket width — that is the side whose
    hot keys (stopword-grade tokens) explode pair production.  Hot index
    buckets are split ``cfg.salt_factor`` ways by index-doc hash and the
    probe rows are replicated to every salt, so each (probe row, hot key)
    still meets every index row exactly once.  LOSSLESS by construction
    (no drop tier): callers bound probe fan-out by construction instead
    (a prefix filter keeps probe keys few and globally rare).

    Returns (pairs, metrics); payload columns ride along as ``{col}_p`` /
    ``{col}_i``.  With ``distinct=True`` (default) pairs are distinct
    (probe_id, index_id, payloads) rows — a full extra shuffle of the
    candidate set.  Callers whose downstream step is itself a per-pair
    aggregation (e.g. the containment count filter) pass
    ``distinct=False``: duplicates are impossible when (id, key) rows are
    unique on both sides (normal and hot tiers partition the key space,
    and within the hot tier each index row lands in exactly one salt), so
    the dedup pass would only re-shuffle the widest intermediate for
    nothing.
    """
    probe = probe.select(
        F.col(id_col).alias("probe_id"),
        F.col(key_col).alias("key"),
        *[F.col(c) for c in payload_cols],
    )
    index = index.select(
        F.col(id_col).alias("index_id"),
        F.col(key_col).alias("key"),
        *[F.col(c) for c in payload_cols],
    )

    widths = (
        index.groupBy("key")
        .agg(F.count("*").alias("width"))
        .localCheckpoint(eager=False)
    )
    metrics = widths.select(
        F.when(F.col("width") > hot_threshold, F.lit("salted"))
        .otherwise(F.lit("kept"))
        .alias("bucket_class"),
        "width",
    ).groupBy("bucket_class").agg(
        F.count("*").alias("n_buckets"),
        F.sum("width").alias("n_rows"),
        F.max("width").alias("max_width"),
    )

    special = widths.filter(F.col("width") > hot_threshold).select(
        "key", F.lit(True).alias("hot")
    )
    marked_p = probe.join(F.broadcast(special), "key", "left")
    marked_i = index.join(F.broadcast(special), "key", "left")

    def _sel(side: str, alias: str, suffix: str):
        return [F.col(f"{side}.{alias}")] + [
            F.col(f"{side}.{c}").alias(f"{c}_{suffix}") for c in payload_cols
        ]

    p = marked_p.filter(F.col("hot").isNull()).drop("hot").alias("p")
    i = marked_i.filter(F.col("hot").isNull()).drop("hot").alias("i")
    pairs_normal = (
        p.join(i, F.col("p.key") == F.col("i.key"))
        .filter(F.col("p.probe_id") != F.col("i.index_id"))
        .select(*_sel("p", "probe_id", "p"), *_sel("i", "index_id", "i"))
    )

    s = cfg.salt_factor
    hp = (
        marked_p.filter(F.col("hot").isNotNull())
        .drop("hot")
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(s - 1))))
        .alias("hp")
    )
    hi = (
        marked_i.filter(F.col("hot").isNotNull())
        .drop("hot")
        .withColumn(
            "salt", F.pmod(F.xxhash64(F.col("index_id")), F.lit(s)).cast("int")
        )
        .alias("hi")
    )
    pairs_hot = (
        hp.join(
            hi,
            (F.col("hp.key") == F.col("hi.key"))
            & (F.col("hp.salt") == F.col("hi.salt")),
        )
        .filter(F.col("hp.probe_id") != F.col("hi.index_id"))
        .select(*_sel("hp", "probe_id", "p"), *_sel("hi", "index_id", "i"))
    )

    pairs = pairs_normal.unionByName(pairs_hot)
    if distinct:
        pairs = pairs.distinct()
    return pairs, metrics


def band_candidates(
    signatures: DataFrame, cfg: SketchConfig
) -> tuple[DataFrame, DataFrame]:
    """MinHash-LSH candidates: docs sharing ≥1 band key (id1 < id2)."""
    return pairs_by_key(band_key_rows(signatures), cfg)


def band_key_rows(signatures: DataFrame) -> DataFrame:
    """(doc_id, key), one row per band key of every non-empty doc — empty
    docs share the sentinel signature and would form one giant band."""
    return signatures.filter(F.col("n_shingles") > 0).select(
        "doc_id", F.explode("band_keys").alias("key")
    )


def simhash_segment_keys(signatures: DataFrame, cfg: SketchConfig) -> DataFrame:
    """(doc_id, key) for Hamming-ball multi-probe — all JVM-side bit ops.

    Pigeonhole over radius+1 contiguous segments of the 64-bit fingerprint:
    two fps within Hamming distance ≤ radius agree on ≥1 whole segment.
    Key = xxhash64(segment_index, segment_value) so segment spaces differ.
    """
    nseg = cfg.hamming_radius + 1
    seg_len = 64 // nseg
    cols = []
    for i in range(nseg):
        lo = i * seg_len
        length = seg_len if i < nseg - 1 else 64 - lo
        mask = (1 << length) - 1
        seg = F.shiftrightunsigned(F.col("simhash"), lo).bitwiseAND(F.lit(mask))
        cols.append(F.xxhash64(F.lit(i), seg))
    return signatures.filter(F.col("n_tokens") > 0).select(
        "doc_id", F.explode(F.array(*cols)).alias("key")
    )


def simhash_candidates(
    signatures: DataFrame, cfg: SketchConfig
) -> tuple[DataFrame, DataFrame]:
    """SimHash candidates: segment-key join, then exact Hamming ≤ radius
    re-check (JVM-side ``bit_count(x XOR y)``) — zero Python in this path."""
    keyed = simhash_segment_keys(signatures, cfg)
    pairs, metrics = pairs_by_key(keyed, cfg)
    fps = signatures.select("doc_id", "simhash")
    out = (
        pairs.join(fps.withColumnRenamed("doc_id", "id1").withColumnRenamed("simhash", "sh1"), "id1")
        .join(fps.withColumnRenamed("doc_id", "id2").withColumnRenamed("simhash", "sh2"), "id2")
        .withColumn(
            "hamming",
            F.bit_count(F.col("sh1").bitwiseXOR(F.col("sh2"))).cast("int"),
        )
        .filter(F.col("hamming") <= cfg.hamming_radius)
        .select("id1", "id2", "hamming")
    )
    return out, metrics
