"""Windowed flow-analytics suite re-expressed over keyed DataFrames.

Reference analogue: the Query stage's per-window analytics
(``Query/QueryLSSFingerFlowApps.java:196-459`` and
``Query/AsyncFlowApps.java``): per-key frequency, distinct count, entropy,
p90-threshold heavy hitters, heavy change between adjacent windows, relative
error statistics, F1 scoring.  Every operator here is a declarative
DataFrame transform — Catalyst gets partial aggregation, AQE sizing and
whole-stage codegen for free (SURVEY §4.1).

All floats are rounded to 6 decimals at the output edge so results are
bit-comparable with an independent ANSI-SQL oracle (the reference's
shadow-map validation pattern, ``LSSFingerprintAtomic.java:317-360``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _r6(c):
    return F.round(c, 6)


def count_per_key(df: DataFrame, key_col: str) -> DataFrame:
    """A1 hash agg (``Pub4PCapStreamKVTable.java:360-374``): per-key count.

    Spark executes this as partial (map-side) + final hash aggregation —
    the engine-native version of the reference's pre-aggregate-then-publish.
    """
    return df.groupBy(F.col(key_col).alias("key")).agg(F.count("*").alias("cnt"))


def sum_per_key(df: DataFrame, key_col: str, val_col: str) -> DataFrame:
    """A2 upsert-sum (``LSSFingerprintAtomic.java:325-360``)."""
    return df.groupBy(F.col(key_col).alias("key")).agg(
        _r6(F.sum(val_col)).alias("total")
    )


def entropy(counts: DataFrame, cnt_col: str = "cnt") -> DataFrame:
    """A6 empirical entropy (``AsyncFlowApps.java:83-103``): −Σ p·ln p over
    the key-frequency distribution (normalized; the reference computes the
    unnormalized Σ −v·ln v then normalizes downstream)."""
    tot = counts.agg(F.sum(cnt_col).alias("tot"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select((F.col(cnt_col) / F.col("tot")).alias("p"))
        .agg(_r6(-F.sum(F.col("p") * F.log(F.col("p")))).alias("entropy"))
    )


def percentile_threshold(
    counts: DataFrame, q: float = 0.9, cnt_col: str = "cnt", exact: bool = True
) -> DataFrame:
    """A7 (``QueryLSSFingerFlowApps.java:312-325``): percentile of the count
    distribution → heavy-hitter threshold.

    ``exact=True`` uses Spark's exact interpolated ``percentile`` — its
    aggregation buffer holds EVERY value, so it is only safe when the input
    is already an aggregate of bounded size (oracle-parity queries at test
    SF).  Scale callers pass ``exact=False`` → ``percentile_approx``
    (SURVEY §2.4 A7), a bounded-memory t-digest-style sketch.
    """
    expr = "percentile" if exact else "percentile_approx"
    return counts.agg(
        _r6(F.expr(f"{expr}({cnt_col}, {q})")).alias("threshold")
    )


def heavy_hitters(
    counts: DataFrame, q: float = 0.9, cnt_col: str = "cnt", exact: bool = True
) -> DataFrame:
    """A9 (``AsyncFlowApps.java:111-129``): keys with count strictly above the
    p-quantile threshold.  The threshold is a 1-row aggregate → broadcast
    (no shuffle of the big side).  ``exact`` as in
    :func:`percentile_threshold` — scale callers pass ``False``."""
    thr = percentile_threshold(counts, q, cnt_col, exact=exact)
    return (
        counts.crossJoin(F.broadcast(thr))
        .filter(F.col(cnt_col) > F.col("threshold"))
        .select("key", F.col(cnt_col).alias("cnt"))
    )


def top_k(counts: DataFrame, k: int, cnt_col: str = "cnt") -> DataFrame:
    """Deterministic top-k by count (ties broken by key).

    ``orderBy().limit(k)`` plans as ``TakeOrderedAndProject`` — a per-
    partition size-k heap merged on the driver, so only ``k`` rows ever
    leave a partition (a global rank window would instead sort EVERY row in
    one task).  The rank window afterwards runs on k rows only.
    """
    topk = counts.orderBy(F.col(cnt_col).desc(), F.col("key").asc()).limit(k)
    w = Window.orderBy(F.col(cnt_col).desc(), F.col("key").asc())
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .select("key", F.col(cnt_col).alias("cnt"), "rank")
    )


def heavy_change(
    window_a: DataFrame,
    window_b: DataFrame,
    threshold: float,
    cnt_col: str = "cnt",
) -> DataFrame:
    """W3/J1 heavy change (``AsyncFlowApps.java:142-207``;
    ``QueryLSSFingerFlowApps.java:277-304``): keys whose count changed by
    more than ``threshold`` between adjacent windows.  Full outer join so
    appearing/disappearing keys count with their whole mass (absent → 0),
    like the reference's set-union semantics over the two windows."""
    a = window_a.select("key", F.col(cnt_col).alias("cnt_a"))
    b = window_b.select("key", F.col(cnt_col).alias("cnt_b"))
    return (
        a.join(b, "key", "full_outer")
        .select(
            "key",
            F.coalesce("cnt_a", F.lit(0)).cast("long").alias("cnt_a"),
            F.coalesce("cnt_b", F.lit(0)).cast("long").alias("cnt_b"),
        )
        .withColumn("delta", F.abs(F.col("cnt_b") - F.col("cnt_a")))
        .filter(F.col("delta") > threshold)
    )


def error_stats(
    joined: DataFrame,
    true_col: str = "true_val",
    est_col: str = "est_val",
    exact: bool = True,
) -> DataFrame:
    """A8 relative-error statistics (``QueryLSSFingerFlowApps.java:333-389``):
    per-key rel. err → mean / stddev / p50 / p90 / p99 / min / max.

    ``exact=False`` swaps the exact ``percentile`` (whole-column buffer) for
    ``percentile_approx`` — the bounded-memory path for scale callers."""
    err = joined.select(
        (F.abs(F.col(est_col) - F.col(true_col)) / F.abs(F.col(true_col))).alias(
            "rel_err"
        )
    )
    pc = "percentile" if exact else "percentile_approx"
    return err.agg(
        _r6(F.mean("rel_err")).alias("mean_err"),
        _r6(F.stddev("rel_err")).alias("std_err"),
        _r6(F.expr(f"{pc}(rel_err, 0.5)")).alias("p50_err"),
        _r6(F.expr(f"{pc}(rel_err, 0.9)")).alias("p90_err"),
        _r6(F.expr(f"{pc}(rel_err, 0.99)")).alias("p99_err"),
        _r6(F.min("rel_err")).alias("min_err"),
        _r6(F.max("rel_err")).alias("max_err"),
    )


def histogram_cdf(
    df: DataFrame, val_col: str, bucket_size: float
) -> DataFrame:
    """A10 histogram + CDF (``util/async/StatCDF_Histogram.java:96-143``):
    fixed-width buckets, counts, and the running cumulative fraction via a
    rank window (``rowsBetween(unboundedPreceding, current)``)."""
    buckets = (
        df.select((F.floor(F.col(val_col) / bucket_size)).cast("long").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
    )
    tot = buckets.agg(F.sum("cnt").alias("tot"))
    # global (unpartitioned) window is safe here: it runs over the BUCKET
    # table, whose size is bounded by value_range / bucket_size — never by
    # the row count — so the single-partition sort is a few thousand rows
    # even at 100 TB input
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        buckets.crossJoin(F.broadcast(tot))
        .withColumn("cum_cnt", F.sum("cnt").over(w))
        .select(
            "bucket",
            "cnt",
            "cum_cnt",
            _r6(F.col("cum_cnt") / F.col("tot")).alias("cdf"),
        )
    )


def f1_score(estimated: DataFrame, truth: DataFrame, key_col: str = "key") -> DataFrame:
    """A14/J2 (``QueryLSSFingerFlowApps.java:447-459``): F1 of the estimated
    key set vs the true key set, via inner-join (intersection) counts.

    Fully declarative — one plan, no eager driver-side ``.count()`` actions:
    the three 1-row count aggregates are broadcast-crossJoined and the
    precision/recall/F1 arithmetic runs as expressions.

    Empty-set convention: an empty estimated (or truth) set yields
    precision (recall) **0.0**, not 1.0 — callers that prefer the
    vacuous-truth convention (reference windows with zero heavy keys) must
    special-case upstream.  This also governs ``sketch_accuracy_report``'s
    detect_* columns and matches its golden oracle."""
    e = estimated.select(F.col(key_col).alias("key")).distinct()
    t = truth.select(F.col(key_col).alias("key")).distinct()
    inter = e.join(t, "key", "inner").agg(F.count("*").alias("n_intersect"))
    ne = e.agg(F.count("*").alias("n_estimated"))
    nt = t.agg(F.count("*").alias("n_truth"))
    prec = F.when(
        F.col("n_estimated") > 0, F.col("n_intersect") / F.col("n_estimated")
    ).otherwise(F.lit(0.0))
    rec = F.when(
        F.col("n_truth") > 0, F.col("n_intersect") / F.col("n_truth")
    ).otherwise(F.lit(0.0))
    # f1 computed from the UNrounded precision/recall (rounding first would
    # shift the 6th decimal vs the oracle)
    f1 = F.when(
        (prec + rec) > 0, 2.0 * prec * rec / (prec + rec)
    ).otherwise(F.lit(0.0))
    return (
        inter.crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(nt))
        .select(
            "n_intersect",
            "n_estimated",
            "n_truth",
            _r6(prec).alias("precision"),
            _r6(rec).alias("recall"),
            _r6(f1).alias("f1"),
        )
    )


def cluster_churn(
    stats_a: DataFrame, stats_b: DataFrame, threshold: int = 0
) -> DataFrame:
    """W3 heavy change at cluster granularity (§2.9 "cluster churn between
    snapshots"): compare two snapshots' cluster-stats tables
    (cluster_id, size) — labels are stable across runs because cluster_id
    is the min member doc_id.  Emits clusters whose size changed by more
    than ``threshold``, tagged new / gone / grown / shrunk."""
    a = stats_a.select(F.col("cluster_id"), F.col("size").alias("size_a"))
    b = stats_b.select(F.col("cluster_id"), F.col("size").alias("size_b"))
    joined = a.join(b, "cluster_id", "full_outer").select(
        "cluster_id",
        F.coalesce("size_a", F.lit(0)).cast("long").alias("size_a"),
        F.coalesce("size_b", F.lit(0)).cast("long").alias("size_b"),
    )
    return (
        joined.withColumn("delta", F.abs(F.col("size_b") - F.col("size_a")))
        .filter(F.col("delta") > threshold)
        .withColumn(
            "status",
            F.when(F.col("size_a") == 0, "new")
            .when(F.col("size_b") == 0, "gone")
            .when(F.col("size_b") > F.col("size_a"), "grown")
            .otherwise("shrunk"),
        )
    )


def minhash_estimate_for_pairs(
    pairs: DataFrame,
    signatures: DataFrame,
    estimator: str = "slots",
    rows_per_band: int | None = None,
) -> DataFrame:
    """Estimated Jaccard per pair from the MinHash sketch — the sketch-query
    path applied to pairs, with the reference's four query strategies
    (``LSSFingerprintAtomic.java``):

    * ``"slots"`` — mean slot agreement over the whole signature: the
      avg-over-matched-cells strategy (``queryV2``, ``:834-885``).
    * ``"bands"`` — band-collision inversion: fraction of fully-agreeing
      bands f, inverted through the S-curve ``Ĵ = f^(1/r)`` — the
      alternative estimator path (``queryV3``, ``:770-827``).  Needs
      ``rows_per_band`` (defaults to the pinned config's).
    * ``"first_band"`` — membership answer from the first matching band:
      1.0 if any band agrees else 0.0 (``queryV0`` first-match,
      ``:893-927``).
    * ``"closest"`` — of the slots and bands estimates, keep the one
      closest to the exact value — the closest-to-truth strategy
      (``:697-767``; reads the shadow map like the reference).  Requires a
      ``jaccard`` column on ``pairs`` (from the verify stage).

    All JVM higher-order array ops; no Python.
    """
    s1 = signatures.select(
        F.col("doc_id").alias("id1"),
        F.col("minhash").alias("m1"),
        F.col("band_keys").alias("b1"),
    )
    s2 = signatures.select(
        F.col("doc_id").alias("id2"),
        F.col("minhash").alias("m2"),
        F.col("band_keys").alias("b2"),
    )
    joined = pairs.join(s1, "id1").join(s2, "id2")
    slot_frac = (
        F.size(F.filter(F.zip_with("m1", "m2", lambda x, y: x == y), lambda b: b))
        / F.size("m1")
    )
    band_frac = (
        F.size(F.filter(F.zip_with("b1", "b2", lambda x, y: x == y), lambda b: b))
        / F.size("b1")
    )
    if estimator == "slots":
        est = slot_frac
    elif estimator == "bands":
        if rows_per_band is None:
            from ..config import SketchConfig

            rows_per_band = SketchConfig().rows
        est = F.pow(band_frac, F.lit(1.0 / rows_per_band))
    elif estimator == "first_band":
        est = F.when(band_frac > 0, F.lit(1.0)).otherwise(F.lit(0.0))
    elif estimator == "closest":
        if rows_per_band is None:
            from ..config import SketchConfig

            rows_per_band = SketchConfig().rows
        band_est = F.pow(band_frac, F.lit(1.0 / rows_per_band))
        est = F.when(
            F.abs(slot_frac - F.col("jaccard")) <= F.abs(band_est - F.col("jaccard")),
            slot_frac,
        ).otherwise(band_est)
    else:
        raise ValueError(
            f"unknown estimator {estimator!r} (slots|bands|first_band|closest)"
        )
    return joined.withColumn("est_jaccard", est).drop("m1", "m2", "b1", "b2")


def sketch_accuracy_report(
    verified: DataFrame,
    signatures: DataFrame,
    threshold: float,
    exact: bool = False,
) -> DataFrame:
    """The reference's per-window accuracy suite
    (``QueryLSSFingerFlowApps.java:333-459``: relative-error distribution of
    sketch estimate vs exact shadow map + threshold-detection F1), grafted:
    MinHash-estimated Jaccard vs exactly-verified Jaccard per candidate
    pair, plus F1 of est≥threshold against exact≥threshold."""
    est = minhash_estimate_for_pairs(
        verified.select("id1", "id2", "jaccard"), signatures
    ).filter(F.col("jaccard") > 0)
    err = est.withColumn(
        "rel_err",
        F.abs(F.col("est_jaccard") - F.col("jaccard")) / F.col("jaccard"),
    )
    pc = "percentile" if exact else "percentile_approx"
    stats = err.agg(
        F.count("*").alias("n_pairs"),
        _r6(F.mean("rel_err")).alias("mean_err"),
        _r6(F.expr(f"{pc}(rel_err, 0.5)")).alias("p50_err"),
        _r6(F.expr(f"{pc}(rel_err, 0.9)")).alias("p90_err"),
        _r6(F.expr(f"{pc}(rel_err, 0.99)")).alias("p99_err"),
        _r6(F.max("rel_err")).alias("max_err"),
    )
    # detection F1 via the declarative f1_score (struct pair key) — the
    # whole report is ONE lazy plan, no eager .count() jobs
    hh_est = est.filter(F.col("est_jaccard") >= threshold).select(
        F.struct("id1", "id2").alias("key")
    )
    hh_true = est.filter(F.col("jaccard") >= threshold).select(
        F.struct("id1", "id2").alias("key")
    )
    detect = f1_score(hh_est, hh_true).select(
        F.col("precision").alias("detect_precision"),
        F.col("recall").alias("detect_recall"),
        F.col("f1").alias("detect_f1"),
    )
    return stats.crossJoin(F.broadcast(detect))
