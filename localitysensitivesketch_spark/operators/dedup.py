"""Deduplication front door: every dedup flavor as one operator each.

The engine's reason to exist (BASELINE.json north_rule).  Tiers in
increasing cost — a 100 TB pipeline runs them in this order so each tier
shrinks the input of the next:

0. **recrawl** — newest capture per url (:func:`latest_capture`): one
   ``max_by`` hash aggregate, no content comparison at all.
1. **exact** — fingerprint groupBy (``LSSFingerprintAtomic.java:382-414``
   fingerprint-compression analogue): one shuffle on a 16-byte key.
2. **n-gram Jaccard within blocks** — token-set overlap on a cheap blocking
   key; JVM-side array ops, SQL-expressible (oracle-checkable).
3. **MinHash + LSH banding** — the signature pipeline (signatures →
   salted band join → exact verify), sub-quadratic at corpus scale.
4. **SimHash Hamming-ball** — bit-vector near-fingerprint candidates.

Tiers 3-4 reuse the staged operators (signatures/candidates/verify/cluster).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import SketchConfig
from ..session import auto_prefilter_enabled, ensure_min_partitions
from .candidates import band_candidates, pairs_by_key, simhash_candidates
from .cluster import connected_components
from .signatures import compute_signatures
from .verify import duplicate_edges, verify_pairs


def _ceil_safe(x) -> F.Column:
    """``ceil`` of a float product that must NEVER overestimate an integral
    true value: float ``t*n`` can land just above the true integer
    (``0.07*100 == 7.000000000000001``), and a one-too-big ceiling turns a
    lossless prefix/size bound into silent pair loss.  Rounding to 6
    decimals first snaps such artifacts back; for thresholds with more
    than 6 decimals it can only round DOWN, which loosens the bound —
    extra candidates, never lost pairs."""
    return F.ceil(F.round(x, 6))


def exact_dup_groups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    key_prefix_len: int = 32,
) -> DataFrame:
    """Exact dedup via content-hash groupBy: one row per duplicated text
    (group size ≥ 2) with the canonical (min) doc id.  At 100 TB this is a
    single hash-partitioned aggregation on md5 — no pairwise work at all.

    ``key_prefix_len < 32`` truncates the md5 key — coarser bucketing that
    exercises the identical aggregate path non-vacuously on corpora with
    no exact duplicates (contract-query use; production keeps 32)."""
    key = F.md5(F.col(text_col))
    if key_prefix_len < 32:
        key = F.substring(key, 1, key_prefix_len)
    return (
        df.select(F.col(id_col).alias("doc_id"), key.alias("text_md5"))
        .groupBy("text_md5")
        .agg(
            F.count("*").alias("group_size"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .filter(F.col("group_size") >= 2)
    )


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ids_only: bool = False,
) -> DataFrame:
    """Keep exactly one doc (min id) per distinct text — the classic
    training-data exact-dedup pass.  Aggregate-then-semi-join: the wide doc
    payload is never shuffled, only (id, md5).

    ``ids_only=True`` returns just the single-column keep-list
    ``(doc_id)`` without the semi-join back to the wide rows — the shape
    a checkpointing funnel commits (a keep-list is ~16 bytes/doc where
    the wide row is the whole page)."""
    keep = (
        df.select(F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    if ids_only:
        return keep
    return df.join(keep, on=df[id_col] == keep["doc_id"], how="left_semi")


def latest_capture(
    df: DataFrame,
    key_col: str = "url",
    ts_col: str = "warc_ts",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Recrawl dedup: keep the newest capture per ``key_col`` (tier 0 of
    the ladder for Common-Crawl-style corpora, where the same url recurs
    across crawl snapshots — run before any content tier so text dedup
    never wastes work comparing a page to its own earlier capture).

    One hash-partitioned ``max_by`` aggregation on the key: the whole row
    rides inside the aggregation buffer, so there is exactly one shuffle
    (on ``key_col``) and NO sort-based window — at 100 TB a
    row_number-over-window would sort every partition; max_by is a
    streaming partial aggregate with map-side combine.

    Ties on ``ts_col`` break deterministically by ``tiebreak_col``
    (greatest wins; default: lexicographically greatest remaining-column
    struct) so output is stable at any parallelism.
    """
    others = [c for c in df.columns if c != key_col]
    if tiebreak_col is None:
        ord_cols = [ts_col] + [c for c in others if c != ts_col]
    else:
        ord_cols = [ts_col, tiebreak_col] + [
            c for c in others if c not in (ts_col, tiebreak_col)
        ]
    picked = df.groupBy(key_col).agg(
        F.max_by(F.struct(*others), F.struct(*ord_cols)).alias("r")
    )
    return picked.select(key_col, *[F.col(f"r.{c}").alias(c) for c in others])


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    block_cols: tuple[str, ...] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    cfg: SketchConfig | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """Token-set (1-gram) Jaccard pairs, exact (recall 1.0) under either
    physical strategy -- chosen from data statistics like an AQE rule:

    * ``"prefix"`` -- exact prefix-filter set-similarity join (AllPairs,
      Bayardo/Ma/Srikant WWW'07) with the PPJoin positional filter
      (Xiao/Wang/Lin/Yu WWW'08): order tokens by global document
      frequency (rarest first); each doc exposes only its prefix of
      length ``|A| - ceil(t*|A|) + 1``.  Prefix-filter lemma: J(A,B) >= t
      implies the two prefixes share a token, so the join on prefix
      tokens loses nothing while fanning out on rare tokens.  Hot prefix
      tokens ride the salted ``pairs_by_key`` machinery with the drop
      tier DISABLED (``drop_over_cap=False``) -- no bucket is ever
      dropped, so the exactness claim holds unconditionally (over-cap
      buckets are logged as ``salted_wide`` in the skew metrics).  The
      scale path for real text.
    * ``"block"`` -- ratio-pruned quadratic join within ``block_cols``
      groups.  Degenerate small-vocabulary corpora (token df comparable
      to corpus size) make every prefix token a hot bucket; there the
      bounded block join is cheaper.
    * ``"auto"`` -- sample up to 2,000 docs and measure mean token
      document-frequency as a fraction of docs; below 5% tokens
      discriminate -> prefix, else block.  Scale callers should pass the
      strategy explicitly to skip the sampling jobs.

    Both strategies produce the identical exact pair set; only the plan
    differs.  ``block_cols`` restricts pairs to equal block values under
    either strategy (the prefix key becomes (block, token)).
    """
    cfg = cfg or SketchConfig()
    t = float(threshold)
    blk = (
        F.concat_ws("\x1f", *[F.col(c) for c in block_cols])
        if block_cols
        else F.lit("")
    )
    base = df.select(
        F.col(id_col).alias("doc_id"),
        blk.alias("blk"),
        F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias(
            "toks"
        ),
    ).withColumn("n", F.size("toks"))

    if strategy == "auto":
        # deterministic hash-membership sample (~1/16 of docs): independent
        # of partition layout and row order, so the chosen plan is stable
        # run-to-run on a real cluster (a bare .limit() is not)
        sample = base.filter(
            F.pmod(F.xxhash64(F.col("doc_id")), F.lit(16)) == 0
        ).select("doc_id", F.explode("toks").alias("tok"))
        row = sample.agg(
            F.count("*").alias("rows"),
            F.countDistinct("tok").alias("vocab"),
            F.countDistinct("doc_id").alias("docs"),
        ).collect()[0]
        dense = (
            row["docs"] == 0  # degenerate tiny corpus → bounded block join
            or row["vocab"] == 0
            or (row["rows"] / row["vocab"]) / row["docs"] > 0.05
        )
        strategy = "block" if dense else "prefix"

    # the downstream work is per-row quadratic (block strategy: the
    # in-block intersect join probes ride the stream side's partitions)
    # or a fan-out explode (prefix) — a narrow small-file scan must not
    # serialize it on one core; no-op whenever the scan is already wide.
    # Widened only after the sample above: the sample's aggregate is
    # cheap on one core, and an action over the widened plan would run
    # its round-robin shuffle once more than the pair job needs.
    base = ensure_min_partitions(base)

    if strategy == "prefix":
        tok = base.select("doc_id", "blk", "n", F.explode("toks").alias("tok"))
        # global token document-frequency; the ordering only shapes
        # performance (rarest-first minimizes bucket widths), never
        # correctness
        tok_df = tok.groupBy("tok").agg(F.count("*").alias("tok_df"))
        w = Window.partitionBy("doc_id").orderBy(
            F.col("tok_df").asc(), F.col("tok").asc()
        )
        # _ceil_safe: ceil over the 6-decimal-rounded product.  Bare
        # ceil(t*n) overestimates whenever the float product lands just
        # above the true integer (e.g. 0.07*100 = 7.000000000000001 →
        # ceil 8), which would SHORTEN the prefix and silently lose
        # boundary pairs; rounding first can only under-estimate for
        # thresholds with >6 decimals, which merely adds candidates the
        # exact verify filters out.
        prefix = (
            tok.join(tok_df, "tok")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= F.col("n") - _ceil_safe(F.lit(t) * F.col("n")) + 1)
        )
        keyed = prefix.select(
            "doc_id",
            F.xxhash64(F.col("blk"), F.col("tok")).alias("key"),
            F.col("rn").alias("pos"),
            "n",
        )
        rows, _ = pairs_by_key(
            keyed, cfg, payload_cols=("pos", "n"),
            drop_over_cap=False, distinct=False,
        )
        # PPJoin positional filter at the globally-least shared prefix
        # token w (positions i in doc1, j in doc2, both 1-indexed in the
        # df-ordered token lists): any other shared token is > w, hence
        # after position i in doc1 AND after j in doc2, so
        # overlap <= 1 + min(n1-i, n2-j); J >= t forces
        # overlap >= t/(1+t)·(n1+n2).  Pairs provably below threshold
        # never reach the token-array join.  (With i=j=1 this reduces to
        # the size-ratio prune min(n1,n2) >= t·max(n1,n2), so no separate
        # ratio prune is needed here.)
        cand = (
            rows.groupBy("id1", "id2")
            .agg(
                F.min("pos_1").alias("i"),
                F.min_by("pos_2", "pos_1").alias("j"),
                F.min("n_1").alias("n1"),
                F.min("n_2").alias("n2"),
            )
            .filter(
                (1 + F.least(F.col("n1") - F.col("i"), F.col("n2") - F.col("j")))
                >= F.lit(t / (1.0 + t)) * (F.col("n1") + F.col("n2")) - F.lit(1e-6)
            )
            .select("id1", "id2")
        )
        a = base.select(F.col("doc_id").alias("id1"), F.col("toks").alias("t1"))
        b = base.select(F.col("doc_id").alias("id2"), F.col("toks").alias("t2"))
        joined = cand.join(a, "id1").join(b, "id2")
    elif strategy == "block":
        a = base.select(
            F.col("doc_id").alias("id1"), F.col("toks").alias("t1"),
            F.col("n").alias("n1"), "blk",
        )
        b = base.select(
            F.col("doc_id").alias("id2"), F.col("toks").alias("t2"),
            F.col("n").alias("n2"), "blk",
        )
        # size-ratio prune in the join condition: J <= min/max of distinct
        # set sizes, so pairs that cannot reach the threshold never run the
        # expensive array_intersect.  n1 >= t*n2 compares an integer to a
        # float product, so the same overestimate artifact _ceil_safe
        # guards against applies: n1 >= ceil_safe(t*n2) is the exact
        # integer form of the bound.
        joined = a.join(b, "blk").where(
            (F.col("id1") < F.col("id2"))
            & (F.col("n1") >= _ceil_safe(F.col("n2") * t))
            & (F.col("n2") >= _ceil_safe(F.col("n1") * t))
        )
    else:
        raise ValueError(f"unknown strategy {strategy!r} (auto|prefix|block)")

    return (
        joined.select(
            "id1",
            "id2",
            F.round(
                F.size(F.array_intersect("t1", "t2"))
                / F.size(F.array_union("t1", "t2")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# Broadcast the (key, df) vocabulary table into the rank join only while a
# hashed-relation build of it stays comfortably inside executor memory
# (~16 B/row × build overhead).  Above this the vocabulary rides the normal
# shuffle join — at web scale (10^9+ distinct tokens) broadcast is
# impossible and the shuffle join is the correct plan.
VOCAB_BROADCAST_MAX_ROWS = 2_000_000

# containment_pairs(materialize="auto") shares the tokenized corpus via one
# localCheckpoint when it fits comfortably in cluster memory: estimated
# input bytes × this factor (UnsafeRow token arrays + checkpoint block
# overhead run ~1.5-2× the raw text; 3 leaves headroom for the rest of the
# query) must fit in the executors' unified memory
# (session.cluster_storage_bytes).  Measured at 800 k docs (3.7 GB input,
# 48 g single JVM): "base" 105 s vs "none" 251 s at local[32], outputs
# identical — while on a 1000-executor cluster reading 100 TB the same
# rule compares 100 TB × 3 against ~10 TB of memory and correctly takes
# the recompute path.  Both modes are lossless, so the rule only affects
# speed, never results.
MATERIALIZE_MEM_FACTOR = 3


# plan nodes whose output can differ between re-executions of the same
# frame: without a pinned snapshot, containment_pairs' consumers (df agg,
# inverted index, both verify sides) could each see a DIFFERENT doc set
_UNSTABLE_PLAN_TOKENS = (
    "Sample ", "GlobalLimit", "LocalLimit", "rand(", "randn(", "uuid()",
    "shuffle(", "monotonically_increasing_id",
)


def _plan_reexecution_stable(df: DataFrame) -> bool | None:
    """True/False when the analyzed plan can be inspected for
    re-execution-unstable nodes; ``None`` when it cannot (non-classic
    backend) — the caller then keeps its chosen mode and the documented
    determinism requirement applies."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:  # noqa: BLE001
        return None
    return not any(t in plan for t in _UNSTABLE_PLAN_TOKENS)


def choose_materialize(df: DataFrame) -> str:
    """The ``materialize="auto"`` decision for :func:`containment_pairs`,
    exposed so pipelines can make it from their ROOT scan: a mid-pipeline
    frame (store reconstruction joins, semi-joined survivor views) reports
    join-product or unknown-sentinel stats, which would push auto onto the
    recompute path even when the corpus comfortably fits memory.  Both
    answers are lossless — this only picks the faster plan."""
    from ..session import cluster_storage_bytes, estimated_plan_bytes

    est = estimated_plan_bytes(df)
    mem = cluster_storage_bytes(df.sparkSession)
    return (
        "base"
        if est is not None
        and mem is not None
        and est * MATERIALIZE_MEM_FACTOR <= mem
        else "none"
    )


def containment_pairs(
    df: DataFrame,
    threshold: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    cfg: SketchConfig | None = None,
    probe_k: int = 3,
    materialize: str = "auto",
) -> DataFrame:
    """Directional token-set containment: every ordered pair with
    ``|T(a) ∩ T(b)| / |T(a)| ≥ t``, emitted as
    ``(id_contained, id_container, containment)`` — the quote / boilerplate
    / subset detector a training-data pipeline runs where symmetric Jaccard
    is blind (a 50-token quote inside a 5,000-token page has Jaccard ≈ 0.01
    but containment 1.0).

    EXACT at any threshold.  Prefix-filter lemma for containment: order
    each doc's tokens by global document frequency (rarest first); if
    ``C(a→b) ≥ t`` then at most ``m = |a| − ceil(t·|a|)`` of a's tokens
    miss T(b).  Only the contained side can prune — the container side
    indexes ALL its tokens — so candidates come from the asymmetric
    :func:`~..operators.candidates.probe_index_pairs` join (prefix tokens
    probe the full inverted index; hot index buckets salted, nothing
    dropped).

    **k-probe count filter** (``probe_k``, lossless by pigeonhole): each
    doc probes its ``min(m + k, |a|)`` rarest tokens and a candidate pair
    must match at least ``probes_emitted − m`` of them (a true pair
    misses at most m probes).  With the classic single-intersect prefix
    (k = 1) every doc whose rarest token is still common drags
    ``df(token)`` candidate pairs into the exact verify — on a
    uniform-vocabulary corpus that is ~df(rarest) ≈ hundreds of pairs
    PER DOC, and the verify join then shuffles two full token arrays per
    pair (measured: the 800 k-doc funnel bench filled 91 GB of tmpfs
    shuffle and took the kernel OOM killer down on exactly this).  Each
    extra probe multiplies the false-candidate rate by roughly
    P(one specific token ∈ T(b)) ≪ 1 while adding only one narrow
    (id, key, n) row per doc, so the count filter turns the verify input
    from ~Σ df(rarest) pairs into nearly the true pair set.  The count
    aggregation itself shuffles only 16-byte pair rows.  A size prune
    (``|b| ≥ ceil(t·|a|)``) runs BEFORE the count aggregation.

    Shuffle shape (round-4 tuning, measured at 200 k docs / 74.7 M token
    rows): tokens are hashed to 8-byte keys AT THE EXPLODE, so no token
    string ever enters a shuffle (hash collisions only merge df counts —
    rank perturbation — or add false candidates; the exact verify removes
    both, and a true pair's probe can never stop matching under hashing,
    so the pigeonhole bound is preserved).  The document-frequency rank
    join broadcasts the vocabulary when it is small enough
    (``VOCAB_BROADCAST_MAX_ROWS``), the inverted index is pre-filtered
    map-side by a Bloom filter built over the distinct probe keys (on
    inputs at or above the ``session.auto_prefilter_enabled`` floor; the
    filter-before-shuffle pattern of
    ``Pub4PCapStreamKVTable.java:360-374``) so only index rows that can
    meet a probe enter the join shuffle, and the per-pair hit counter is
    a plain ``count(*)`` — (doc, key) rows are unique per side up to
    hash collisions, and any inflation only ADDS candidates — so the
    two-phase distinct aggregation and the pk payload columns drop out
    of the widest intermediate.  Together: 171 s → 36 s at
    200 k docs / local[32], identical output pairs.

    Round-5 scaling rework (the 800 k-doc step profile showed the tier's
    8→32-thread flattening came from shuffle/serialization volume, not
    compute): (1) ``materialize`` decides whether the tokenized corpus is
    shared via one ``localCheckpoint`` (``"base"`` — one tokenize pass,
    but the serialization barrier is memory-bandwidth-bound and is
    exactly what flattened this tier 8→32 threads at 800 k docs) or
    re-derived map-side by every consumer (``"none"`` — tokenize/explode
    is a pure whole-stage-codegen map over a column-pruned scan, so the
    extra passes scale linearly with cores); ``"auto"`` materializes
    when ``MATERIALIZE_MEM_FACTOR ×`` the estimated input fits in the
    cluster's unified executor memory and recomputes otherwise (unknown
    size or memory ⇒ recompute: the scale-safe default), upgrading to
    the pinned snapshot when the input's plan is positively detected as
    re-execution-unstable (limit/sample/rand).  An explicit ``"none"``
    requires ``df`` to yield the same rows on re-execution — every
    consumer re-derives the corpus from it.
    (2) the per-doc rarest-prefix aggregation map-side-drops every token
    above a document-frequency cutoff chosen from a ≤64-row vocabulary
    histogram, with an exact per-doc fallback — lossless, same probe
    sets, ~8× less aggregation shuffle at t = 1; (3) the t < 1 rank
    window (global sort of the token stream) is gone — both paths use
    the same hash-aggregate + per-doc local sort with a per-doc slice
    length.

    Unlike Jaccard, containment is not symmetric: both directions of a
    pair are tested and emitted independently when both pass.
    """
    cfg = cfg or SketchConfig()
    t = float(threshold)
    if not 0.0 < t <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {t}")
    k = int(probe_k)
    if k < 1:
        raise ValueError(f"probe_k must be ≥ 1, got {probe_k}")
    if materialize not in ("auto", "base", "none"):
        raise ValueError(
            f"materialize must be 'auto', 'base' or 'none', got {materialize!r}"
        )
    if materialize == "auto":
        materialize = choose_materialize(df)
        # "none" re-derives the corpus in every consumer, which is only
        # sound when re-executing df yields the same rows; a positively
        # detected unstable plan (limit/sample/rand/...) gets the pinned
        # snapshot instead.  An EXPLICIT materialize="none" is honored —
        # its determinism requirement is documented above.
        if materialize == "none" and _plan_reexecution_stable(df) is False:
            materialize = "base"
    base = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.array_distinct(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("toks"),
        )
        .withColumn("n", F.size("toks"))
        .filter((F.col("n") > 0) & ~((F.col("n") == 1) & (F.element_at("toks", 1) == "")))
    )
    # every consumer's tokenize/explode/xxhash64 pass (and the pinned
    # snapshot under materialize="base") inherits this frame's layout — a
    # narrow small-file scan must not serialize them on one core; no-op
    # whenever the scan is already wide
    base = ensure_min_partitions(base)
    if materialize == "base":
        # one tokenize pass shared by every consumer (vocab agg, rank
        # join, inverted index, both exact-verify sides) — fastest while
        # the tokenized corpus fits comfortably in executor memory
        base = base.localCheckpoint(eager=False)
    # else: nothing corpus-sized is checkpointed — materializing either
    # the array<string> corpus (169 s of serialization at 800 k docs /
    # local[32], r5 step profile) or the hashed token stream (~32 s at
    # 200 k) costs more than recomputing them at scale, and the
    # serialization barrier is memory-bandwidth-bound: it is exactly what
    # flattened this tier 8→32 threads.  tokenize/explode/xxhash64 is a
    # pure whole-stage-codegen map over a column-pruned scan, so each
    # consumer re-derives it map-side and the extra passes scale
    # linearly with cores.
    tok = base.select(
        "doc_id", "n", F.explode("toks").alias("tok")
    ).select("doc_id", "n", F.xxhash64("tok").alias("key"))
    tok_df = tok.groupBy("key").agg(F.count("*").alias("tok_df"))
    # three consumers (broadcast-guard count + cutoff histogram + rank join)
    tok_df = tok_df.localCheckpoint(eager=False)
    n_vocab = tok_df.count()
    ranked = tok.join(
        F.broadcast(tok_df) if n_vocab <= VOCAB_BROADCAST_MAX_ROWS else tok_df,
        "key",
    )
    # probes emitted per doc: L = min(m + k, n), rarest-first; a true
    # pair must match ≥ L − m of them (m = miss budget = n − ceil(t·n)).
    # slice(array_sort(collect_list(struct(tok_df, key)))) picks the
    # exact rows a per-doc rank window would keep (same (tok_df asc,
    # key asc) order) but as ONE hash aggregation + per-doc local sort —
    # no global sort of the corpus-sized (doc, token) table.
    _m = F.col("n") - _ceil_safe(F.lit(t) * F.col("n"))
    _L = F.least(_m + F.lit(k), F.col("n"))

    def _topk(stream: DataFrame) -> DataFrame:
        # the slice length is per-doc (needs n), so it applies AFTER the
        # aggregate — same shuffle volume as slicing inside the agg would
        # have (partial collect_list always ships the full partial lists)
        return (
            stream.groupBy("doc_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("tok_df", "key"))
                ).alias("ms"),
                F.first("n").alias("n"),
            )
            .select("doc_id", F.explode(F.slice("ms", 1, _L)).alias("m"), "n")
            .select("doc_id", F.col("m.key").alias("key"), "n")
        )

    # df-cutoff pre-prune (LOSSLESS): only globally-rare tokens can be in
    # a doc's L-smallest-(df, key) prefix when the doc has ≥ L tokens
    # under the cutoff — every token above the cutoff sorts after every
    # token below it, so the L smallest under-cutoff rows ARE the L
    # smallest rows.  collect_list drops the nulls the `when` produces
    # MAP-SIDE, so the per-doc aggregation shuffles only under-cutoff
    # structs (~ρ of the stream) instead of the whole token stream; docs
    # whose prefix cannot be satisfied under the cutoff (all-common-token
    # template pages) fall back to an exact top-L over just their rows.
    # The cutoff comes from a ≤64-row log₂(df) histogram of the vocabulary
    # (bounded driver materialization): smallest power-of-two cutoff whose
    # cumulative occurrence count covers ρ = 4·(1−t) + 0.08 of the stream
    # (the 0.08 floor covers L = k at t = 1 with ~16× per-doc margin).
    # Prune disabled when ρ or the bucket overshoot would keep >40% of
    # rows — at low thresholds the prefix is most of the doc anyway and
    # the two-pass plan would cost more than it saves.
    rho = 4.0 * (1.0 - t) + 0.08
    cutoff = None
    if rho <= 0.33:
        hist = (
            tok_df.groupBy(
                F.ceil(F.log2(F.col("tok_df"))).cast("int").alias("b")
            )
            .agg(F.sum("tok_df").alias("rows"))
            .collect()
        )
        buckets = sorted((r["b"], r["rows"]) for r in hist)
        total = sum(rows for _, rows in buckets)
        cum = 0
        for b, rows in buckets:
            cum += rows
            if cum >= rho * total:
                if cum <= 0.4 * total and b < buckets[-1][0]:
                    cutoff = 2 ** b
                break
    if cutoff is not None:
        agg_u = ranked.groupBy("doc_id").agg(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("tok_df") <= F.lit(cutoff),
                        F.struct("tok_df", "key"),
                    )
                )
            ).alias("ms"),
            F.first("n").alias("n"),
        )
        # two consumers (main slice + fallback id set)
        agg_u = agg_u.localCheckpoint(eager=False)
        sat = F.size("ms") >= _L
        prefix_main = (
            agg_u.filter(sat)
            .select("doc_id", F.explode(F.slice("ms", 1, _L)).alias("m"), "n")
            .select("doc_id", F.col("m.key").alias("key"), "n")
        )
        bad_ids = agg_u.filter(~sat).select("doc_id")
        # semi-join FIRST so only the (few) fallback docs' rows probe the
        # vocabulary hash map — the full-stream vocab join is the most
        # expensive map work in this operator.  bad_ids is normally tiny,
        # but a template-heavy corpus (many docs holding ONLY over-cutoff
        # common tokens) can make it corpus-scale — guard the broadcast
        # like the vocab one and fall back to a shuffle semi-join (the
        # count is one cheap job over the checkpointed aggregation)
        if bad_ids.count() <= VOCAB_BROADCAST_MAX_ROWS:
            bad_ids = F.broadcast(bad_ids)
        fb_rows = tok.join(bad_ids, "doc_id", "left_semi")
        prefix_fb = _topk(
            fb_rows.join(
                F.broadcast(tok_df)
                if n_vocab <= VOCAB_BROADCAST_MAX_ROWS
                else tok_df,
                "key",
            )
        )
        prefix = prefix_main.unionByName(prefix_fb)
    else:
        prefix = _topk(ranked)
    from ..functions.bloom import bloom_build, bloom_supported, might_contain
    from .candidates import probe_index_pairs

    # two consumers (bloom build + the probe join) of the expensive
    # rank-and-prefix aggregation
    prefix = prefix.localCheckpoint(eager=False)
    index = tok
    # the bloom index prefilter only past a corpus-size floor — its
    # fixed stages (probe count + filter build) cost more than they save
    # on tiny inputs; unknown size ⇒ assume large so the scale path stays
    # on by default
    if auto_prefilter_enabled(df) and bloom_supported(df.sparkSession):
        # the inverted index only matters where a probe key can meet it:
        # bloom-filter the corpus-sized token stream MAP-SIDE before the
        # join shuffle (FPs harmless — the equi-join stays exact)
        n_probe = prefix.count()
        bloom_bytes = (
            bloom_build(prefix.select("key"), "key",
                        expected_items=max(n_probe, 1))
            if n_probe
            else None
        )
        if bloom_bytes is not None:
            pred = might_contain(tok, "key", bloom_bytes)
            if pred is not None:
                index = tok.filter(pred)
    # distinct=False: (doc, key) rows are unique per side up to hash
    # collisions (array_distinct upstream), so the pair stream carries
    # no duplicates the count aggregation below wouldn't absorb —
    # skipping the dedup pass removes a full shuffle of the widest
    # intermediate in this operator
    cand, _ = probe_index_pairs(
        prefix.select("doc_id", "key", "n"),
        index,
        cfg,
        payload_cols=("n",),
        distinct=False,
    )
    # size prune FIRST (narrow rows), then the k-probe count filter: keep
    # pairs matching ≥ L_p − m_p probes — only these ship token arrays
    # into the exact verify.  count(*) ≥ the distinct-probe count and a
    # true pair still always reaches req (misses only shrink under
    # collisions), so the two-phase distinct aggregation is unnecessary.
    m_p = F.col("n_p") - _ceil_safe(F.lit(t) * F.col("n_p"))
    req = F.least(m_p + F.lit(k), F.col("n_p")) - m_p
    cand = (
        cand.filter(F.col("n_i") >= _ceil_safe(F.lit(t) * F.col("n_p")))
        .groupBy("probe_id", "index_id", "n_p")
        .agg(F.count(F.lit(1)).alias("hits"))
        .filter(F.col("hits") >= req)
        .select("probe_id", "index_id")
    )
    a = base.select(
        F.col("doc_id").alias("probe_id"), F.col("toks").alias("ta"),
        F.col("n").alias("na"),
    )
    b = base.select(
        F.col("doc_id").alias("index_id"), F.col("toks").alias("tb"),
    )
    return (
        cand.join(a, "probe_id")
        .join(b, "index_id")
        .select(
            F.col("probe_id").alias("id_contained"),
            F.col("index_id").alias("id_container"),
            F.round(
                F.size(F.array_intersect("ta", "tb")) / F.col("na"), 6
            ).alias("containment"),
        )
        .filter(F.col("containment") >= t)
    )


def minhash_lsh_dedup(
    documents: DataFrame,
    cfg: SketchConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict[str, DataFrame]:
    """Full MinHash+LSH pipeline over any documents table → dict of every
    stage output (signatures, candidates, skew metrics, verified, edges,
    clusters, cluster stats).  This is the engine spine (SURVEY §3.4)."""
    cfg = cfg or SketchConfig()
    sigs = compute_signatures(documents, cfg, id_col=id_col, text_col=text_col)
    sigs = sigs.localCheckpoint(eager=False)
    candidates, skew_metrics = band_candidates(sigs, cfg)
    verified = verify_pairs(
        candidates, documents, cfg, id_col=id_col, text_col=text_col,
        signatures=sigs, min_jaccard=cfg.jaccard_threshold,
    )
    edges = duplicate_edges(verified, cfg)
    vertices = documents.select(F.col(id_col).cast("long").alias("doc_id"))
    clusters = connected_components(vertices, edges)
    stats = clusters.groupBy("cluster_id").agg(
        F.count("*").alias("size"), F.min("doc_id").alias("canonical_doc_id")
    )
    return {
        "signatures": sigs,
        "candidates": candidates,
        "skew_metrics": skew_metrics,
        "verified": verified,
        "edges": edges,
        "clusters": clusters,
        "cluster_stats": stats,
    }


def simhash_dedup_pairs(
    documents: DataFrame,
    cfg: SketchConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash near-fingerprint pairs (Hamming ≤ radius) over any documents
    table — the bit-vector tier (``LSSFingerprintAtomic.java:382-414``
    FingerLen-fingerprint analogue, widened to 64 bits)."""
    cfg = cfg or SketchConfig()
    # lazy-pin the Arrow signature stage: the segment-key explode, the
    # width classification, and BOTH sides of the fingerprint re-check join
    # read it — without this the Python stage runs up to 4×
    sigs = compute_signatures(
        documents, cfg, id_col=id_col, text_col=text_col
    ).localCheckpoint(eager=False)
    pairs, _ = simhash_candidates(sigs, cfg)
    return pairs
