"""Exact verification of candidate pairs — the "shadow map" stage.

The reference disambiguates approximate matches against an exact shadow map
(``Sketching/LSSFingerprintAtomic.java:525-529,740-756``): when the sketch is
ambiguous, the exact structure decides.  Here every LSH candidate pair is
re-checked with the EXACT shingle Jaccard (and byte-equality for exact dups)
before it may create a cluster edge — so pipeline precision is 1.0 by
construction and recall is the only approximation.

One plan, with or without signatures: a byte-equality fast path decides
exact copies JVM-side (md5+length — they never reach Python); near pairs
collapse to distinct canonical text pairs; their docs are shingled ONCE
EACH in a doc-parallel Arrow pass, and a pair-parallel Arrow pass
intersects the compact int64 shingle arrays.  Text enters only the
shingle pass.  The two-pass split is what makes the stage scale: shipping
texts to the pair stage instead makes every partition re-tokenize nearly
the whole rep-doc set (the id2 side of a pair partition spans all docs),
so total work grows with partition count and the stage hits a
parallelism-independent wall.

A pure-JVM variant (``array_intersect`` on the pair join) was measured 8×
slower at 160k pairs — JVM set-intersection of 400-element arrays loses to
numpy's sorted merge; Arrow transfer of the arrays is the right boundary.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import SketchConfig
from ..functions import hashing as H
from ..functions.text import tokenize

_SHINGLE_SCHEMA = "doc_id long, sh array<bigint>"


def _shingle_batches(cfg_json: str):
    """(doc_id, text) → (doc_id, sorted unique shingle hashes as int64) —
    the doc-parallel ONCE-PER-DOC shingle pass.  uint64 hashes are
    reinterpreted to int64 for Arrow; intersection/union sizes are invariant
    under the bijection."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cfg = SketchConfig.from_json(cfg_json)
        token_cache: dict[str, int] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            texts = pdf["text"].tolist()
            out = [
                H.u64_to_i64(
                    H.shingle_hashes(
                        H.hash_tokens(
                            tokenize(t, cfg.normalization), token_cache
                        ),
                        cfg.shingle_k,
                    )
                )
                for t in texts
            ]
            if len(token_cache) > 1_000_000:
                token_cache.clear()
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].to_numpy(), "sh": out}
            )

    return fn


def _pair_intersect_batches():
    """(id1, id2, sh1, sh2) → (id1, id2, jaccard): exact set Jaccard from
    precomputed shingle arrays — no tokenization here, so per-pair work is
    a single O(n log n) intersect."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            jac = np.empty(n, dtype=np.float64)
            s1l = pdf["sh1"].tolist()
            s2l = pdf["sh2"].tolist()
            for i in range(n):
                s1 = np.asarray(s1l[i], dtype=np.int64)
                s2 = np.asarray(s2l[i], dtype=np.int64)
                inter = np.intersect1d(s1, s2, assume_unique=True).size
                union = s1.size + s2.size - inter
                jac[i] = (inter / union) if union else 1.0
            yield pd.DataFrame(
                {
                    "id1": pdf["id1"].to_numpy(),
                    "id2": pdf["id2"].to_numpy(),
                    "jaccard": jac,
                }
            )

    return fn


def verify_pairs(
    candidates: DataFrame,
    documents: DataFrame,
    cfg: SketchConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
    signatures: DataFrame | None = None,
) -> DataFrame:
    """candidates(id1, id2) → verified(id1, id2, jaccard, exact_match).

    With ``signatures``, candidates are pre-pruned by the shingle-count
    ratio bound J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|): pairs that cannot reach
    ``cfg.jaccard_threshold`` are dropped before any text is shuffled —
    lossless for :func:`duplicate_edges`.  Without them every candidate
    pair is verified.

    * **exact tier** (byte-identical, the common case in web corpora):
      decided entirely JVM-side from an md5+length join (32-byte hashes
      shuffled, never text); jaccard = 1.0.
    * **near tier**: Jaccard depends only on the two TEXTS, and web
      corpora are full of exact-copy families — a cluster {A×3, B×2}
      yields 6 A-B candidate pairs with the same text pair.  Each doc
      carries its canonical doc ``cdoc`` (min id with its md5); the
      shingle recompute runs once per DISTINCT canonical pair and the
      jaccard is joined back to every member pair.  Lossless: members
      share byte-identical texts.

    Measured at 1.106 M candidate pairs (400 k docs): 315 k pairs decided
    in the exact tier with zero text movement; 791 k near pairs collapse
    to 251 k canonical recomputes (3.15×).  Wall at local[16]:
    45 s → 27 s for the identical 596,732-edge output.
    """
    docs = documents.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col(text_col).alias("text")
    )
    # per-doc metadata assembled ONCE (doc-count-sized group-by and joins),
    # then attached to the pair table with a single join per side — the
    # pair table is the big relation here
    meta = docs.select(
        "doc_id", F.md5("text").alias("md5"), F.length("text").alias("len")
    )
    # cdoc: the canonical doc of each text.  A null text has no md5, so
    # its doc drops out here and no pair with it verifies
    meta = meta.join(meta.groupBy("md5").agg(F.min("doc_id").alias("cdoc")), "md5")
    if signatures is not None:
        meta = meta.join(
            signatures.select("doc_id", F.col("n_shingles").alias("ns")), "doc_id"
        )
    # meta feeds both pair sides and tagged feeds both tiers — without the lazy
    # checkpoints each subtree is recomputed per consumer (exchange reuse
    # only saves the shuffles, not the map work); ~60 B/doc and ~40 B/pair,
    # executor-local storage
    meta = meta.localCheckpoint(eager=False)

    def side(i: int) -> DataFrame:
        return meta.select(
            F.col("doc_id").alias(f"id{i}"),
            *(F.col(c).alias(f"{c}_{i}") for c in meta.columns if c != "doc_id"),
        )

    tagged = candidates.select("id1", "id2").join(side(1), "id1").join(side(2), "id2")
    if signatures is not None:
        # integer-vs-float-product comparison: use the overestimate-safe
        # ceiling (see dedup._ceil_safe) so a float artifact like
        # 0.07*100 = 7.000000000000001 cannot prune a boundary pair
        from .dedup import _ceil_safe

        t = float(cfg.jaccard_threshold)
        tagged = tagged.where(
            (F.col("ns_1") >= _ceil_safe(F.col("ns_2") * t))
            & (F.col("ns_2") >= _ceil_safe(F.col("ns_1") * t))
        )
    tagged = tagged.select(
        "id1",
        "id2",
        ((F.col("md5_1") == F.col("md5_2")) & (F.col("len_1") == F.col("len_2")))
        .alias("exact_match"),
        F.least("cdoc_1", "cdoc_2").alias("cid1"),
        F.greatest("cdoc_1", "cdoc_2").alias("cid2"),
    ).localCheckpoint(eager=False)

    # exact tier: no text, no Python
    exact_out = tagged.filter(F.col("exact_match")).select(
        "id1", "id2", F.lit(1.0).alias("jaccard"), F.lit(True).alias("exact_match")
    )

    # near tier: ONCE-PER-DOC shingling, then array-join (the scaling-
    # critical shape): feeding TEXTS to the pair stage makes every partition
    # re-tokenize nearly every rep doc — its id2 side touches the whole doc
    # set, so total shingle work grows LINEARLY with partition count and the
    # stage walls at ~(n_rep_docs × shingle_cost) regardless of cores
    # (measured: 43 s at local[8] ≈ 62 s at local[2] on 500 k rep pairs).
    # Splitting into a doc-parallel shingle pass (each of the ~n_rep_docs
    # computed exactly once) + a pair-parallel intersect over compact int64
    # arrays restores linear scaling; the array payload (~8B × shingles) is
    # the price, paid through one exchange.
    near = tagged.filter(~F.col("exact_match"))
    rep_pairs = near.select(
        F.col("cid1").alias("id1"), F.col("cid2").alias("id2")
    ).distinct()
    rep_docs = (
        rep_pairs.select(F.col("id1").alias("doc_id"))
        .unionByName(rep_pairs.select(F.col("id2").alias("doc_id")))
        .distinct()
    )
    sh_tbl = (
        rep_docs.join(docs, "doc_id")
        .mapInPandas(_shingle_batches(cfg.to_json()), _SHINGLE_SCHEMA)
        .localCheckpoint(eager=False)  # two consumers (sh1/sh2 sides)
    )
    sh1 = sh_tbl.select(F.col("doc_id").alias("id1"), F.col("sh").alias("sh1"))
    sh2 = sh_tbl.select(F.col("doc_id").alias("id2"), F.col("sh").alias("sh2"))
    rep_jaccard = (
        rep_pairs.join(sh2, "id2")
        .join(sh1, "id1")
        .select("id1", "id2", "sh1", "sh2")
        .mapInPandas(_pair_intersect_batches(), "id1 long, id2 long, jaccard double")
        .select(F.col("id1").alias("cid1"), F.col("id2").alias("cid2"), "jaccard")
    )
    # jaccard is symmetric, so the canonical orientation never matters
    near_out = near.join(rep_jaccard, ["cid1", "cid2"]).select(
        "id1", "id2", "jaccard", F.lit(False).alias("exact_match")
    )
    return exact_out.unionByName(near_out)


def duplicate_edges(verified: DataFrame, cfg: SketchConfig) -> DataFrame:
    """Pairs passing the exact threshold → cluster edges."""
    return verified.filter(
        (F.col("jaccard") >= cfg.jaccard_threshold) | F.col("exact_match")
    ).select("id1", "id2")
