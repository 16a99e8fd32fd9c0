"""Directional token-set containment (dedup.containment_pairs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from localitysensitivesketch_spark.fixtures import corpus_to_spark, generate_corpus
from localitysensitivesketch_spark.operators.dedup import containment_pairs
from localitysensitivesketch_spark.operators.signatures import with_doc_id


def _brute(rows: list[tuple[int, str]], t: float) -> set[tuple[int, int, float]]:
    toks = {
        i: set(s.lower().strip().split()) - {""} for i, s in rows if s.strip()
    }
    out = set()
    for a in toks:
        for b in toks:
            if a != b and toks[a]:
                c = round(len(toks[a] & toks[b]) / len(toks[a]), 6)
                if c >= t:
                    out.add((a, b, c))
    return out


@pytest.mark.parametrize("t", [1.0, 0.8, 0.5])
def test_containment_exact_vs_brute_force_planted(spark, t):
    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),
        (3, "beta gamma delta"),
        (4, "the the the alpha"),
        (5, "zeta eta"),
        (6, "unique tokens only here"),
        (7, ""),  # empty text: excluded entirely
        (8, "the quick brown fox the lazy dog alpha beta gamma delta epsilon"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {tuple(r) for r in containment_pairs(df, t).collect()}
    assert got == _brute(rows, t)


def test_containment_exact_on_degenerate_vocab_corpus(spark):
    # the 31-token fixture vocabulary makes EVERY index bucket hot
    # (df ≈ n_docs > HOT_THRESHOLD is false at 120 docs, so force a low
    # threshold via cfg? no — exercise both tiers with the real corpus):
    # correctness must hold regardless of which tier each token takes.
    docs = with_doc_id(
        corpus_to_spark(spark, generate_corpus(n_docs=120, seed=11))
    ).select("doc_id", "text")
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    got = {tuple(r) for r in containment_pairs(docs, 0.9).collect()}
    assert got == _brute(rows, 0.9)
    assert len(got) > 0  # non-vacuous on this corpus
    # t=1.0 takes the min_by aggregation prefix (no window sort) — must
    # be exactly the window path's answer, i.e. the brute-force one
    got1 = {tuple(r) for r in containment_pairs(docs, 1.0).collect()}
    assert got1 == _brute(rows, 1.0)
    assert len(got1) > 0


def test_containment_salted_tier_equals_plain(spark):
    # force the salted path for every token by dropping the hot threshold:
    # monkeypatch-free — pass through probe_index_pairs via a tiny corpus
    # where df > threshold.  Easiest honest trigger: 300 docs sharing the
    # fixture vocabulary → token df ≈ 300 > 256 (HOT_THRESHOLD).
    docs = with_doc_id(
        corpus_to_spark(spark, generate_corpus(n_docs=300, seed=3))
    ).select("doc_id", "text")
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    got = {tuple(r) for r in containment_pairs(docs, 1.0).collect()}
    assert got == _brute(rows, 1.0)


def test_containment_is_directional(spark):
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b c d")], "doc_id long, text string"
    )
    got = {tuple(r) for r in containment_pairs(df, 1.0).collect()}
    assert got == {(1, 2, 1.0)}  # 2 is not contained in 1


def test_containment_threshold_validation(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        containment_pairs(df, 0.0)
    with pytest.raises(ValueError):
        containment_pairs(df, 1.1)


def test_containment_plan_no_python(spark):
    df = spark.createDataFrame([(1, "a b"), (2, "a b c")], "doc_id long, text string")
    plan = containment_pairs(df, 1.0)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ceil_boundary_pair_not_lost(spark):
    # float ceil(0.07*100) == 8 (true 7): with a bare ceil the prefix
    # shortens by one token and this boundary pair vanishes.  Doc a has 93
    # unique tokens + 7 shared with doc b; the shared ones are a's most
    # common tokens, so they sit at df-ordered positions 94..100 — exactly
    # the positions a one-too-short prefix misses.
    a_toks = [f"u{i}" for i in range(93)] + [f"s{i}" for i in range(7)]
    b_toks = [f"s{i}" for i in range(7)]
    df = spark.createDataFrame(
        [(1, " ".join(a_toks)), (2, " ".join(b_toks))],
        "doc_id long, text string",
    )
    got = {tuple(r) for r in containment_pairs(df, 0.07).collect()}
    assert (1, 2, 0.07) in got  # C(a→b) = 7/100 exactly at threshold
    # same boundary through the Jaccard prefix strategy: J = 7/100 = 0.07
    from localitysensitivesketch_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    jac = {
        (r["id1"], r["id2"])
        for r in ngram_jaccard_pairs(df, 0.07, strategy="prefix").collect()
    }
    assert (1, 2) in jac
    # and through the block strategy's size-ratio prune (n1 >= t*n2 was
    # the same float-overestimate form: 7 >= 7.000000000000001 is false)
    blk = {
        (r["id1"], r["id2"])
        for r in ngram_jaccard_pairs(df, 0.07, strategy="block").collect()
    }
    assert (1, 2) in blk


def test_containment_prefilter_off_parity(spark, monkeypatch):
    # the bloom index prefilter and the vocab broadcast are scan/shuffle
    # reductions only — the plain plan must produce the identical pair
    # set on a corpus that exercises both join tiers.  The size floor
    # picks the plan; each is forced here.
    from localitysensitivesketch_spark.functions.bloom import bloom_supported
    from localitysensitivesketch_spark.operators import dedup as D

    docs = with_doc_id(
        corpus_to_spark(spark, generate_corpus(n_docs=150, seed=23))
    ).select("doc_id", "text")

    def pairs(bloom):
        monkeypatch.setattr(D, "auto_prefilter_enabled", lambda df: bloom)
        return containment_pairs(docs, 1.0)

    on_df = pairs(True)
    if bloom_supported(spark):
        plan = on_df._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
    on = {tuple(r) for r in on_df.collect()}
    off = {tuple(r) for r in pairs(False).collect()}
    assert on == off and len(on) > 0


def test_containment_vocab_shuffle_join_parity(spark, monkeypatch):
    # force the web-scale branch (vocabulary over the broadcast cap → the
    # rank join stays a shuffle join): answers must not change
    from localitysensitivesketch_spark.operators import dedup as D

    monkeypatch.setattr(D, "VOCAB_BROADCAST_MAX_ROWS", 0)
    rows = [
        (1, "alpha beta gamma"),
        (2, "alpha beta gamma delta epsilon"),
        (3, "zeta eta theta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {tuple(r) for r in containment_pairs(df, 1.0).collect()}
    assert got == _brute(rows, 1.0)


@pytest.mark.parametrize("t", [1.0, 0.7])
def test_containment_materialize_modes_identical(spark, t):
    """materialize only changes how the tokenized corpus is shared
    (checkpoint vs map-side recompute) — results must be value-identical
    across base/none/auto, and equal to brute force."""
    docs = with_doc_id(
        corpus_to_spark(spark, generate_corpus(n_docs=150, seed=19))
    ).select("doc_id", "text")
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    want = _brute(rows, t)
    for m in ("base", "none", "auto"):
        got = {
            tuple(r)
            for r in containment_pairs(docs, t, materialize=m).collect()
        }
        assert got == want, m


def test_containment_materialize_validation_and_auto_rule(spark, tmp_path):
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        containment_pairs(df, 1.0, materialize="bogus")
    # the auto rule consults plan-size and cluster-memory estimates.  A
    # local relation reports the unknown-stats sentinel (⇒ scale-safe
    # recompute); a parquet scan carries file-size stats, and a tiny one
    # fits any real session's memory ⇒ "base"
    from localitysensitivesketch_spark.session import (
        cluster_storage_bytes,
        estimated_plan_bytes,
    )

    assert estimated_plan_bytes(df) is None  # local relation: unknown
    p = str(tmp_path / "tiny_docs")
    df.write.parquet(p)
    scan = df.sparkSession.read.parquet(p)
    est = estimated_plan_bytes(scan)
    mem = cluster_storage_bytes(df.sparkSession)
    assert est is not None and est > 0
    assert mem is not None and mem > 0
    assert est * 3 <= mem  # tiny parquet input ⇒ auto materializes


def test_plan_reexecution_stability_detection(spark, tmp_path):
    """auto-resolved 'none' re-derives the corpus in every consumer, so
    positively unstable plans (limit/sample) must upgrade to the pinned
    snapshot; a parquet scan is stable."""
    from localitysensitivesketch_spark.operators.dedup import (
        _plan_reexecution_stable,
    )

    p = str(tmp_path / "stab_docs")
    spark.createDataFrame(
        [(i, f"tok{i} tok{i+1}") for i in range(20)],
        "doc_id long, text string",
    ).write.parquet(p)
    scan = spark.read.parquet(p)
    assert _plan_reexecution_stable(scan) is True
    assert _plan_reexecution_stable(scan.limit(5)) is False
    assert _plan_reexecution_stable(scan.sample(0.5, seed=1)) is False
    # and the hazard case still returns internally consistent results
    got = containment_pairs(scan.limit(20), 1.0).collect()
    assert isinstance(got, list)


@pytest.mark.parametrize("seed", [3, 17])
@pytest.mark.parametrize("t", [0.95, 1.0])
def test_containment_cutoff_prune_parity_randomized(spark, seed, t):
    """Brute-force parity in the high-threshold region (ρ ≤ 0.33) where
    the df-cutoff map-side prune engages: t = 0.95 exercises the pruned
    prefix with a NONZERO miss budget (m > 0, the round-5 unified t < 1
    path — no other test reaches the cutoff with m > 0), t = 1.0 the
    m = 0 case.  The corpus mixes template tokens present in most docs
    (so some docs hold ONLY over-cutoff tokens and take the exact
    per-doc fallback) with a long tail of rare tokens (cutoff-satisfiable
    prefixes), plus planted exact subsets and 19-of-20-token near-subsets
    that straddle the t = 0.95 boundary."""
    import random

    rng = random.Random(seed)
    common = [f"tpl{i}" for i in range(8)]
    rare = [f"r{i}" for i in range(400)]
    rows = []
    for i in range(90):
        n_common = rng.randint(1, 6)
        n_rare = rng.randint(0, 12)
        toks = rng.sample(common, n_common) + rng.sample(rare, n_rare)
        rng.shuffle(toks)
        rows.append((i, " ".join(toks)))
    # template-only docs: every token over any reasonable cutoff → the
    # fallback branch must produce their exact rarest prefix
    for i in range(90, 100):
        rows.append((i, " ".join(rng.sample(common, rng.randint(2, 8)))))
    # planted subset pairs (containment 1.0) and 19/20 near-subsets
    # (containment 0.95 — ON the t=0.95 boundary, pigeonhole-critical)
    base = rng.sample(rare, 20)
    rows.append((100, " ".join(base)))
    rows.append((101, " ".join(base[:10])))
    rows.append((102, " ".join(base[:19] + ["odd1"])))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {tuple(r) for r in containment_pairs(df, t).collect()}
    want = _brute(rows, t)
    assert got == want
    assert len(want) > 0
