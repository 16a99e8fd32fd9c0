"""Operator-level tests: analytics, text stats, similarity, substring pass,
checkpoint/resume pipeline (SURVEY §5.2 items 1, 3, 4)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from localitysensitivesketch_spark.config import SketchConfig
from localitysensitivesketch_spark.fixtures import corpus_to_spark, generate_corpus
from localitysensitivesketch_spark.operators import analytics as A
from localitysensitivesketch_spark.operators import similarity as S
from localitysensitivesketch_spark.operators import textstats as T
from localitysensitivesketch_spark.operators.signatures import with_doc_id
from localitysensitivesketch_spark.operators.substring import substring_duplicates
from localitysensitivesketch_spark.plans.pipeline import DedupPipeline

CFG = SketchConfig()


# ---------------------------------------------------------------------------
# analytics
# ---------------------------------------------------------------------------


def test_heavy_change_full_outer_semantics(spark):
    wa = spark.createDataFrame([("a", 10), ("b", 3), ("gone", 7)], "key string, cnt long")
    wb = spark.createDataFrame([("a", 2), ("b", 4), ("new", 9)], "key string, cnt long")
    out = {r["key"]: r for r in A.heavy_change(wa, wb, threshold=5).collect()}
    assert set(out) == {"a", "gone", "new"}
    assert out["gone"]["cnt_b"] == 0 and out["gone"]["delta"] == 7
    assert out["new"]["cnt_a"] == 0 and out["new"]["delta"] == 9


def test_entropy_uniform(spark):
    counts = spark.createDataFrame([("k%d" % i, 1) for i in range(8)], "key string, cnt long")
    got = A.entropy(counts).collect()[0]["entropy"]
    assert got == pytest.approx(np.log(8), abs=1e-6)


def test_f1_score_exact(spark):
    est = spark.createDataFrame([("a",), ("b",), ("c",)], "key string")
    truth = spark.createDataFrame([("b",), ("c",), ("d",)], "key string")
    r = A.f1_score(est, truth).collect()[0]
    assert r["n_intersect"] == 2
    assert r["precision"] == pytest.approx(2 / 3, abs=1e-6)
    assert r["recall"] == pytest.approx(2 / 3, abs=1e-6)
    assert r["f1"] == pytest.approx(2 / 3, abs=1e-6)


def test_heavy_hitters_strict_threshold(spark):
    rows = [("k%d" % i, c) for i, c in enumerate([1] * 9 + [100])]
    counts = spark.createDataFrame(rows, "key string, cnt long")
    hh = A.heavy_hitters(counts, q=0.9).collect()
    assert [r["key"] for r in hh] == ["k9"]


def test_histogram_cdf_monotone(spark):
    df = spark.createDataFrame([(float(v),) for v in range(100)], "value double")
    out = A.histogram_cdf(df, "value", bucket_size=10.0).orderBy("bucket").collect()
    assert len(out) == 10
    assert all(r["cnt"] == 10 for r in out)
    cdfs = [r["cdf"] for r in out]
    assert cdfs == sorted(cdfs) and cdfs[-1] == pytest.approx(1.0)


def test_top_k_deterministic_ties(spark):
    counts = spark.createDataFrame(
        [("b", 5), ("a", 5), ("c", 9), ("d", 1)], "key string, cnt long"
    )
    got = [r["key"] for r in A.top_k(counts, k=3).orderBy("rank").collect()]
    assert got == ["c", "a", "b"]  # ties broken by key asc


# ---------------------------------------------------------------------------
# textstats
# ---------------------------------------------------------------------------


def test_token_stats_counts(spark):
    df = spark.createDataFrame([(1, "a b b c")], "doc_id long, text string")
    r = T.token_stats(df).collect()[0]
    assert r["n_tokens"] == 4 and r["n_distinct_tokens"] == 3 and r["n_chars"] == 7


def test_language_id_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house"),
            (2, "der hund und die katze ist gut"),
            (3, "xyzzy plugh qwerty"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["pred_lang"] for r in T.language_id(df).collect()}
    assert out == {1: "en", 2: "de", 3: "und"}


def test_language_id_trained_model(spark):
    """Round-4 (VERDICT #5): language_id(model=...) — trained hashed
    naive-Bayes weights through the same map-only plan — classifies
    held-out snippets the marker heuristic can't (no marker words), with
    a deterministic model from train_language_model."""
    train = [
        ("en", "hello world this is a short english sentence about dogs"),
        ("en", "another english sentence with words like house water friend"),
        ("en", "english text talks about dogs house water and friends"),
        ("de", "hallo welt dies ist ein kurzer deutscher satz über hunde"),
        ("de", "noch ein deutscher satz mit wörtern wie haus wasser freund"),
        ("de", "deutscher text über hunde haus wasser und freunde"),
        ("fr", "bonjour le monde ceci est une courte phrase française"),
        ("fr", "une autre phrase française avec des mots maison eau ami"),
        ("fr", "texte français qui parle de chiens maison eau et amis"),
    ]
    model = T.train_language_model(train, dim=256, seed=7)
    assert sorted(model["weights"]) == ["de", "en", "fr"]
    # determinism: retraining yields identical weights
    assert T.train_language_model(train, dim=256, seed=7) == model

    held_out = spark.createDataFrame(
        [
            (1, "english sentence about water and dogs"),   # no 'the/and-only' reliance
            (2, "deutscher satz über wasser und hunde"),
            (3, "phrase française sur eau et chiens"),
            (4, ""),                                        # empty → und
        ],
        "doc_id long, text string",
    )
    out = T.language_id(held_out, model=model)
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "score_de", "score_en", "score_fr", "pred_lang",
    ]
    got = {r["doc_id"]: r["pred_lang"] for r in out.collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "und"}
    # the heuristic contract path is unchanged
    heur = {r["doc_id"]: r["pred_lang"]
            for r in T.language_id(held_out).collect()}
    assert heur[4] == "und"
    # model path stays map-only: no shuffle exchange in the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_fingerprint_stable_and_distinct(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], "doc_id long, text string"
    )
    out = {r["doc_id"]: (r["fp_hex"], r["fp64"]) for r in T.fingerprint(df).collect()}
    assert out[1] == out[2] != out[3]


# ---------------------------------------------------------------------------
# similarity
# ---------------------------------------------------------------------------


def _emb_df(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((20, 8))
    df = _emb_df(spark, vecs)
    got = S.cosine_topk_bruteforce(df, df.filter(F.col("vec_id") < 2), k=3).collect()
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norm @ norm.T
    for q in (0, 1):
        s = sims[q].copy()
        s[q] = -np.inf
        expect = list(np.argsort(-s)[:3])
        mine = [r["nbr_id"] for r in sorted(
            (r for r in got if r["query_id"] == q), key=lambda r: r["rank"]
        )]
        assert mine == expect


def test_hyperplane_buckets_deterministic(spark):
    rng = np.random.default_rng(4)
    vecs = rng.standard_normal((50, 8))
    df = _emb_df(spark, vecs)
    b1 = {r["vec_id"]: r["bucket"] for r in S.hyperplane_buckets(df, dim=8).collect()}
    b2 = {
        r["vec_id"]: r["bucket"]
        for r in S.hyperplane_buckets(df.repartition(7), dim=8).collect()
    }
    assert b1 == b2  # partitioning-independent


def test_embedding_near_dup_finds_duplicate(spark):
    rng = np.random.default_rng(5)
    base = rng.standard_normal(8)
    vecs = [base, base + 1e-4 * rng.standard_normal(8), rng.standard_normal(8)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    )
    out = S.embedding_near_dup_pairs(df, threshold=0.99).collect()
    assert [(r["id1"], r["id2"]) for r in out] == [(0, 1)]


def test_latest_capture_keeps_newest_per_url(spark):
    from datetime import datetime

    from localitysensitivesketch_spark.operators.dedup import latest_capture

    rows = [
        ("u1", datetime(2024, 1, 1), b"<a>", "v1", "en"),
        ("u1", datetime(2024, 3, 1), b"<b>", "v2", "en"),   # newest u1
        ("u2", datetime(2024, 2, 1), b"<c>", "w1", "de"),
        ("u2", datetime(2024, 2, 1), b"<d>", "w2", "de"),   # ts tie → max text
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    out = {r["url"]: (r["text"], r["warc_ts"]) for r in latest_capture(df).collect()}
    assert out["u1"] == ("v2", datetime(2024, 3, 1))
    assert out["u2"][0] == "w2"  # deterministic tie-break, greatest struct
    assert latest_capture(df).columns == df.columns
    # partitioning-independent
    out2 = {r["url"]: r["text"] for r in latest_capture(df.repartition(5)).collect()}
    assert out2 == {u: t for u, (t, _) in out.items()}


def test_semantic_dedup_clusters_and_keeps_one(spark):
    rng = np.random.default_rng(6)
    a = rng.standard_normal(8)
    b = rng.standard_normal(8)
    vecs = [
        a, a + 1e-4 * rng.standard_normal(8), 2.0 * a,  # cluster {0,1,2}
        b, -b,                                          # 3 alone; 4 = -b alone
    ]
    df = _emb_df(spark, vecs)
    out = S.semantic_dedup(df, threshold=0.99, block_col=None, n_bits=4)
    asn = {r["vec_id"]: (r["cluster_id"], r["keep"])
           for r in out["assignments"].collect()}
    assert set(asn) == {0, 1, 2, 3, 4}
    assert asn[0] == (0, True) and asn[1] == (0, False) and asn[2] == (0, False)
    assert asn[3] == (3, True) and asn[4] == (4, True)
    kept = sorted(r["vec_id"] for r in out["keep"].collect())
    assert kept == [0, 3, 4]
    stats = {r["cluster_id"]: r["size"] for r in out["stats"].collect()}
    assert stats == {0: 3}


def test_semantic_dedup_blocked_matches_default_on_shared_bucket(spark):
    # identical vectors always share every hyperplane bucket, so the
    # default (LSH-blocked) path must find the same exact-dup clusters a
    # user-provided block column finds
    rng = np.random.default_rng(7)
    vecs = list(rng.standard_normal((12, 8)))
    vecs.append(vecs[0].copy())  # 12 duplicates 0
    df_lbl = spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    )
    exact = S.semantic_dedup(df_lbl, threshold=0.999999, block_col="label")
    lsh = S.semantic_dedup(
        df_lbl.drop("label"), threshold=0.999999, block_col=None, n_bits=8
    )
    exact_asn = sorted(map(tuple, exact["assignments"].collect()))
    lsh_asn = sorted(map(tuple, lsh["assignments"].collect()))
    assert exact_asn == lsh_asn
    assert (0, 0, True) in lsh_asn and (12, 0, False) in lsh_asn


# ---------------------------------------------------------------------------
# substring (winnowing) pass
# ---------------------------------------------------------------------------


def test_substring_pass_finds_planted_blocks(spark):
    corpus = generate_corpus(n_docs=120, seed=11, dup_fraction=0.2,
                             substring_fraction=0.3)
    docs = with_doc_id(corpus_to_spark(spark, corpus)).cache()
    url_to_row = {u: i for i, u in enumerate(corpus.url)}
    id_to_row = {
        r["doc_id"]: url_to_row[r["url"]]
        for r in docs.select("doc_id", "url").collect()
    }
    got_pairs = {
        tuple(sorted((id_to_row[r["id1"]], id_to_row[r["id2"]])))
        for r in substring_duplicates(docs, CFG).collect()
    }
    planted = {
        tuple(sorted((a, b)))
        for a, b, kind in corpus.truth_pairs
        if kind == "substring"
    }
    assert planted, "fixture must plant substring pairs"
    missing = planted - got_pairs
    assert not missing, f"missed planted substring pairs: {missing}"


# ---------------------------------------------------------------------------
# checkpoint / resume
# ---------------------------------------------------------------------------


def test_pipeline_checkpoint_resume(spark, tmp_path, monkeypatch):
    from localitysensitivesketch_spark.plans import incremental as I

    # the band join runs once per fresh run (candidates and skew_metrics
    # share it) and never on a full resume
    band_calls: list[int] = []
    band_candidates = I.band_candidates

    def counting_band_candidates(*args, **kwargs):
        band_calls.append(1)
        return band_candidates(*args, **kwargs)

    monkeypatch.setattr(I, "band_candidates", counting_band_candidates)
    corpus = generate_corpus(n_docs=80, seed=13)
    docs = with_doc_id(corpus_to_spark(spark, corpus)).cache()

    p1 = DedupPipeline(spark, str(tmp_path / "ckpt"), CFG)
    r1 = p1.run(docs)
    assert r1.stages_resumed == [] and set(r1.stages_run) == set(DedupPipeline.STAGES)
    assert len(band_calls) == 1
    first = sorted(
        (r["doc_id"], r["cluster_id"]) for r in r1.clusters.collect()
    )

    # resume: everything reused, identical output
    p2 = DedupPipeline(spark, str(tmp_path / "ckpt"), CFG)
    r2 = p2.run(docs)
    assert r2.stages_run == [] and set(r2.stages_resumed) == set(DedupPipeline.STAGES)
    assert len(band_calls) == 1
    assert sorted((r["doc_id"], r["cluster_id"]) for r in r2.clusters.collect()) == first

    # config change invalidates checkpoints
    cfg2 = SketchConfig(n_hashes=64, bands=8, rows=8)
    p3 = DedupPipeline(spark, str(tmp_path / "ckpt"), cfg2)
    r3 = p3.run(docs)
    assert set(r3.stages_run) == set(DedupPipeline.STAGES)

    # lineage manifest recorded every commit
    lin = p1.store.lineage()
    assert lin.filter(F.col("status") == "ok").count() >= 2 * len(DedupPipeline.STAGES)
    parts = p1.store.partition_lineage("signatures")
    assert parts.agg(F.sum("rows")).collect()[0][0] == 80


def test_per_partition_resume_reuses_completed_slices(spark, tmp_path):
    """SURVEY §4.2 item 4: a stage interrupted mid-write must resume at
    slice granularity — completed input partitions are NOT recomputed (the
    anti-join against the slice ledger), and the resumed output equals a
    clean run's."""
    import json as _json

    from localitysensitivesketch_spark.operators.signatures import compute_signatures
    from localitysensitivesketch_spark.plans.pipeline import CheckpointStore

    corpus = generate_corpus(n_docs=120, seed=23)
    docs = with_doc_id(corpus_to_spark(spark, corpus)).cache()
    pk = F.pmod(F.xxhash64(F.col("doc_id").cast("long")), F.lit(256))

    def compute(sub):
        return compute_signatures(sub, CFG)

    calls: list[int] = []

    def failing_compute(sub):
        calls.append(1)
        if len(calls) == 3:
            raise RuntimeError("simulated executor-loss mid-stage")
        return compute(sub)

    store = CheckpointStore(spark, str(tmp_path / "ckpt"), CFG)
    with pytest.raises(RuntimeError):
        store.resume_partitioned(
            "signatures", docs, failing_compute, pk, n_slices=4
        )
    # two slices landed durably before the crash
    ledger = tmp_path / "ckpt" / "signatures" / "slices.jsonl"
    recs = [_json.loads(line) for line in ledger.read_text().splitlines()]
    assert [r["slice"] for r in recs] == [0, 1]
    assert not store.is_committed("signatures")

    # resume: only the 2 missing slices are computed
    calls2: list[int] = []

    def counting_compute(sub):
        calls2.append(1)
        return compute(sub)

    out = store.resume_partitioned(
        "signatures", docs, counting_compute, pk, n_slices=4
    )
    assert len(calls2) == 2  # slices 2 and 3 only
    assert store.is_committed("signatures")

    # output equals a clean unsliced run
    want = sorted(
        (r["doc_id"], tuple(r["minhash"]))
        for r in compute_signatures(docs, CFG).collect()
    )
    got = sorted((r["doc_id"], tuple(r["minhash"])) for r in out.collect())
    assert got == want
    # per-partition lineage rows cover every doc exactly once, and the
    # commit marker records the same total
    parts = store.partition_lineage("signatures")
    assert parts.agg(F.sum("rows")).collect()[0][0] == 120
    marker = tmp_path / "ckpt" / "signatures" / "_COMMIT.json"
    assert _json.loads(marker.read_text())["rows"] == 120

    # second entry after commit: pure reuse, zero compute calls
    calls3: list[int] = []
    out2 = store.resume_partitioned(
        "signatures", docs, lambda sub: calls3.append(1) or compute(sub),
        pk, n_slices=4,
    )
    assert calls3 == [] and out2.count() == 120

    # stores sliced before the key became an argument kept it in every
    # slice as a part_key column; read strips it along with __slice
    legacy = CheckpointStore(spark, str(tmp_path / "legacy"), CFG)
    legacy.resume_partitioned(
        "signatures", docs,
        lambda sub: compute(sub).withColumn(CheckpointStore.SLICE_COL, pk),
        pk, n_slices=2,
    )
    assert legacy.read("signatures").columns == out.columns

    # the pipeline wiring: sliced signature stage, same end-to-end clusters
    p = DedupPipeline(spark, str(tmp_path / "ckpt2"), CFG)
    r_sliced = p.run(docs, signature_slices=4)
    p_plain = DedupPipeline(spark, str(tmp_path / "ckpt3"), CFG)
    r_plain = p_plain.run(docs)
    assert sorted(
        (r["doc_id"], r["cluster_id"]) for r in r_sliced.clusters.collect()
    ) == sorted((r["doc_id"], r["cluster_id"]) for r in r_plain.clusters.collect())


def test_per_partition_resume_idempotent_after_ledger_crash(spark, tmp_path):
    """Crash-window idempotency: a slice whose DATA landed but whose ledger
    line was never written (process died between the parquet commit and the
    ledger append) must be recomputed WITHOUT duplicating its rows — the
    per-slice overwrite directory makes re-entry idempotent at every crash
    point."""
    import json as _json

    from localitysensitivesketch_spark.operators.signatures import compute_signatures
    from localitysensitivesketch_spark.plans.pipeline import CheckpointStore

    corpus = generate_corpus(n_docs=80, seed=29)
    docs = with_doc_id(corpus_to_spark(spark, corpus)).cache()
    pk = F.pmod(F.xxhash64(F.col("doc_id").cast("long")), F.lit(256))

    def compute(sub):
        return compute_signatures(sub, CFG)

    calls: list[int] = []

    def failing(sub):
        calls.append(1)
        if len(calls) == 3:
            raise RuntimeError("die before slice 2's ledger line")
        return compute(sub)

    store = CheckpointStore(spark, str(tmp_path / "ckpt"), CFG)
    with pytest.raises(RuntimeError):
        store.resume_partitioned("signatures", docs, failing, pk, n_slices=4)

    # simulate the worst crash window: slice 1's data is durable but its
    # ledger line vanished (crash between the two writes)
    ledger = tmp_path / "ckpt" / "signatures" / "slices.jsonl"
    recs = [_json.loads(line) for line in ledger.read_text().splitlines()]
    assert [r["slice"] for r in recs] == [0, 1]
    ledger.write_text(
        "\n".join(_json.dumps(r) for r in recs if r["slice"] != 1) + "\n"
    )
    slice1 = tmp_path / "ckpt" / "signatures" / "data.parquet" / "__slice=1"
    assert slice1.exists()

    out = store.resume_partitioned("signatures", docs, compute, pk, n_slices=4)
    got = sorted(
        (r["doc_id"], tuple(r["minhash"])) for r in out.collect()
    )
    want = sorted(
        (r["doc_id"], tuple(r["minhash"]))
        for r in compute_signatures(docs, CFG).collect()
    )
    assert got == want  # every doc exactly once — no slice-1 duplicates


def test_merge_components_equals_full_recompute(spark):
    """Incremental CC (contract-then-merge) must produce labels identical
    to a from-scratch connected_components over the union edge set — and
    re-merging the same edges must be a no-op (replay idempotency)."""
    import random

    from localitysensitivesketch_spark.operators.cluster import (
        connected_components,
        merge_components,
    )

    rng = random.Random(5)
    old_edges = [
        (rng.randrange(200), rng.randrange(200)) for _ in range(150)
    ]
    # new edges touch old vertices, brand-new vertices (200-219), and
    # bridge old clusters
    new_edges = [
        (rng.randrange(220), rng.randrange(220)) for _ in range(60)
    ]
    verts_old = spark.range(200).select(F.col("id").alias("doc_id"))
    verts_new = spark.range(220).select(F.col("id").alias("doc_id"))
    e_old = spark.createDataFrame(old_edges, "id1 long, id2 long")
    e_new = spark.createDataFrame(new_edges, "id1 long, id2 long")

    labels_old = connected_components(verts_old, e_old)
    merged = merge_components(labels_old, e_new, new_vertices=verts_new)
    full = connected_components(verts_new, e_old.unionByName(e_new))
    got = sorted((r.doc_id, r.cluster_id) for r in merged.collect())
    want = sorted((r.doc_id, r.cluster_id) for r in full.collect())
    assert got == want

    # idempotent: merging the same edges into the merged labels changes
    # nothing (every contracted edge collapses to l1 == l2)
    again = merge_components(merged, e_new, new_vertices=verts_new)
    assert sorted((r.doc_id, r.cluster_id) for r in again.collect()) == want


def test_sketch_accuracy_report(spark):
    """MinHash estimate vs exact Jaccard — the reference's online accuracy
    suite (est within sampling error; detection F1 near 1 at the pinned
    config)."""
    from localitysensitivesketch_spark.operators.candidates import band_candidates
    from localitysensitivesketch_spark.operators.signatures import compute_signatures
    from localitysensitivesketch_spark.operators.verify import verify_pairs

    corpus = generate_corpus(n_docs=150, seed=17)
    docs = with_doc_id(corpus_to_spark(spark, corpus)).cache()
    sigs = compute_signatures(docs, CFG).localCheckpoint(eager=True)
    cands, _ = band_candidates(sigs, CFG)
    verified = verify_pairs(cands, docs, CFG)
    r = A.sketch_accuracy_report(verified, sigs, CFG.jaccard_threshold).collect()[0]
    assert r["n_pairs"] > 0
    assert r["p50_err"] <= 0.12          # 128 hashes: median rel err small
    assert r["detect_f1"] >= 0.9
    est = A.minhash_estimate_for_pairs(
        verified.select("id1", "id2", "jaccard"), sigs
    ).collect()
    for row in est:
        assert abs(row["est_jaccard"] - row["jaccard"]) <= 0.25  # 4.5σ-ish


def test_cluster_churn_between_snapshots(spark):
    a = spark.createDataFrame(
        [(1, 5), (10, 3), (20, 2)], "cluster_id long, size long"
    )
    b = spark.createDataFrame(
        [(1, 8), (10, 3), (30, 4)], "cluster_id long, size long"
    )
    out = {r["cluster_id"]: r for r in A.cluster_churn(a, b).collect()}
    assert out[1]["status"] == "grown" and out[1]["delta"] == 3
    assert out[20]["status"] == "gone" and out[20]["size_b"] == 0
    assert out[30]["status"] == "new" and out[30]["delta"] == 4
    assert 10 not in out  # unchanged cluster filtered


def test_weibull_lengths_deterministic_and_bounded():
    from localitysensitivesketch_spark.fixtures import weibull_lengths
    rng1 = np.random.default_rng(5)
    rng2 = np.random.default_rng(5)
    a = weibull_lengths(rng1, 1000)
    b = weibull_lengths(rng2, 1000)
    assert (a == b).all()
    assert a.min() >= 10 and a.max() <= 20_000
    assert 200 < a.mean() < 600  # scale=400, shape=1.5 -> mean ~361


def test_refine_overlap_exact_matches_planted_block(spark):
    """Winnowing detects; the suffix-array refinement reports the EXACT
    shared run — must be >= the planted block length (256 tokens)."""
    from localitysensitivesketch_spark.operators.substring import (
        refine_overlap_exact,
        substring_duplicates,
    )

    corpus = generate_corpus(n_docs=60, seed=19, dup_fraction=0.1,
                             substring_fraction=0.4)
    docs = with_doc_id(corpus_to_spark(spark, corpus)).cache()
    pairs = substring_duplicates(docs, CFG)
    refined = refine_overlap_exact(pairs, docs, CFG).collect()
    assert refined, "planted substring pairs must be detected"
    for r in refined:
        assert r["overlap_exact"] >= 256, r


# ---------------------------------------------------------------------------
# round-2: scale-plan assertions + CC algorithms + prefix-filter exactness
# ---------------------------------------------------------------------------


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_top_k_plans_take_ordered(spark):
    """top_k must plan TakeOrderedAndProject (per-partition k-heap), never a
    global single-partition window sort (the 100×-scale killer)."""
    counts = spark.createDataFrame(
        [("k%d" % i, i) for i in range(100)], "key string, cnt long"
    )
    assert "TakeOrderedAndProject" in _plan(A.top_k(counts, 5))


def test_percentile_approx_plan_and_exact_default(spark):
    counts = spark.createDataFrame(
        [("k%d" % i, i) for i in range(100)], "key string, cnt long"
    )
    approx = _plan(A.percentile_threshold(counts, 0.9, exact=False))
    assert "percentile_approx" in approx or "approx_percentile" in approx
    exact = _plan(A.percentile_threshold(counts, 0.9))
    assert "percentile_approx" not in exact and "approx_percentile" not in exact
    # values agree on this smooth distribution
    a = A.percentile_threshold(counts, 0.9, exact=False).collect()[0]["threshold"]
    e = A.percentile_threshold(counts, 0.9).collect()[0]["threshold"]
    assert abs(a - e) <= 1.0


def _cc_path(spark, n):
    """An n-node path 0-1-…-(n-1): one component, diameter n-1."""
    verts = spark.range(n).withColumnRenamed("id", "doc_id")
    edges = spark.range(n - 1).select(
        F.col("id").alias("id1"), (F.col("id") + 1).alias("id2")
    )
    return verts, edges


def _cc_labels(df):
    return {r["doc_id"]: r["cluster_id"] for r in df.collect()}


def _force_driver_limit(monkeypatch, limit):
    """Pin the driver edge limit L of connected_components /
    merge_components: 0 sends every non-empty graph through star rounds."""
    from localitysensitivesketch_spark.operators import cluster

    monkeypatch.setattr(cluster, "_driver_edge_limit", lambda spark: limit)


def test_cc_star_path_graph_converges_in_log_rounds(
    spark, monkeypatch, job_ids
):
    """1000-node path graph with L forced to 0: large-star/small-star
    rounds alone must label it, within a job budget that O(log n) rounds
    fit (~log2(1000) = 10 rounds of ~16 jobs) and O(n) rounds do not."""
    from localitysensitivesketch_spark.operators.cluster import connected_components
    from localitysensitivesketch_spark.oracle import oracle_clusters

    n = 1000
    _force_driver_limit(monkeypatch, 0)
    with job_ids("cc-star-path") as jobs:
        out = _cc_labels(connected_components(*_cc_path(spark, n)))
    assert out == oracle_clusters(list(range(n)), [(i, i + 1) for i in range(n - 1)])
    assert len(jobs) <= 300, len(jobs)


def test_cc_long_path_labels_on_driver_and_star_paths(spark, monkeypatch):
    """A 40-node path (diameter 39, far beyond a small round budget) gets
    all labels 0 when it finishes on the driver (no star round runs) and
    when L = 0 forces star rounds."""
    from localitysensitivesketch_spark.operators import cluster

    n = 40

    def _no_star(*a, **k):
        raise AssertionError("star rounds ran on a graph that fits")

    with monkeypatch.context() as m:
        m.setattr(cluster, "_star_rounds", _no_star)
        out = _cc_labels(cluster.connected_components(*_cc_path(spark, n)))
    assert len(out) == n and set(out.values()) == {0}

    _force_driver_limit(monkeypatch, 0)
    out = _cc_labels(cluster.connected_components(*_cc_path(spark, n)))
    assert len(out) == n and set(out.values()) == {0}


def test_cc_matches_oracle_on_random_graph_at_any_limit(spark, monkeypatch):
    """A random graph gets the union-find oracle's labels with L at its
    default (driver finish only), at 0 (star rounds only), and between
    the converged star size and the edge count, where star rounds run and
    then the driver finishes in one call."""
    from localitysensitivesketch_spark.operators import cluster
    from localitysensitivesketch_spark.oracle import oracle_clusters

    rng = np.random.default_rng(7)
    n = 300
    edges = [
        (int(a), int(b))
        for a, b in rng.integers(0, n, size=(250, 2))
        if a != b
    ]
    verts = spark.range(n).withColumnRenamed("id", "doc_id")
    edf = spark.createDataFrame(edges, "id1 long, id2 long")
    want = oracle_clusters(list(range(n)), edges)
    # converged star edge set = one (min, member) edge per non-min member
    stars = sum(1 for d, lab in want.items() if d != lab)
    assert stars < len({(min(e), max(e)) for e in edges})

    assert _cc_labels(cluster.connected_components(verts, edf)) == want
    _force_driver_limit(monkeypatch, 0)
    assert _cc_labels(cluster.connected_components(verts, edf)) == want

    _force_driver_limit(monkeypatch, stars)
    calls = []

    def spy(name, fn):
        return lambda *a, **k: calls.append(name) or fn(*a, **k)

    monkeypatch.setattr(cluster, "_star_rounds", spy("star", cluster._star_rounds))
    monkeypatch.setattr(
        cluster, "_driver_labels", spy("driver", cluster._driver_labels)
    )
    assert _cc_labels(cluster.connected_components(verts, edf)) == want
    assert calls == ["star", "driver"]


def test_cc_over_committed_edges_starts_at_most_two_jobs(
    spark, tmp_path, job_ids
):
    """connected_components over committed parquet edges decides and
    collects with one ``limit(L + 1).toArrow()``: at most 2 jobs start
    before its result is consumed (per-round label propagation started
    ≥ 10)."""
    from localitysensitivesketch_spark.operators.cluster import connected_components
    from localitysensitivesketch_spark.oracle import oracle_clusters

    rng = np.random.default_rng(3)
    n = 200
    edges = [(int(a), int(b)) for a, b in rng.integers(0, n, size=(120, 2))]
    path = str(tmp_path / "edges")
    spark.createDataFrame(edges, "id1 long, id2 long").write.parquet(path)
    committed = spark.read.parquet(path)
    verts = spark.range(n).withColumnRenamed("id", "doc_id")
    with job_ids("cc-committed-edges") as jobs:
        labels = connected_components(verts, committed)
    assert len(jobs) <= 2, len(jobs)
    assert _cc_labels(labels) == oracle_clusters(list(range(n)), edges)


def test_ngram_prefix_filter_is_exact(spark):
    """The prefix-filter join (recall-1.0 lemma) must return EXACTLY the
    brute-force all-pairs Jaccard result — no blocking key needed."""
    from itertools import combinations

    from localitysensitivesketch_spark.operators.dedup import ngram_jaccard_pairs

    corpus = generate_corpus(n_docs=120, seed=11, dup_fraction=0.5)
    docs = with_doc_id(corpus_to_spark(spark, corpus))
    rows = docs.select("doc_id", "text").collect()
    toks = {
        r["doc_id"]: set(r["text"].strip().lower().split()) for r in rows
    }
    t = 0.6
    expected = set()
    for a, b in combinations(sorted(toks), 2):
        inter = len(toks[a] & toks[b])
        union = len(toks[a] | toks[b])
        if union and round(inter / union, 6) >= t:
            expected.add((a, b))
    for strategy in ("prefix", "block", "auto"):
        got = {
            (r["id1"], r["id2"])
            for r in ngram_jaccard_pairs(docs, threshold=t, strategy=strategy).collect()
        }
        assert got == expected and expected, strategy  # both strategies exact


def test_ngram_auto_strategy_samples_without_widening(
    spark, tmp_path, job_ids
):
    """strategy="auto" decides on the input's own partitions: the sample
    job it runs at construction time has no round-robin exchange, so on a
    one-file input no stage of it fans out to the scheduler's parallelism
    (the widening shuffle is paid once, by the pair job)."""
    from localitysensitivesketch_spark.operators.dedup import ngram_jaccard_pairs

    path = str(tmp_path / "one_file")
    with_doc_id(
        corpus_to_spark(spark, generate_corpus(n_docs=200, seed=17))
    ).select("doc_id", "text").coalesce(1).write.parquet(path)
    docs = spark.read.parquet(path)
    assert docs.rdd.getNumPartitions() == 1

    with job_ids("ngram-auto-sample") as jobs:
        pairs = ngram_jaccard_pairs(docs, threshold=0.6, strategy="auto")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    tasks = [
        tracker.getStageInfo(s).numTasks
        for j in jobs
        for s in tracker.getJobInfo(j).stageIds
    ]
    assert jobs and tasks
    assert max(tasks) < sc.defaultParallelism, tasks
    # the pair job still finds the planted dups
    assert pairs.count() > 0


def test_minhash_estimator_variants(spark):
    """The four reference query strategies over the same pair: slots ≈ J,
    bands = f^(1/r), first_band ∈ {0,1}, closest picks the better of the
    two given the exact value."""
    from localitysensitivesketch_spark.operators.analytics import (
        minhash_estimate_for_pairs,
    )
    from localitysensitivesketch_spark.operators.dedup import minhash_lsh_dedup

    corpus = generate_corpus(n_docs=150, seed=13, dup_fraction=0.5)
    docs = with_doc_id(corpus_to_spark(spark, corpus))
    out = minhash_lsh_dedup(docs, CFG)
    sigs, verified = out["signatures"], out["verified"]
    pairs = verified.select("id1", "id2", "jaccard")
    ests = {}
    for est in ("slots", "bands", "first_band", "closest"):
        rows = minhash_estimate_for_pairs(pairs, sigs, estimator=est).collect()
        assert rows, est
        ests[est] = {(r["id1"], r["id2"]): r["est_jaccard"] for r in rows}
        assert all(0.0 <= v <= 1.0 for v in ests[est].values()), est
    assert set(ests["first_band"].values()) <= {0.0, 1.0}
    # every LSH candidate pair shares ≥... exact dups must estimate 1.0
    exacts = {(r["id1"], r["id2"]) for r in verified.filter("exact_match").collect()}
    for p in exacts:
        assert ests["slots"][p] == 1.0 and ests["bands"][p] == 1.0
    # closest is never worse than both single strategies
    truth = {(r["id1"], r["id2"]): r["jaccard"] for r in pairs.collect()}
    for p, t in truth.items():
        c, s, b = ests["closest"][p], ests["slots"][p], ests["bands"][p]
        assert abs(c - t) <= min(abs(s - t), abs(b - t)) + 1e-9
    import pytest as _pt

    with _pt.raises(ValueError):
        minhash_estimate_for_pairs(pairs, sigs, estimator="nope").collect()


def test_driver_contract_oracle_coverage():
    """Every queries() entry must have an oracle_sql() entry that DuckDB
    can parse (37/37 hash-checked — a dropped key silently regresses the
    correctness gate to rows-only)."""
    import duckdb

    import __spark_entry__ as E

    qs, os_ = set(E.queries()), E.oracle_sql()
    assert set(os_) == qs, qs ^ set(os_)
    con = duckdb.connect()
    for t in ("documents", "events", "embeddings", "orders", "customer",
              "nation", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('/root/testdata/sf0.01/{t}.parquet')"
        )
    for name, sql in os_.items():
        con.execute(f"SELECT * FROM ({sql}) LIMIT 0")  # parse/bind only


def test_cc_reliable_checkpoint_same_labels(spark, tmp_path, monkeypatch):
    """checkpoint_dir routes star-round truncation through reliable
    ``checkpoint()``: with L forced to 0 the rounds run with it enabled,
    the labels equal the localCheckpoint default and the oracle, and the
    checkpoint files land."""
    import os

    from localitysensitivesketch_spark.operators.cluster import connected_components
    from localitysensitivesketch_spark.oracle import oracle_clusters

    edges = [(i, i + 1) for i in range(0, 40, 2)] + [(1, 2), (10, 30)]
    edf = spark.createDataFrame(edges, "id1 long, id2 long")
    verts = spark.range(45).select(F.col("id").alias("doc_id"))
    ckdir = str(tmp_path / "cc_reliable")
    _force_driver_limit(monkeypatch, 0)
    base = _cc_labels(connected_components(verts, edf))
    rel = _cc_labels(connected_components(verts, edf, checkpoint_dir=ckdir))
    assert base == rel == oracle_clusters(list(range(45)), edges)
    assert os.listdir(ckdir)  # reliable checkpoint files actually landed


def test_token_stats_bpe_pretokenizer(spark):
    df = spark.createDataFrame(
        [(1, "don't stop, 123abc!!"), (2, "")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in T.token_stats(df, tokenizer="bpe").collect()}
    # don / ' / t / stop / , / 123 / abc / !!  -> 8 runs
    assert out[1]["n_tokens"] == 8
    assert out[1]["n_distinct_tokens"] == 8
    assert out[2]["n_tokens"] == 0 and out[2]["chars_per_token"] is None
    ws = {r["doc_id"]: r["n_tokens"] for r in T.token_stats(df).collect()}
    assert ws[1] == 3  # whitespace mode unchanged
    import pytest as _pytest
    with _pytest.raises(ValueError):
        T.token_stats(df, tokenizer="nope")


def test_url_canonicalization_rules(spark):
    from localitysensitivesketch_spark.operators.urls import normalize_urls

    cases = {
        "HTTP://WWW.Ex.COM:80/A/B/?z=1&a=2#frag": ("http://www.ex.com/A/B?a=2&z=1", "www.ex.com"),
        "https://Ex.com:443/": ("https://ex.com", "ex.com"),
        "https://ex.com:8443/x": ("https://ex.com:8443/x", "ex.com"),  # non-default port kept
        "http://ex.com/path?": ("http://ex.com/path", "ex.com"),       # bare ? dropped
        "not-a-url-opaque-id-123": ("not-a-url-opaque-id-123", ""),    # passthrough
        "ftp://Mixed.Case/KeepPathCase": ("ftp://mixed.case/KeepPathCase", "mixed.case"),
    }
    df = spark.createDataFrame([(i, u) for i, u in enumerate(cases)], "i long, url string")
    out = {r["url"]: (r["canonical_url"], r["host"]) for r in normalize_urls(df).collect()}
    for raw, want in cases.items():
        assert out[raw] == want, (raw, out[raw], want)


def test_url_canonical_collapses_recrawl_variants(spark):
    # the curation use: cosmetic variants of one page share a canonical key
    from localitysensitivesketch_spark.operators.urls import normalize_urls

    variants = [
        "http://A.com/p?x=1&y=2",
        "HTTP://a.COM/p/?y=2&x=1",
        "http://a.com:80/p?y=2&x=1#top",
    ]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(variants)], "i long, url string")
    canon = {r["canonical_url"] for r in normalize_urls(df).collect()}
    assert canon == {"http://a.com/p?x=1&y=2"}


def test_resume_partitioned_resume_false_recomputes(spark, tmp_path):
    """resume=False must recompute a committed sliced stage from scratch —
    committed data AND the slice ledger are stale by declaration (e.g. the
    input table was replaced; input data is not part of cfg_sha)."""
    from localitysensitivesketch_spark.operators.signatures import compute_signatures
    from localitysensitivesketch_spark.plans.pipeline import CheckpointStore

    corpus = generate_corpus(n_docs=40, seed=31)
    docs = with_doc_id(corpus_to_spark(spark, corpus)).cache()
    pk = F.pmod(F.xxhash64(F.col("doc_id").cast("long")), F.lit(256))

    def compute(sub):
        return compute_signatures(sub, CFG)

    store = CheckpointStore(spark, str(tmp_path / "ckpt_rf"), CFG)
    store.resume_partitioned("signatures", docs, compute, pk, n_slices=2)
    assert store.is_committed("signatures")

    # "replace the input": only the first 10 docs remain
    keep = docs.limit(10).cache()
    calls: list[int] = []
    out = store.resume_partitioned(
        "signatures", keep,
        lambda sub: calls.append(1) or compute(sub),
        pk, n_slices=2, resume=False,
    )
    assert len(calls) == 2  # both slices recomputed, nothing served stale
    assert out.count() == 10
    # and the DedupPipeline wiring honors resume=False on the sliced path
    p = DedupPipeline(spark, str(tmp_path / "ckpt_rf2"), CFG)
    p.run(docs, signature_slices=2)
    r2 = p.run(keep, resume=False, signature_slices=2)
    assert r2.clusters.count() == 10
    assert "signatures" in r2.stages_run


def test_merge_components_labels_unknown_endpoints(spark):
    """Edge endpoints absent from labels AND new_vertices must be labeled
    implicitly (never silently dropped through the inner joins)."""
    from localitysensitivesketch_spark.operators.cluster import merge_components

    labels = spark.createDataFrame([(1, 1), (2, 1)], "doc_id long, cluster_id long")
    edges = spark.createDataFrame([(2, 99)], "id1 long, id2 long")  # 99 unknown
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in merge_components(labels, edges).collect()
    }
    assert out == {1: 1, 2: 1, 99: 1}


def test_merge_components_pathological_batch_takes_shuffle_fallback(
    spark, monkeypatch, caplog
):
    """Round-4 guard (VERDICT #7): a batch whose endpoint set exceeds the
    driver limit L must take the shuffle-join fallback in code (no driver
    broadcast of a corpus-sized endpoint set) and still produce labels
    identical to the broadcast path / full recompute."""
    import logging
    import random

    from localitysensitivesketch_spark.operators import cluster
    from localitysensitivesketch_spark.oracle import oracle_clusters

    rng = random.Random(11)
    old_edges = [(rng.randrange(300), rng.randrange(300)) for _ in range(200)]
    # adversarial batch: touches most of the corpus
    new_edges = [(rng.randrange(320), rng.randrange(320)) for _ in range(400)]
    verts_old = spark.range(300).select(F.col("id").alias("doc_id"))
    verts_new = spark.range(320).select(F.col("id").alias("doc_id"))
    e_old = spark.createDataFrame(old_edges, "id1 long, id2 long")
    e_new = spark.createDataFrame(new_edges, "id1 long, id2 long")
    want = sorted(oracle_clusters(list(range(320)), old_edges + new_edges).items())

    labels_old = cluster.connected_components(verts_old, e_old)
    bcast = cluster.merge_components(labels_old, e_new, new_vertices=verts_new)
    assert sorted(bcast.collect()) == want
    # L = 10 forces the fallback (endpoint set is ~300 rows)
    _force_driver_limit(monkeypatch, 10)
    with caplog.at_level(logging.WARNING, logger=cluster.__name__):
        merged = cluster.merge_components(
            labels_old, e_new, new_vertices=verts_new
        )
    assert "falling back to shuffle joins" in caplog.text
    assert sorted(merged.collect()) == want


def test_ensure_min_partitions_widens_narrow_input_only(spark):
    from localitysensitivesketch_spark.session import ensure_min_partitions

    narrow = spark.range(100).coalesce(1)
    widened = ensure_min_partitions(narrow)
    assert widened.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    assert sorted(r.id for r in widened.collect()) == list(range(100))
    # already-wide input comes back untouched (no inserted shuffle)
    wide = spark.range(100).repartition(16)
    assert ensure_min_partitions(wide) is wide
    # explicit floor overrides the scheduler default
    assert ensure_min_partitions(narrow, 7).rdd.getNumPartitions() == 7


def test_signatures_over_a_join_start_no_job_at_plan_time(spark, tmp_path, job_ids):
    """Building compute_signatures over an input with an exchange (the
    curation funnel's quality-gated semi-join) starts no Spark job: the
    widening decision reads the plan, never ``.rdd``."""
    from localitysensitivesketch_spark.operators.signatures import (
        compute_signatures,
    )

    cfg = SketchConfig(n_hashes=16, bands=4, rows=4)
    path = str(tmp_path / "docs")
    with_doc_id(corpus_to_spark(spark, generate_corpus(60, seed=9))).write.parquet(
        path
    )
    docs = spark.read.parquet(path)
    passed = docs.join(
        docs.filter(F.col("doc_id") % 3 != 0).select("doc_id"), "doc_id", "left_semi"
    )
    with job_ids("signatures-over-semi-join") as ids:
        sigs = compute_signatures(passed, cfg)
    assert ids == []
    want = compute_signatures(docs, cfg).filter(F.col("doc_id") % 3 != 0)
    assert sorted(map(tuple, sigs.select("doc_id", "minhash").collect())) == sorted(
        map(tuple, want.select("doc_id", "minhash").collect())
    )


def test_signature_pass_parallelizes_single_partition_scan(spark):
    """A one-file/one-partition corpus must not serialize the Arrow
    signature kernel on a single core: compute_signatures widens the
    pruned rows to the scheduler's parallelism, and the signatures are
    identical either way (partition-layout invariance)."""
    from localitysensitivesketch_spark.operators.signatures import (
        compute_signatures,
    )

    cfg = SketchConfig(n_hashes=16, bands=4, rows=4)
    docs = with_doc_id(
        corpus_to_spark(spark, generate_corpus(120, seed=5))
    ).coalesce(1)
    sigs = compute_signatures(docs, cfg)
    assert sigs.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    a = {r.doc_id: r.minhash for r in sigs.collect()}
    b = {
        r.doc_id: r.minhash
        for r in compute_signatures(docs.repartition(8), cfg).collect()
    }
    assert a == b
