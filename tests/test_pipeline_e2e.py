"""End-to-end: fixture corpus → signatures → candidates → verify → clusters.

Asserts against the O(n²) exact-Jaccard oracle (the shadow-map pattern,
SURVEY §5.2): dup-pair recall ≥ 0.99 at the pinned config, precision 1.0 by
construction, cluster labels == oracle union-find components.
"""

from __future__ import annotations

from fractions import Fraction

import pytest

from localitysensitivesketch_spark import oracle as O
from localitysensitivesketch_spark.config import SketchConfig
from localitysensitivesketch_spark.fixtures import corpus_to_spark, generate_corpus
from localitysensitivesketch_spark.operators.candidates import band_candidates
from localitysensitivesketch_spark.operators.cluster import (
    cluster_stats,
    connected_components,
)
from localitysensitivesketch_spark.operators.signatures import (
    compute_signatures,
    with_doc_id,
)
from localitysensitivesketch_spark.operators.verify import duplicate_edges, verify_pairs

CFG = SketchConfig()
N_DOCS = 400


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(n_docs=N_DOCS, seed=42)


@pytest.fixture(scope="module")
def docs_df(spark, corpus):
    return with_doc_id(corpus_to_spark(spark, corpus)).cache()


@pytest.fixture(scope="module")
def url_to_row(corpus):
    return {u: i for i, u in enumerate(corpus.url)}


def test_signatures_match_oracle(spark, corpus, docs_df):
    sigs = compute_signatures(docs_df, CFG).collect()
    by_id = {r.doc_id: r for r in sigs}
    ids = {r["url"]: r["doc_id"] for r in docs_df.select("url", "doc_id").collect()}
    assert len(sigs) == len(corpus)
    import numpy as np

    for i in (0, 1, 5, 50, len(corpus) - 1):
        row = by_id[ids[corpus.url[i]]]
        sh = O.oracle_shingles(corpus.text[i], CFG)
        want_sig = O.oracle_minhash(sh, CFG)
        got_sig = [x & 0xFFFFFFFFFFFFFFFF for x in np.asarray(row.minhash, dtype=np.int64).view(np.uint64).tolist()]
        assert got_sig == want_sig
        want_bk = O.oracle_band_keys(want_sig, CFG)
        got_bk = np.asarray(row.band_keys, dtype=np.int64).view(np.uint64).tolist()
        assert got_bk == want_bk
        assert (row.simhash & 0xFFFFFFFFFFFFFFFF) == O.oracle_simhash(
            corpus.text[i], CFG
        )
        assert row.n_shingles == len(sh)


def test_dedup_recall_and_precision(spark, corpus, docs_df):
    # oracle ground truth at the pinned threshold
    id_rows = docs_df.select("url", "doc_id").collect()
    url2id = {r.url: r.doc_id for r in id_rows}
    row2id = {i: url2id[corpus.url[i]] for i in range(len(corpus))}
    truth = set()
    oracle_pairs = O.oracle_truth_pairs(
        [(i, corpus.text[i]) for i in range(len(corpus))], CFG
    )
    for a, b, _j in oracle_pairs:
        i1, i2 = sorted((row2id[a], row2id[b]))
        truth.add((i1, i2))
    assert truth, "fixture must plant duplicate pairs"

    sigs = compute_signatures(docs_df, CFG).cache()
    cands, _metrics = band_candidates(sigs, CFG)
    verified = verify_pairs(cands, docs_df, CFG).cache()
    edges = duplicate_edges(verified, CFG)
    got = {(r.id1, r.id2) for r in edges.collect()}

    # precision 1.0 by construction (every emitted pair passed exact check)
    false_pos = got - truth
    assert not false_pos, f"precision violation: {len(false_pos)} false pairs"
    recall = len(got & truth) / len(truth)
    assert recall >= 0.99, f"recall {recall:.4f} < 0.99 ({len(truth)} truth pairs)"

    # every verified row against the oracle: jaccard is the exact shingle
    # Jaccard of the two texts, exact_match is byte equality, both tiers
    # occur, and no pair comes back twice
    text_of = dict(docs_df.select("doc_id", "text").collect())
    row_list = [tuple(r) for r in verified.select(
        "id1", "id2", "jaccard", "exact_match"
    ).collect()]
    rows = set(row_list)
    assert len(rows) == len(row_list) == len({r[:2] for r in rows})
    for id1, id2, jac, exact in rows:
        t1, t2 = text_of[id1], text_of[id2]
        assert jac == O.exact_jaccard(t1, t2, CFG), (id1, id2)
        assert exact == (t1 == t2), (id1, id2)
    assert {exact for *_, exact in rows} == {True, False}
    # near pairs are settled once per pair of canonical docs (the least
    # doc_id of each byte-identical group) and joined back: some near row
    # must name a non-canonical member, or that join-back goes untested
    canon: dict[str, int] = {}
    for i, t in text_of.items():
        if t is not None:
            canon[t] = min(i, canon.get(t, i))
    assert any(
        not exact and (canon[text_of[id1]] != id1 or canon[text_of[id2]] != id2)
        for id1, id2, _, exact in rows
    )

    # with signatures: exactly the rows that pass the shingle-count ratio
    # bound min(|A|,|B|) ≥ t·max(|A|,|B|), same jaccard, same edges
    t = Fraction(str(CFG.jaccard_threshold))
    ns = dict(sigs.select("doc_id", "n_shingles").collect())
    pruned = verify_pairs(cands, docs_df, CFG, signatures=sigs)
    pruned_rows = [tuple(r) for r in pruned.collect()]
    assert len(set(pruned_rows)) == len(pruned_rows)
    assert set(pruned_rows) == {
        r for r in rows
        if min(ns[r[0]], ns[r[1]]) >= t * max(ns[r[0]], ns[r[1]])
    }
    assert {tuple(r) for r in duplicate_edges(pruned, CFG).collect()} == got


def test_clusters_match_oracle_components(spark, corpus, docs_df):
    id_rows = docs_df.select("url", "doc_id").collect()
    url2id = {r.url: r.doc_id for r in id_rows}
    row2id = {i: url2id[corpus.url[i]] for i in range(len(corpus))}

    oracle_pairs = O.oracle_truth_pairs(
        [(i, corpus.text[i]) for i in range(len(corpus))], CFG
    )
    oracle_edges = [
        tuple(sorted((row2id[a], row2id[b]))) for a, b, _ in oracle_pairs
    ]
    want = O.oracle_clusters(list(row2id.values()), oracle_edges)

    sigs = compute_signatures(docs_df, CFG)
    cands, _ = band_candidates(sigs, CFG)
    verified = verify_pairs(cands, docs_df, CFG)
    edges = duplicate_edges(verified, CFG)
    labels = connected_components(docs_df.select("doc_id"), edges)
    got = {r.doc_id: r.cluster_id for r in labels.collect()}

    assert len(got) == len(want)
    # allow ≤1% of docs to differ (pairs LSH may miss at threshold boundary)
    diff = sum(1 for d in want if got[d] != want[d])
    assert diff <= max(1, int(0.01 * len(want))), f"{diff} label mismatches"


def test_cluster_stats_and_determinism(spark, corpus, docs_df):
    sigs = compute_signatures(docs_df, CFG)
    cands, _ = band_candidates(sigs, CFG)
    edges = duplicate_edges(verify_pairs(cands, docs_df, CFG), CFG)
    labels = connected_components(docs_df.select("doc_id"), edges)
    stats = cluster_stats(labels)
    r = stats.agg({"size": "sum"}).collect()[0][0]
    assert r == len(corpus)
    # canonical == cluster_id (min doc_id labeling)
    bad = stats.filter("canonical_doc_id != cluster_id").count()
    assert bad == 0

    # determinism across partitioning: same labels with different layout
    labels2 = connected_components(
        docs_df.select("doc_id").repartition(13), edges.repartition(7)
    )
    got1 = sorted((r.doc_id, r.cluster_id) for r in labels.collect())
    got2 = sorted((r.doc_id, r.cluster_id) for r in labels2.collect())
    assert got1 == got2


def test_recall_midscale_3000_docs(spark):
    """Recall >= 0.99 on threshold-confirmed planted pairs at 3k docs —
    the 400-doc oracle test's claim held at 7.5x the corpus (the full
    O(n^2) oracle is infeasible here; ground truth = planted pairs whose
    EXACT shingle Jaccard clears the pinned threshold)."""
    import numpy as np

    from localitysensitivesketch_spark.functions import hashing as H
    from localitysensitivesketch_spark.functions.text import tokenize

    corpus = generate_corpus(n_docs=3000, seed=77)
    docs = with_doc_id(corpus_to_spark(spark, corpus)).cache()
    url2id = {r["url"]: r["doc_id"] for r in docs.select("url", "doc_id").collect()}

    cache: dict = {}
    shingle_cache: dict = {}

    def shset(row):
        s = shingle_cache.get(row)
        if s is None:
            s = H.shingle_hashes(
                H.hash_tokens(tokenize(corpus.text[row], CFG.normalization), cache),
                CFG.shingle_k,
            )
            shingle_cache[row] = s
        return s

    truth = set()
    for a, b, kind in corpus.truth_pairs:
        if kind == "substring":
            continue
        s1, s2 = shset(a), shset(b)
        inter = np.intersect1d(s1, s2, assume_unique=True).size
        union = s1.size + s2.size - inter
        if union and inter / union >= CFG.jaccard_threshold:
            truth.add(tuple(sorted((url2id[corpus.url[a]], url2id[corpus.url[b]]))))
    assert len(truth) > 500, f"need substantial planted truth, got {len(truth)}"

    sigs = compute_signatures(docs, CFG).localCheckpoint(eager=True)
    cands, _ = band_candidates(sigs, CFG)
    edges = duplicate_edges(verify_pairs(cands, docs, CFG, signatures=sigs), CFG)
    got = {(r["id1"], r["id2"]) for r in edges.collect()}
    recall = len(got & truth) / len(truth)
    assert recall >= 0.99, f"midscale recall {recall:.4f} over {len(truth)} pairs"
