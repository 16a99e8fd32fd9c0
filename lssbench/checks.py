"""Output checks.  Pure Python over collected rows, so a check runs no
Spark job and can be tested on hand-made (or deliberately corrupted)
results.  Each check returns a list of failure messages; empty means pass.
"""

from __future__ import annotations

MIN_RECALL = 0.99


def norm_pairs(pairs) -> set[tuple[int, int]]:
    """Unordered (id1, id2) pairs as ascending tuples."""
    return {(a, b) if a < b else (b, a) for a, b in pairs}


def pair_quality(edges: set, truth: dict, threshold: float, score_extra) -> dict:
    """Recall of planted pairs whose oracle Jaccard is ≥ ``threshold`` and
    precision of the emitted ``edges`` (share whose oracle Jaccard is ≥
    ``threshold``).  ``score_extra(pairs) -> {pair: jaccard}`` scores edges
    that are not planted pairs."""
    want = {p for p, j in truth.items() if j >= threshold}
    extra = [p for p in edges if p not in truth]
    scores = dict(truth)
    if extra:
        scores.update(score_extra(extra))
    good = sum(1 for p in edges if scores[p] >= threshold)
    return {
        "recall": len(want & edges) / len(want) if want else 1.0,
        "precision": good / len(edges) if edges else 1.0,
        "n_truth": len(want),
        "n_edges": len(edges),
        "n_false": len(edges) - good,
    }


def check_pair_quality(q: dict) -> list[str]:
    out = []
    if q["recall"] < MIN_RECALL:
        out.append(f"pair recall {q['recall']:.4f} < {MIN_RECALL} "
                   f"({q['n_truth']} planted pairs)")
    if q["precision"] < 1.0:
        out.append(f"pair precision {q['precision']:.4f} < 1.0 "
                   f"({q['n_false']} of {q['n_edges']} edges below threshold)")
    return out


def partition(labels) -> list[tuple[int, ...]]:
    """(doc_id, cluster_id) rows -> sorted list of sorted member tuples, so
    two labelings compare equal iff they group the same docs."""
    by: dict = {}
    for doc_id, cid in labels:
        by.setdefault(cid, []).append(doc_id)
    return sorted(tuple(sorted(m)) for m in by.values())


def check_clusters(labels, edges) -> list[str]:
    """Cluster labels agree with the edges they were built from: every doc
    is labelled once, both ends of every edge share a cluster, and every
    cluster id is the minimum doc id of its members."""
    out = []
    lab: dict = {}
    for doc_id, cid in labels:
        if doc_id in lab:
            out.append(f"doc {doc_id} labelled twice")
            break
        lab[doc_id] = cid
    split = [p for p in edges if lab.get(p[0]) != lab.get(p[1])]
    if split:
        out.append(f"{len(split)} edges cross clusters, e.g. {split[0]}")
    for members in partition(lab.items()):
        if lab[members[0]] != members[0]:
            out.append(f"cluster of {members[0]} is labelled {lab[members[0]]}")
            break
    return out


def check_stream_end_state(got_md5, want_md5, got_labels, want_labels) -> list[str]:
    """Streaming end state ≡ a batch spine over the same survivors."""
    out = []
    if sorted(got_md5) != sorted(want_md5):
        out.append(f"curated md5 set differs: stream {len(got_md5)} vs "
                   f"batch {len(want_md5)}")
    if partition(got_labels) != partition(want_labels):
        out.append("stream cluster partition differs from the batch spine's")
    return out


def check_funnel(audit_rows, near_dup_labels, spine_labels) -> list[str]:
    """Every audit row shrinks or keeps its input, and the near-dup tier's
    partition equals a separate spine run over the same survivors."""
    out = [
        f"audit row {stage}: n_out {n_out} > n_in {n_in}"
        for stage, n_in, n_out in audit_rows
        if n_out > n_in
    ]
    if not audit_rows:
        out.append("funnel audit is empty")
    if partition(near_dup_labels) != partition(spine_labels):
        out.append("near_dup partition differs from the spine's")
    return out
