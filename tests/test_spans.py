"""ExactSubstr-style sliding-window duplicate-span removal: python-loop
shadow oracle, keep-one semantics, merge behavior, C4-chunk contrast."""

from __future__ import annotations

import hashlib
from contextlib import nullcontext

import pytest
from pyspark.sql import functions as F

from localitysensitivesketch_spark.operators import corpus as C
from localitysensitivesketch_spark.operators.corpus import (
    duplicate_span_hits,
    duplicate_span_stats,
    remove_duplicate_spans,
    sliding_window_occurrences,
)

from .corpus_sql_reference import sql_kernels

W = 5

RUN = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"  # 10 toks
DOCS = [
    (0, f"start zero {RUN} tail zero ends"),
    (1, f"other head {RUN} and unrelated words here now"),
    (2, "totally distinct content with no shared runs at all everywhere"),
    (3, f"{RUN} {RUN}"),  # intra-doc repeat of the run
    (4, "tiny doc"),  # shorter than the window
]


def _shadow_hits(docs, w=W, scope="docs", keep_first=True):
    occ = []
    for doc_id, text in docs:
        toks = text.split()
        for p in range(len(toks) - w + 1):
            h = hashlib.md5(" ".join(toks[p : p + w]).encode()).hexdigest()
            occ.append((doc_id, p, h))
    by_h: dict[str, list[tuple[int, int]]] = {}
    for d, p, h in occ:
        by_h.setdefault(h, []).append((d, p))
    dup = {
        h
        for h, v in by_h.items()
        if (len({d for d, _ in v}) if scope == "docs" else len(v)) >= 2
    }
    hits = []
    for h in dup:
        v = sorted(by_h[h])
        hits.extend(v[1:] if keep_first else v)
    return sorted(hits)


def _shadow_removed(docs, w=W, **kw):
    hits = _shadow_hits(docs, w, **kw)
    per: dict[int, set[int]] = {}
    for d, p in hits:
        per.setdefault(d, set()).update(range(p, p + w))
    return per


@pytest.mark.parametrize("scope", ["docs", "occurrences"])
@pytest.mark.parametrize("scan", ["arrow", "sql"])
def test_span_hits_match_python_shadow(spark, scope, scan):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    with sql_kernels() if scan == "sql" else nullcontext():
        got = sorted(
            (r["doc_id"], r["pos"])
            for r in duplicate_span_hits(df, W, scope=scope).collect()
        )
    assert got == _shadow_hits(DOCS, scope=scope)


def test_remove_duplicate_spans_rebuild_matches_shadow(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    out = {r["doc_id"]: r for r in remove_duplicate_spans(df, W).collect()}
    removed = _shadow_removed(DOCS)
    for doc_id, text in DOCS:
        toks = text.split()
        cut = removed.get(doc_id, set())
        expect = " ".join(t for i, t in enumerate(toks) if i not in cut)
        r = out[doc_id]
        assert r["clean_text"] == expect, doc_id
        assert r["tokens_removed"] == len(cut)
        assert r["text"] == text  # raw text untouched
        # spans are disjoint, sorted, and cover exactly the cut set
        spans = [(s["start"], s["end"]) for s in r["spans"]]
        assert spans == sorted(spans)
        assert all(a2 > e1 for (_, e1), (a2, _) in zip(spans, spans[1:]))
        assert {i for a, e in spans for i in range(a, e)} == cut


def test_keep_first_leaves_one_global_copy(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    out = {r["doc_id"]: r for r in remove_duplicate_spans(df, W).collect()}
    # doc 0 holds the globally-first occurrence of the run: untouched
    assert out[0]["tokens_removed"] == 0 and out[0]["clean_text"] == DOCS[0][1]
    # docs 1 and 3 lose the full 10-token run (doc 3 loses both copies)
    assert out[1]["tokens_removed"] == 10
    assert out[3]["tokens_removed"] == 20 and out[3]["clean_text"] == ""
    # untouched docs
    assert out[2]["tokens_removed"] == 0 and out[4]["tokens_removed"] == 0


def test_span_stats_covers_all_docs(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {r["doc_id"]: r for r in duplicate_span_stats(df, W).collect()}
    assert set(got) == {d for d, _ in DOCS}
    assert got[1]["frac_removed"] == pytest.approx(10 / 9 / 1, abs=1)  # sanity
    assert got[2]["tokens_removed"] == 0 and got[2]["frac_removed"] == 0.0
    assert got[4]["n_tokens"] == 2 and got[4]["tokens_removed"] == 0


def test_sliding_beats_fixed_chunks_on_offset_dup(spark):
    """The motivating case vs drop_duplicate_segments: the same run at
    DIFFERENT offsets in two docs is invisible to fixed chunk boundaries
    but fully caught by sliding windows."""
    from localitysensitivesketch_spark.operators.corpus import (
        drop_duplicate_segments,
    )

    run = " ".join(f"w{i}" for i in range(10))
    docs = [(0, f"a b c {run} x y"), (1, f"p {run} q r s t")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    c4 = drop_duplicate_segments(df, mode="token_chunks", chunk_tokens=5)
    assert all(r["clean_text"] == r["text"] for r in c4.collect())  # misses it
    got = {r["doc_id"]: r for r in remove_duplicate_spans(df, 5).collect()}
    assert got[0]["tokens_removed"] == 0  # keeper
    assert got[1]["tokens_removed"] == 10


def test_window_occurrence_counts(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    occ = sliding_window_occurrences(df, W)
    per = {r["doc_id"]: r["n"] for r in occ.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    for doc_id, text in DOCS:
        n = len(text.split())
        if n >= W:
            assert per[doc_id] == n - W + 1
        else:
            assert doc_id not in per


def test_arrow_and_sql_paths_identical_on_adversarial_whitespace(spark):
    """The arrow scan reimplements split(trim(text), '\\s+') in python;
    pin bit-exact agreement with the SQL reference scan on the cases where
    python's default str.split would silently diverge (unicode NBSP, tabs,
    leading/trailing ASCII whitespace, empty/whitespace-only docs)."""
    docs = [
        (0, "plain alpha beta gamma delta alpha beta gamma delta"),
        (1, "  leading and trailing spaces alpha beta gamma delta  "),
        (2, "tab\tseparated alpha beta gamma delta here"),
        (3, "nbsp joined alpha beta gamma delta here"),  # NBSP != \s
        (4, "nl\nand\rcr alpha beta gamma delta here"),
        (5, "\tleading tab alpha beta gamma delta here"),
        (6, ""),
        (7, "   "),
        (8, "\t\t"),
        (9, None),
        (10, "plain alpha beta gamma delta alpha beta gamma delta"),  # dup of 0
        (11, "nbsp joined alpha beta gamma delta here"),  # dup of 3
        (12, "tab\tseparated alpha beta gamma delta here"),  # dup of 2
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for w in (2, 3):
        a = sorted(map(tuple, duplicate_span_hits(df, w).collect()))
        with sql_kernels():
            s = sorted(map(tuple, duplicate_span_hits(df, w).collect()))
        assert a == s, f"w={w}: arrow={a} sql={s}"
        assert a, f"w={w}: vacuous fixture"


def test_arrow_sql_identity_random_corpora(spark):
    """Randomized cross-check of the two scan implementations: shared
    token pool forces plenty of hash-grouped windows; every (doc_id, pos)
    hit and every per-doc tokens_removed must agree."""
    import random

    rng = random.Random(77)
    pool = [f"tok{i}" for i in range(8)]  # small pool => real collisions
    docs = []
    for d in range(40):
        n = rng.randint(0, 25)
        docs.append((d, " ".join(rng.choice(pool) for _ in range(n))))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    def outputs(w, scope):
        hits = sorted(
            map(tuple, duplicate_span_hits(df, w, scope=scope).collect())
        )
        removed = {
            r["doc_id"]: r["tokens_removed"]
            for r in duplicate_span_stats(df, w, scope=scope).collect()
        }
        return hits, removed

    for w, scope in ((3, "docs"), (4, "occurrences")):
        a = outputs(w, scope)
        with sql_kernels():
            s = outputs(w, scope)
        assert a == s
        assert sum(a[1].values()) > 0  # non-vacuous


def test_merged_spans_fold_matches_python_interval_merge(spark):
    """Property test for the codegen _merged_spans fold: 300 random
    sorted hit-position sets (one Spark job), each merged result must
    equal a plain-python interval merge — disjoint, sorted, covering
    exactly the union of hit windows."""
    import random

    from localitysensitivesketch_spark.operators.corpus import _merged_spans

    rng = random.Random(99)
    w = 4
    rows = []
    for i in range(300):
        n = rng.randint(0, 30)
        ps = sorted(set(rng.randint(0, 60) for _ in range(n)))
        rows.append((i, ps))
    df = spark.createDataFrame(rows, "id long, ps array<int>")
    got = {
        r["id"]: [(s["start"], s["end"]) for s in r["m"]]
        for r in df.select("id", _merged_spans(F.col("ps"), w).alias("m")).collect()
    }

    def merge(ps):
        out = []
        for p in ps:
            if out and p <= out[-1][1]:
                out[-1] = (out[-1][0], p + w)
            else:
                out.append((p, p + w))
        return out

    for i, ps in rows:
        assert got[i] == merge(ps), (i, ps, got[i])
        # invariants: sorted, disjoint, exact coverage
        cover = {x for a, e in got[i] for x in range(a, e)}
        assert cover == {x for p in ps for x in range(p, p + w)}


def test_span_hits_prefilter_parity_and_plan(spark, monkeypatch):
    """The singleton-window bloom pre-filter plan must (a) produce hit
    sets identical to the plain plan under both scopes and keep_first
    settings, and (b) actually place a might_contain probe before the
    join shuffle.  The size floor picks the plan; each is forced here."""
    from localitysensitivesketch_spark.functions.bloom import bloom_supported

    boiler = "subscribe to our newsletter terms of service apply here now"
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta gamma {boiler} delta epsilon zeta"),
            (2, f"one two three {boiler} four five six"),
            (3, "completely unrelated text with no shared windows at all ok"),
            (4, f"{boiler} prefix shared run and then unique tail words"),
            (5, None),
        ],
        "doc_id long, text string",
    )

    def hits(bloom, **kw):
        monkeypatch.setattr(C, "auto_prefilter_enabled", lambda df: bloom)
        return duplicate_span_hits(docs, window_tokens=5, **kw)

    for scope in ("docs", "occurrences"):
        for keep in (True, False):
            off = sorted(
                (r.doc_id, r.pos)
                for r in hits(False, scope=scope, keep_first=keep).collect()
            )
            on = sorted(
                (r.doc_id, r.pos)
                for r in hits(True, scope=scope, keep_first=keep).collect()
            )
            assert on == off, (scope, keep)
            assert off  # non-vacuous: the boilerplate run produces hits
    plain = hits(False)._jdf.queryExecution().executedPlan().toString()
    assert "might_contain" not in plain
    if bloom_supported(spark):
        plan = hits(True)._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan


def test_arrow_scan_survives_memo_buffer_growth(spark):
    """The arrow scan's token-id memo starts at an 8192-row buffer and
    grows by doubling; a task whose vocabulary crosses that boundary
    MID-DOC must keep indexing the re-grown buffer (regression: the
    gather once read the pre-growth array — IndexError at index 8192).
    One partition forces every doc through the same Python worker/memo."""
    w = 3
    n_vocab = 20_000  # > 2 growth steps past 8192
    # one long doc crossing the boundary mid-doc, plus a planted dup pair
    long_doc = " ".join(f"v{i}" for i in range(n_vocab))
    dup_run = "shared alpha beta gamma delta"
    docs = [
        (0, long_doc),
        (1, f"left pad {dup_run} one"),
        (2, f"{dup_run} other trailing words"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string").coalesce(1)
    occ = sliding_window_occurrences(df, w)
    # every window of every doc present, and the planted dup is found
    counts = {r["doc_id"]: r["n"] for r in
              occ.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert counts == {0: n_vocab - w + 1, 1: 6, 2: 6}
    hits = duplicate_span_hits(df, w, scope="docs", keep_first=False)
    got = {(r["doc_id"], r["pos"]) for r in hits.collect()}
    assert got == {(1, 2), (1, 3), (1, 4), (2, 0), (2, 1), (2, 2)}


def test_remove_spans_preserves_preexisting_toks_column(spark):
    """An input that already carries a __toks column must pass through
    untouched — the rebuild's temp token column is collision-checked."""
    df = spark.createDataFrame(DOCS, "doc_id long, text string").withColumn(
        "__toks", F.lit("sentinel")
    )
    out = remove_duplicate_spans(df, W)
    assert "__toks" in out.columns
    rows = out.collect()
    assert all(r["__toks"] == "sentinel" for r in rows)
    # and the rebuild still worked
    by_id = {r["doc_id"]: r for r in rows}
    assert by_id[1]["tokens_removed"] == 10
