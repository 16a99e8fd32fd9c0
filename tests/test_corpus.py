"""Corpus-hygiene operators: C4 segment dedup, Gopher repetition ratios,
GPT-3 decontamination (operators/corpus.py)."""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from localitysensitivesketch_spark.operators import corpus as C

from .corpus_sql_reference import sql_kernels


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "a b c d\nx y z\na b c d"),
            (2, "x y z\nq r s"),
            (3, "unique line here\nanother one"),
        ],
        ["doc_id", "text"],
    )


def test_segment_dedup_stats_lines(spark):
    rows = {
        r["doc_id"]: r
        for r in C.segment_dedup_stats(_docs(spark), mode="lines").collect()
    }
    # "x y z" is the only segment in >= 2 distinct docs; the intra-doc
    # repeat "a b c d" does NOT count under scope="docs"
    assert rows[1]["n_segments"] == 3 and rows[1]["n_dup_segments"] == 1
    assert rows[2]["n_segments"] == 2 and rows[2]["n_dup_segments"] == 1
    assert rows[3]["n_dup_segments"] == 0
    assert abs(rows[2]["dup_segment_frac"] - 0.5) < 1e-9


def test_drop_duplicate_segments_c4_keep_first(spark):
    # C4 rule (scope="occurrences"): intra-doc repeats count; the single
    # keeper is the globally lowest (doc_id, pos)
    rows = {
        r["doc_id"]: r["clean_text"]
        for r in C.drop_duplicate_segments(_docs(spark), mode="lines").collect()
    }
    assert rows[1] == "a b c d\nx y z"
    assert rows[2] == "q r s"
    assert rows[3] == "unique line here\nanother one"


def test_drop_duplicate_segments_drop_all(spark):
    rows = {
        r["doc_id"]: r["clean_text"]
        for r in C.drop_duplicate_segments(
            _docs(spark), mode="lines", keep_first=False
        ).collect()
    }
    assert rows[1] == "" and rows[2] == "q r s"


def test_token_chunks_reconstruction_identity(spark):
    # with no duplicated chunks, clean_text round-trips the token stream
    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(23))), (2, "a b")],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r["clean_text"]
        for r in C.drop_duplicate_segments(df, chunk_tokens=10).collect()
    }
    assert rows[1] == " ".join(f"t{i}" for i in range(23))
    assert rows[2] == "a b"


def test_repetition_stats_known_counts(spark):
    df = spark.createDataFrame([(1, "a b a b a c"), (2, "x y")], ["doc_id", "text"])
    rows = {
        (r["doc_id"], r["gram_n"]): r
        for r in C.repetition_stats(df, ns=(2, 3)).collect()
    }
    # doc 1 bigrams: ab ba ab ba ac -> 5 total, 3 distinct, top=2
    r = rows[(1, 2)]
    assert r["n_grams"] == 5 and r["n_dup_grams"] == 2
    assert abs(r["dup_frac"] - 0.4) < 1e-9 and abs(r["top_frac"] - 0.4) < 1e-9
    # doc 1 trigrams: aba bab aba bac -> 4 total, dup 1, top 2/4
    r = rows[(1, 3)]
    assert r["n_grams"] == 4 and r["n_dup_grams"] == 1
    assert abs(r["top_frac"] - 0.5) < 1e-9
    # doc 2 has one bigram and no trigram row
    assert rows[(2, 2)]["n_grams"] == 1 and (2, 3) not in rows


def test_contamination_matches_bruteforce(spark):
    import random

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(12)]
    mk = lambda n: " ".join(rng.choice(vocab) for _ in range(n))
    train = [(i, mk(rng.randint(2, 30))) for i in range(40)]
    bench = [(100 + i, mk(rng.randint(5, 20))) for i in range(6)]
    n = 3

    def grams(text):
        t = text.split()
        return {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}

    ev = set(itertools.chain.from_iterable(grams(t) for _, t in bench))
    want = {
        i: len(grams(t) & ev) for i, t in train if grams(t) & ev
    }

    got = {
        r["doc_id"]: r["n_shared_grams"]
        for r in C.contamination_report(
            spark.createDataFrame(train, ["doc_id", "text"]),
            spark.createDataFrame(bench, ["doc_id", "text"]),
            n=n,
        ).collect()
    }
    assert got == want


def test_contamination_broadcasts_benchmark(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = C.contamination_report(
        docs.filter(F.col("source") != "src19"),
        docs.filter(F.col("source") == "src19"),
        n=4,
    )
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_gopher_filter_reasons_and_keep(spark):
    long_ok = " ".join(f"w{i}" for i in range(60))          # unique tokens
    repeated = " ".join(["dup gram"] * 40)                   # dup 2-grams + short toks? no: 80 tokens
    short = "too short"
    df = spark.createDataFrame(
        [(1, long_ok), (2, repeated), (3, short)], ["doc_id", "text"]
    )
    out = {r["doc_id"]: (r["keep"], r["reasons"]) for r in C.gopher_filter(
        df, min_tokens=10, min_stopword_ratio=0.0
    ).collect()}
    assert out[1] == (True, "")
    assert out[2][0] is False and "dup_2gram" in out[2][1]
    assert out[3][0] is False and "n_tokens" in out[3][1]
    # reasons are alphabetical, comma-joined
    for _, reasons in out.values():
        parts = reasons.split(",") if reasons else []
        assert parts == sorted(parts)


def test_gopher_filter_empty_text_null_ratio_rules_stay_silent(spark):
    # 0 chars → punct_ratio is 0/0: try_divide yields NULL, the rule must
    # not fire (no ANSI divide-by-zero error either); the doc still fails
    # the defined rules (n_tokens, chars_per_token = 0 < min)
    df = spark.createDataFrame([(1, ""), (2, "   ")], ["doc_id", "text"])
    out = {r["doc_id"]: r["reasons"] for r in C.gopher_filter(
        df, min_tokens=5, min_stopword_ratio=0.0
    ).collect()}
    for rs in out.values():
        assert "n_tokens" in rs
        assert "punct_ratio" not in rs
    assert "chars_per_token" in out[1]  # 0 chars / 1 token = 0 < min


def test_repetition_and_decontamination_method_parity(spark):
    """The Arrow kernels (mapInPandas Counter / rolling-hash grams) and
    their SQL reference forms (HOF explode) must give bit-identical
    operator outputs — the DuckDB oracle mirrors the SQL forms, so this
    pins the library's scans to the oracle."""
    docs = [
        (0, "a b a b a b c d e f"),
        (1, "x y z x y z x y z"),
        (2, "all distinct tokens in this one right here"),
        (3, "  leading ws a b a b  "),
        (4, "one"),
        (5, ""),
        (6, None),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "a b a b zz qq"), (101, "x y z unrelated")],
        "doc_id long, text string",
    )

    def outputs():
        reps = [
            sorted(map(tuple, C.repetition_stats(df, ns=ns).collect()))
            for ns in ((2, 3), (2,), (4,))
        ]
        cont = [
            sorted(map(tuple, C.contamination_report(df, bench, n=n).collect()))
            for n in (2, 3)
        ]
        return reps, cont

    a = outputs()
    with sql_kernels():
        s = outputs()
    assert a == s
    assert all(a[0]) and all(a[1])  # non-vacuous at every ns and n


def test_arrow_paths_support_string_ids(spark):
    """The SQL reference forms never constrained the id type; the Arrow
    kernels must not either (doc_id was once hard-coded int64)."""
    docs = [
        ("u/a", "a b a b a b c d e f"),
        ("u/b", "p q a b a b a b zz"),
        ("u/c", "all different words here now"),
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    bench = spark.createDataFrame(
        [("e/1", "a b a b zz"), ("e/2", "nothing shared")],
        "doc_id string, text string",
    )

    def outputs():
        return (
            sorted(map(tuple, C.repetition_stats(df, ns=(2,)).collect())),
            sorted(map(tuple, C.duplicate_span_hits(df, 3).collect())),
            sorted(map(tuple, C.contamination_report(df, bench, n=3).collect())),
        )

    a = outputs()
    with sql_kernels():
        s = outputs()
    assert a == s and all(a)
    assert {d for d, _ in a[2]} == {"u/a", "u/b"}
    out = {r["doc_id"]: r["tokens_removed"]
           for r in C.remove_duplicate_spans(df, 3).collect()}
    assert set(out) == {"u/a", "u/b", "u/c"} and sum(out.values()) > 0


def test_gopher_filter_method_parity(spark):
    """gopher_filter's single-pass Arrow count kernel must be
    bit-identical to its SQL reference form (the DuckDB oracle mirrors
    it) on real + adversarial rows: empty, whitespace, null text, BMP
    unicode, punctuation-heavy, repeated grams, single token,
    leading/trailing whitespace."""
    rows = [
        (1, " ".join(f"w{i}" for i in range(60))),
        (2, " ".join(["dup gram"] * 40)),
        (3, "too short"),
        (4, ""),
        (5, "   "),
        (6, None),
        (7, "the quick brown fox and the lazy dog of the house is in town"),
        (8, "über café naïve 中文 words mixed ünicode tokens here now ok"),
        (9, "!!! ??? ... ;;; ### $$$ %%% &&& *** ((( ))) @@@"),
        (10, "single"),
        (11, "  leading and trailing  spaces  around tokens  "),
        (12, "tabs\tand\nnewlines\rmixed\x0bwhitespace\x0cforms here ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(min_tokens=5, min_stopword_ratio=0.01)

    def outputs():
        return sorted(
            (r["doc_id"], r["keep"], r["reasons"])
            for r in C.gopher_filter(df, **kw).collect()
        )

    a = outputs()
    with sql_kernels():
        s = outputs()
    assert a == s
    assert len(a) == len(rows)  # null-text docs still present
    # the Arrow kernel is shuffle-free: no Exchange in the plan
    plan = (
        C.gopher_filter(df, **kw)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_drop_duplicate_segments_null_id_rows_still_deduped(spark):
    # the keeper exclusion is null-safe (mirrors the span path): a NULL
    # doc_id row's duplicate hits must not vanish through a NULL
    # comparison — its repeated lines are still removed
    df = spark.createDataFrame(
        [(1, "dup line\nkeep me"), (None, "dup line\nother text")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r["clean_text"]
        for r in C.drop_duplicate_segments(df, mode="lines").collect()
    }
    # keeper = globally lowest (doc_id, pos); NULL sorts FIRST in struct
    # min, so the NULL-id doc is the keeper and doc 1 loses the line —
    # the null-unsafe comparison silently kept BOTH copies
    assert rows[1] == "keep me"
    assert rows[None] == "dup line\nother text"
