"""Corpus-level hygiene operators for a web-text training pipeline.

Operators a 100 TB pre-training pipeline runs alongside document dedup.
Each has an exact ANSI-SQL oracle; per-gram/per-window scans are
vectorized Arrow ``mapInPandas`` (Spark evaluates higher-order-function
lambdas interpreted per element — measured 18-40× slower than the Arrow
scans at 20k docs).  The pure-built-in SQL forms of those scans live in
``tests/corpus_sql_reference.py``, where parity tests pin the Arrow
counts bit-identical to them:

- **Cross-document segment dedup** (C4-style, Raffel et al. JMLR'20 §2.2
  "we discard all but one of any three-sentence span occurring more than
  once"): segment every document (newline lines, or fixed token windows
  for corpora without line structure), count how many *distinct* documents
  each segment occurs in, and report / strip the repeated ones.
- **Within-document repetition ratios** (Gopher, Rae et al. 2021 Table A1
  "repetition" filters): per-document fraction of duplicate n-grams and
  the most-frequent-n-gram share, the signal used to drop boilerplate and
  degenerate machine-generated pages.
- **Train/eval decontamination** (GPT-3, Brown et al. 2020 Appendix C):
  flag training documents sharing any token n-gram with a benchmark set.

The reference's analogue for all three is its fingerprint/key-projection
layer (``Sketching/LSSFingerprintAtomic.java:382-414`` fingerprint
compression; ``Ingest/Pub4PCapStreamKVTable.java:405-503`` key
projections): cheap per-record derivations whose cross-record structure is
recovered by hash-keyed aggregation — exactly the shape used here.

Scale notes (100 TB):

- Document TEXT never enters a shuffle.  Every exchange carries
  ``(doc_id, segment_hash)`` / ``(doc_id, gram)`` rows only; cleaned text
  is rebuilt document-side from a joined array of drop positions.
- Segment/gram aggregations are plain hash aggregates with map-side
  partial combine; the join back to per-document stats is a fact-dim join
  on the hash key (one aggregated row per hash on the build side), which
  AQE handles under skew (boilerplate segments are hot keys, but they are
  single aggregated rows after the first agg).
- Decontamination broadcasts the (distinct-hashed) benchmark gram set and
  filters the 100 TB side map-side *before* any shuffle — only matching
  grams ever move.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.bloom import bloom_build, bloom_supported, might_contain
from ..session import auto_prefilter_enabled, ensure_min_partitions


def _tokens(text_col: str) -> Column:
    return F.split(F.trim(F.col(text_col)), r"\s+")


# python replica of `_tokens` for Arrow scan paths, bit-exact vs Spark:
# SQL trim strips ONLY U+0020 spaces, Java regex \s is ASCII
# [ \t\n\x0B\f\r], and Spark's split keeps leading/trailing empties
# (limit -1) exactly like re.split — python str.split would instead also
# split U+00A0 etc. and drop empties, a silent divergence
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _py_tokens(text: str) -> list[str]:
    return _JAVA_WS.split(text.strip(" "))


def _segments(text_col: str, mode: str, chunk_tokens: int) -> Column:
    """Array of segment strings for one document.

    ``lines``: newline-delimited lines (the C4 unit for corpora that keep
    layout).  ``token_chunks``: consecutive non-overlapping windows of
    ``chunk_tokens`` whitespace tokens — the fallback for single-line text
    (this sandbox's corpus has no newlines).
    """
    if mode == "lines":
        return F.split(F.col(text_col), "\n")
    if mode != "token_chunks":
        raise ValueError(f"mode must be 'lines' or 'token_chunks', got {mode!r}")
    t = _tokens(text_col)
    n_chunks = F.ceil(F.size(t) / F.lit(float(chunk_tokens))).cast("int")
    # split() yields >=1 element, so n_chunks >= 1 and sequence() is safe
    return F.transform(
        F.sequence(F.lit(1), n_chunks),
        lambda i: F.array_join(
            F.slice(t, (i - F.lit(1)) * chunk_tokens + F.lit(1), chunk_tokens), " "
        ),
    )


def _seg_delim(mode: str) -> str:
    return "\n" if mode == "lines" else " "


def segment_occurrences(
    df: DataFrame,
    mode: str = "token_chunks",
    chunk_tokens: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, pos, h) — md5 of each segment with its position.

    The narrow per-segment row every downstream op joins on; text itself
    stays in the scan stage.
    """
    segs = _segments(text_col, mode, chunk_tokens)
    return df.select(
        F.col(id_col).alias("doc_id"), F.posexplode(segs).alias("pos", "seg")
    ).select("doc_id", "pos", F.md5("seg").alias("h"))


def duplicated_segments(
    occ: DataFrame, min_count: int = 2, scope: str = "docs"
) -> DataFrame:
    """(h, n) for repeated segments.

    ``scope="docs"``: n = distinct documents containing the segment
    (cross-document boilerplate; two-stage exact distinct count — dedup
    (h, doc_id) with map-side combine, then count per hash, no
    count_distinct row expansion).  ``scope="occurrences"``: n = total
    occurrences anywhere, C4's literal "span occurring more than once"
    rule, which also catches intra-document repeats.
    """
    if scope == "docs":
        base = occ.select("h", "doc_id").distinct()
    elif scope == "occurrences":
        base = occ.select("h")
    else:
        raise ValueError(f"scope must be 'docs' or 'occurrences', got {scope!r}")
    return (
        base.groupBy("h")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
    )


def segment_dedup_stats(
    df: DataFrame,
    mode: str = "token_chunks",
    chunk_tokens: int = 10,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document cross-corpus segment duplication stats.

    Output: (doc_id, n_segments, n_dup_segments, dup_segment_frac) where a
    segment is "dup" iff it occurs in >= ``min_docs`` distinct documents
    (its own included).  C4 JMLR'20 §2.2 reports exactly this fraction
    before stripping.
    """
    occ = segment_occurrences(df, mode, chunk_tokens, id_col, text_col)
    dup = duplicated_segments(occ, min_docs, scope="docs").select("h")
    flagged = occ.join(dup.withColumn("is_dup", F.lit(1)), "h", "left")
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segments"),
            F.coalesce(F.sum("is_dup"), F.lit(0)).alias("n_dup_segments"),
        )
        .withColumn(
            "dup_segment_frac",
            F.round(F.col("n_dup_segments") / F.col("n_segments"), 6),
        )
    )


def drop_duplicate_segments(
    df: DataFrame,
    mode: str = "token_chunks",
    chunk_tokens: int = 10,
    min_count: int = 2,
    scope: str = "occurrences",
    keep_first: bool = True,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4's transformation: remove every repeated segment from every doc,
    optionally keeping the single occurrence in the lowest (doc_id, pos).
    Default ``scope="occurrences"`` is C4's literal rule (intra-document
    repeats count too).

    Only ``(doc_id, pos)`` drop-lists cross the wire: the shuffle joins
    carry hashes and positions, then one array-typed column lands back on
    the document row and the cleaned text is rebuilt in the scan stage
    with an index-filtered ``array_join`` — document text never shuffles.
    """
    occ = segment_occurrences(df, mode, chunk_tokens, id_col, text_col)
    dup = duplicated_segments(occ, min_count, scope=scope).select("h")
    hits = occ.join(dup, "h")
    if keep_first:
        # global keeper per hash = min (doc_id, pos); drop all other hits
        keeper = hits.groupBy("h").agg(
            F.min(F.struct("doc_id", "pos")).alias("k")
        ).select("h", F.col("k.doc_id").alias("kdoc"), F.col("k.pos").alias("kpos"))
        # null-safe, matching the span path (corpus.py keep_first): a
        # NULL id row's hits must not vanish through a NULL comparison
        hits = hits.join(keeper, "h").filter(
            ~(
                F.col("doc_id").eqNullSafe(F.col("kdoc"))
                & F.col("pos").eqNullSafe(F.col("kpos"))
            )
        )
    drops = hits.groupBy("doc_id").agg(F.collect_list("pos").alias("drop_pos"))
    drops = drops.withColumnRenamed("doc_id", "__drop_doc_id")

    segs = _segments(text_col, mode, chunk_tokens)
    out = df.join(
        drops, F.col(id_col) == F.col("__drop_doc_id"), "left"
    ).drop("__drop_doc_id")
    kept = F.filter(
        segs,
        lambda s, i: ~F.array_contains(
            F.coalesce(F.col("drop_pos"), F.array().cast("array<int>")), i
        ),
    )
    return out.withColumn(
        "clean_text", F.array_join(kept, _seg_delim(mode))
    ).drop("drop_pos")


def _repetition_counts(
    df: DataFrame, ns: tuple[int, ...], id_col: str, text_col: str
) -> DataFrame:
    """(doc_id, gram_n, n_grams, n_dup_grams, top_c) per (doc, n) in one
    ``mapInPandas`` pass — an exact ``Counter`` over token n-gram tuples
    per doc (no hashing shortcuts), ZERO shuffles, and none of the
    interpreted higher-order-function cost of the SQL explode form
    (measured ~18× at 20k docs).  Docs shorter than n tokens, and
    null-text docs, emit no row for that n."""
    ns_tuple = tuple(int(n) for n in ns)

    def per_doc(batches):
        from collections import Counter

        import pandas as pd

        for pdf in batches:
            doc_out, n_out, g_out, d_out, t_out = [], [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                toks = _py_tokens(text)
                for n in ns_tuple:
                    m = len(toks) - n + 1
                    if m <= 0:
                        continue
                    c = Counter(zip(*(toks[i:] for i in range(n))))
                    doc_out.append(doc_id)
                    n_out.append(n)
                    g_out.append(m)
                    d_out.append(m - len(c))
                    t_out.append(max(c.values()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc_out),
                    "gram_n": pd.Series(n_out, dtype="int32"),
                    "n_grams": pd.Series(g_out, dtype="int64"),
                    "n_dup_grams": pd.Series(d_out, dtype="int64"),
                    "top_c": pd.Series(t_out, dtype="int64"),
                }
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return ensure_min_partitions(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    ).mapInPandas(
        per_doc,
        f"doc_id {id_type}, gram_n int, n_grams long, n_dup_grams long, "
        "top_c long",
    )


def repetition_stats(
    df: DataFrame,
    ns: tuple[int, ...] = (2, 3),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style within-document repetition ratios, long format.

    Output per (doc, n): (doc_id, gram_n, n_grams, n_dup_grams, dup_frac,
    top_frac) where ``n_dup_grams`` counts occurrences beyond each gram's
    first (Gopher's "fraction of duplicate n-grams") and ``top_frac`` is
    the most frequent n-gram's share.  Docs shorter than n tokens emit no
    row for that n.

    The statistic is strictly per-document, so the integer counts come
    from one Arrow pass (:func:`_repetition_counts`); the ratio/rounding
    tail stays JVM-side, so the DuckDB oracle pins it exactly.
    """
    return _repetition_counts(df, ns, id_col, text_col).select(
        "doc_id",
        "gram_n",
        "n_grams",
        "n_dup_grams",
        F.round(F.col("n_dup_grams") / F.col("n_grams"), 6).alias("dup_frac"),
        F.round(F.col("top_c") / F.col("n_grams"), 6).alias("top_frac"),
    )


def contamination_report(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """GPT-3-style decontamination: training docs sharing >= 1 token
    n-gram with the benchmark set (Brown et al. 2020 Appendix C uses
    13-grams; pass a smaller n for low-entropy corpora — this sandbox's
    31-token vocabulary needs n=4 to be non-degenerate).

    Output: (doc_id, n_shared_grams) — distinct contaminated grams per
    flagged training doc.  The benchmark gram set is distinct-hashed and
    **broadcast**, so the training side is filtered map-side before its
    only shuffle (the distinct on surviving (doc_id, h) pairs): at 100 TB
    the full-corpus side never exchanges a non-matching row.  A token
    n-gram IS a sliding window, so both sides hash their grams with the
    rolling-hash scan of :func:`sliding_window_occurrences` (docs with
    < n tokens emit nothing).
    """
    ev = sliding_window_occurrences(benchmark, n, id_col, text_col)
    tr = sliding_window_occurrences(train, n, id_col, text_col)
    ev = ev.select("h").distinct()
    return (
        tr.join(F.broadcast(ev), "h")
        .select("doc_id", "h")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_grams"))
    )


_GOPHER_STOPWORDS = ("the", "and", "of", "to", "in", "a", "is")


def _gopher_doc_counts_arrow(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """One ``mapInPandas`` pass computing EVERY per-doc integer count the
    quality gate needs (token/char/punct/stopword counts + 2/3-gram
    totals and dup counts); the ratio/round tail stays JVM-side.  The
    python count replicas are ASCII-exact vs the Spark SQL expressions
    (``tests/corpus_sql_reference.py``, pinned by parity tests)
    (:func:`_py_tokens` tokenizer; ``re.ASCII`` classes match Java's
    default ASCII ``\\w``/``\\s``; ``len(text)`` matches ``F.length``'s
    code-point count).  Null-text docs emit all-NULL counts — they must
    still appear in the gate output, where every NULL ratio leaves its
    rule unfired."""
    punct_re = re.compile(r"[^\w\s]", re.ASCII)
    sw = frozenset(_GOPHER_STOPWORDS)

    def per_doc(batches):
        from collections import Counter

        import pandas as pd

        cols = ("n_tokens", "n_chars", "n_punct", "n_stop",
                "g2", "d2", "g3", "d3")
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in ("doc_id", *cols)}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                out["doc_id"].append(doc_id)
                if text is None:
                    for c in cols:
                        out[c].append(None)
                    continue
                toks = _py_tokens(text)
                out["n_tokens"].append(len(toks))
                out["n_chars"].append(len(text))
                out["n_punct"].append(len(punct_re.findall(text)))
                out["n_stop"].append(
                    sum(1 for t in _py_tokens(text.lower()) if t in sw)
                )
                for n, gk, dk in ((2, "g2", "d2"), (3, "g3", "d3")):
                    m = len(toks) - n + 1
                    if m <= 0:
                        out[gk].append(None)
                        out[dk].append(None)
                        continue
                    c = Counter(zip(*(toks[i:] for i in range(n))))
                    out[gk].append(m)
                    out[dk].append(m - len(c))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out["doc_id"]),
                    **{c: pd.Series(out[c], dtype="Int64") for c in cols},
                }
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return ensure_min_partitions(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    ).mapInPandas(
        per_doc,
        f"doc_id {id_type}, n_tokens long, n_chars long, n_punct long, "
        "n_stop long, g2 long, d2 long, g3 long, d3 long",
    )


def gopher_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_chars_per_token: float = 3.0,
    max_chars_per_token: float = 10.0,
    max_punct_ratio: float = 0.2,
    min_stopword_ratio: float = 0.01,
    max_dup_2gram_frac: float = 0.20,
    max_dup_3gram_frac: float = 0.18,
) -> DataFrame:
    """Gopher-style quality gate (Rae et al. 2021 Table A1 shape): every
    rule evaluated per document, composed into one keep/drop decision with
    the failed-rule slugs kept for auditability — the filter stage a
    training pipeline runs between hygiene stats and dedup.  Default
    thresholds follow the paper's ballpark; they are pinned config, not a
    claim of exact parity with its full rule table.

    Output: (doc_id, keep boolean, reasons string) — ``reasons`` is the
    comma-joined failed slugs in fixed alphabetical order (empty string
    when keep), so the result is deterministic and SQL-comparable.

    ONE vectorized per-doc pass computes every integer count the rules
    need (:func:`_gopher_doc_counts_arrow`) — a single text scan, ZERO
    shuffles, and none of the interpreted higher-order-function cost of
    the per-token stopword lambda / per-gram explode (the same 18-40×
    class :func:`repetition_stats` documents).  The ratio/round tail is
    a JVM expression, and a row whose ratio is undefined (empty/null
    text) never fires that ratio's rule: ``try_divide`` yields NULL
    instead of an ANSI divide-by-zero error, and such docs still fail
    the n_tokens rule.
    """
    counts = _gopher_doc_counts_arrow(df, id_col, text_col)
    j = counts.select(
        "doc_id",
        "n_tokens",
        F.try_divide("n_chars", "n_tokens").alias("chars_per_token"),
        F.try_divide("n_punct", "n_chars").alias("punct_ratio"),
        F.try_divide("n_stop", "n_tokens").alias("stopword_ratio"),
        F.round(F.col("d2") / F.col("g2"), 6).alias("dup2"),
        F.round(F.col("d3") / F.col("g3"), 6).alias("dup3"),
    )
    # slugs in fixed alphabetical order so reasons is deterministic and
    # reproducible in plain SQL without a sort
    checks = [
        ("chars_per_token",
         (F.col("chars_per_token") < min_chars_per_token)
         | (F.col("chars_per_token") > max_chars_per_token)),
        ("dup_2gram", F.coalesce(F.col("dup2"), F.lit(0.0)) > max_dup_2gram_frac),
        ("dup_3gram", F.coalesce(F.col("dup3"), F.lit(0.0)) > max_dup_3gram_frac),
        ("n_tokens",
         (F.col("n_tokens") < min_tokens) | (F.col("n_tokens") > max_tokens)),
        ("punct_ratio", F.col("punct_ratio") > max_punct_ratio),
        ("stopword_ratio", F.col("stopword_ratio") < min_stopword_ratio),
    ]
    reasons = F.array_compact(
        F.array(*[F.when(cond, F.lit(slug)) for slug, cond in checks])
    )
    return j.select(
        "doc_id",
        (F.size(reasons) == 0).alias("keep"),
        F.concat_ws(",", reasons).alias("reasons"),
    )


# ---------------------------------------------------------------------------
# ExactSubstr-style sliding-window duplicate-span removal
# ---------------------------------------------------------------------------


def sliding_window_occurrences(
    df: DataFrame,
    window_tokens: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, pos, h) for EVERY ``window_tokens``-token sliding window
    (pos is the 0-based token offset; h is a 16-byte content hash of the
    window's token sequence — hash-equality is span-equality for any
    realistic corpus, and only this 16-byte hash ever moves: the window
    text is transient inside the scan stage).

    This is the Spark-first realization of the ExactSubstr scan (Lee et
    al., "Deduplicating Training Data Makes Language Models Better", ACL
    2022 §4.1): their single-machine suffix array becomes ~n narrow
    ``(long, int, binary16)`` rows per document feeding a plain hash
    aggregation — embarrassingly parallel, no co-location, no driver
    state.

    Arrow-batched ``mapInPandas``.  Each distinct token is hashed ONCE
    (blake2b-128, memoized per batch), then every window hash is a pair
    of independent polynomial rolling hashes over the token ids,
    evaluated via modular-inverse prefix sums in numpy with natural
    uint64 wraparound — O(n) token hashes + O(n) word-ops per doc
    instead of O(n·w) string building + O(n) md5 calls.  Measured ~40×
    the pure built-in ``transform`` + ``md5`` expression (Spark evaluates
    higher-order-function lambdas interpreted, per element — the
    per-window ``slice``+``array_join``+``md5`` costs ~90 µs/window;
    same pitfall as row-Python UDFs but JVM-side).  Same hash-collision
    stance as the winnowing pass (``operators/substring.py``): 128
    independent polynomial bits ⇒ cross-window collisions are negligible
    at any corpus size.  Only equality of ``h`` is meaningful: the md5
    form the DuckDB oracle mirrors yields the same (doc_id, pos)
    duplicate sets with different hash bytes.
    """
    w = int(window_tokens)

    def scan(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        # memoized token -> row index into a growable (cap, 2) uint64 id
        # array: one blake2b-128 per DISTINCT token, and the per-doc id
        # matrix is a single fancy-index GATHER instead of
        # np.array(list-of-tuples) (which iterates Python tuples —
        # profiled ~300 µs/doc at 384 tokens, the scan's hottest line).
        # dict.__missing__ keeps cache hits a single C-level dict access.
        # The memo lives for the task (all its batches) but is BOUNDED:
        # the dict is cleared between docs past 1 M entries (the id rows
        # already handed out stay valid — the buffer only ever appends
        # within a doc; after a clear new tokens reuse rows from 0).
        ids_buf = [np.empty((8192, 2), dtype=np.uint64)]
        n_ids = [0]

        class _Memo(dict):
            def __missing__(self, tok: str) -> int:
                i = n_ids[0]
                buf = ids_buf[0]
                if i >= len(buf):
                    nb = np.empty((2 * len(buf), 2), dtype=np.uint64)
                    nb[:i] = buf
                    ids_buf[0] = buf = nb
                d = hashlib.blake2b(tok.encode(), digest_size=16).digest()
                buf[i, 0] = int.from_bytes(d[:8], "big")
                buf[i, 1] = int.from_bytes(d[8:], "big")
                n_ids[0] = i + 1
                self[tok] = i
                return i

        cache = _Memo()

        # two independent odd bases.  h_i = Σ_j a_{i+j}·B^{w-1-j} is
        # evaluated in O(1) per window via prefix sums instead of the
        # O(w) sliding dot product: B odd ⇒ invertible mod 2^64, so
        # h_i = B^{w-1}·B^i·(P_{i+w} − P_i) with P_k = Σ_{u<k} a_u·Binv^u
        # — algebraically identical mod 2^64, so the hash BYTES are
        # bit-for-bit what the dot product produced (same trick as
        # ``functions/hashing.rolling_window_hashes``; measured 5.5× on
        # the w=50 hash arithmetic).  Power vectors are cached across
        # docs, grown by doubling to the longest doc the task has seen.
        B1, B2 = 0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F
        I1, I2 = pow(B1, -1, 1 << 64), pow(B2, -1, 1 << 64)
        PL1 = np.uint64(pow(B1, w - 1, 1 << 64))
        PL2 = np.uint64(pow(B2, w - 1, 1 << 64))
        _pows: list[np.ndarray] = []
        # cached power vectors are 4 × 8 B/token; without a ceiling one
        # pathological multi-million-token doc would pin its full-length
        # vectors in every long-lived worker that saw it.  Docs longer
        # than the cap get transient vectors (built, used, dropped) so
        # the resident cache stays ≤ 32 MB.
        _POW_CACHE_CAP = 1_000_000

        def _build_pows(cap: int) -> list[np.ndarray]:
            out = []
            for base in (B1, I1, B2, I2):
                p = np.empty(cap, dtype=np.uint64)
                p[0] = 1
                np.multiply.accumulate(
                    np.full(cap - 1, base, dtype=np.uint64), out=p[1:]
                )
                out.append(p)
            return out

        def powers(n: int) -> list[np.ndarray]:
            # [B1^k, Binv1^k, B2^k, Binv2^k] for k < n (each ≥ n long)
            if n > _POW_CACHE_CAP:
                return _build_pows(n)  # transient — never cached
            if not _pows or len(_pows[0]) < n:
                cap = min(
                    _POW_CACHE_CAP,
                    max(n, 2 * (len(_pows[0]) if _pows else 1024)),
                )
                _pows[:] = _build_pows(cap)
            return _pows

        def win_hashes(col: np.ndarray, inv: np.ndarray, bp: np.ndarray,
                       pl: np.uint64, n: int, m: int) -> np.ndarray:
            P = np.zeros(n + 1, dtype=np.uint64)
            np.add.accumulate(col * inv[:n], out=P[1:])
            return (P[w:] - P[:m]) * bp[:m] * pl

        for pdf in batches:
            # dtype dispatch: integer ids keep the fully-vectorized
            # np.full/concatenate path (the dominant bigint case — no
            # per-window Python boxing); other Arrow-compatible id types
            # fall back to a python list
            int_ids = pd.api.types.is_integer_dtype(pdf["doc_id"])
            doc_out: list = []
            pos_out: list[np.ndarray] = []
            h_out: list[bytes] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                toks = _py_tokens(text)  # bit-exact vs split(trim(text))
                n = len(toks)
                if n < w:
                    continue
                if len(cache) >= 1_000_000:
                    cache.clear()
                    n_ids[0] = 0
                # NB: build idx BEFORE reading ids_buf[0] — a cache miss
                # inside the comprehension can reallocate the buffer
                idx = np.array([cache[t] for t in toks], dtype=np.int64)
                a = ids_buf[0][idx]  # (n, 2) gather
                m = n - w + 1
                b1p, i1p, b2p, i2p = powers(n)
                with np.errstate(over="ignore"):
                    h1 = win_hashes(a[:, 0], i1p, b1p, PL1, n, m)
                    h2 = win_hashes(a[:, 1], i2p, b2p, PL2, n, m)
                buf = np.empty((m, 16), dtype=np.uint8)
                buf[:, :8] = h1.astype(">u8").view(np.uint8).reshape(m, 8)
                buf[:, 8:] = h2.astype(">u8").view(np.uint8).reshape(m, 8)
                if int_ids:
                    doc_out.append(np.full(m, doc_id, dtype=np.int64))
                else:
                    doc_out.extend([doc_id] * m)
                pos_out.append(np.arange(m, dtype=np.int32))
                raw = buf.tobytes()
                h_out.extend(raw[i << 4 : (i + 1) << 4] for i in range(m))
            if int_ids:
                doc_col = pd.Series(
                    np.concatenate(doc_out)
                    if doc_out
                    else np.array([], dtype=np.int64)
                )
            else:
                doc_col = pd.Series(doc_out, dtype=object)
            yield pd.DataFrame(
                {
                    "doc_id": doc_col,
                    "pos": pd.Series(
                        np.concatenate(pos_out)
                        if pos_out
                        else np.array([], dtype=np.int32)
                    ),
                    "h": h_out,
                }
            )

    # the id column keeps its incoming Spark type: any joinable id
    # works, not just bigint
    id_type = df.schema[id_col].dataType.simpleString()
    pruned = ensure_min_partitions(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    )
    return pruned.mapInPandas(scan, f"doc_id {id_type}, pos int, h binary")


def duplicate_span_hits(
    df: DataFrame,
    window_tokens: int = 50,
    scope: str = "docs",
    keep_first: bool = True,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, pos) occurrences of duplicated ``window_tokens``-token
    windows — the positions :func:`remove_duplicate_spans` cuts.

    ``scope="docs"`` (ExactSubstr's rule): a window is duplicated when it
    occurs in ≥2 distinct documents.  ``"occurrences"``: ≥2 occurrences
    anywhere, intra-document repeats included.  ``keep_first=True``
    exempts the globally-first occurrence per window hash (min (doc_id,
    pos)) — Lee et al. remove the span from all but one document.  The
    guarantee is positional, per WINDOW: when duplicated windows overlap,
    a keeper window's tokens can still be cut by a DIFFERENT duplicated
    window's hit on the same positions, so a span at the intersection of
    several duplicate families may survive intact nowhere (same property
    as the reference ExactSubstr implementation, which cuts the union of
    duplicated ranges).

    Plain plan (inputs estimated below the bloom floor): ONE hash
    aggregation over (h) computes dup-ness AND the keeper (min (doc_id,
    pos)) together with map-side combine, then a fact-dim join of
    occurrences against the aggregated dup rows (hot boilerplate hashes
    are single rows after the agg; AQE handles residual skew).  Text
    never moves.  The window scan itself executes exactly twice (agg
    side + join side) — at corpus scale that re-scan is the right trade
    against materializing O(total-tokens) hash rows.

    Bloom plan (inputs at or above the floor, or of unknown size, when
    the bloom expressions are available) adds the singleton-window
    pre-filter — the reference's filter-before-shuffle pattern
    (``Pub4PCapStreamKVTable.java:360-374``): windows whose hash occurs
    ONCE globally (the overwhelming majority of a real corpus) would
    otherwise ride the full join shuffle just to be dropped by it.
    Two-pass shape: (1) aggregate hash-only dup-ness (no keeper, so
    ``pos`` stays out of the shuffle); (2) build a distributed bloom
    filter over the dup hashes (bounded bytes on the driver; FPs
    harmless — the exact join stays), probe it MAP-SIDE on the re-scan
    so only dup-hash occurrences enter the join shuffle, and compute the
    keeper over those hits (min over a dup hash's hits ≡ min over all
    its occurrences).  Both plans give identical outputs (pinned by
    tests); only shuffle bytes change.
    """
    occ = sliding_window_occurrences(df, window_tokens, id_col, text_col)
    # dup-ness aggregates: "≥2 distinct docs" ⟺ min(doc_id) != max(doc_id),
    # which is a plain single-phase partial aggregation — count_distinct
    # plans as a two-level aggregate keyed on (h, doc_id).  NULL ids match
    # count_distinct semantics exactly: min/max ignore NULLs, and an
    # all-NULL group compares NULL != NULL → filtered, same as
    # count_distinct = 0 < 2.
    if scope == "docs":
        dup_aggs = [
            F.min("doc_id").alias("_d0"), F.max("doc_id").alias("_d1")
        ]
        dup_cond = F.col("_d0") != F.col("_d1")
    elif scope == "occurrences":
        dup_aggs = [F.count(F.lit(1)).alias("_d0")]
        dup_cond = F.col("_d0") >= 2
    else:
        raise ValueError(f"scope must be 'docs' or 'occurrences', got {scope!r}")

    # the bloom plan only past a corpus-size floor: on tiny inputs the
    # filter's fixed extra stages cost ~4× the whole query for zero
    # shuffle saved (r4: 0.55 s → 2.2 s at 5k docs), while at 200k docs
    # it cut shuffle writes 47%.  Unknown size ⇒ assume large (the scale
    # path must stay on by default).
    if auto_prefilter_enabled(df) and bloom_supported(df.sparkSession):
        # pass 1: dup-ness only — the narrowest possible shuffle rows
        # (per-partition-combined (h, min, max) / (h, n) rows)
        dup_h = (
            occ.groupBy("h").agg(*dup_aggs).filter(dup_cond).select("h")
        )
        # two consumers (bloom agg + exact join) of an expensive agg —
        # materialize once; dup-hash rows are the SMALL side by design
        dup_h = dup_h.localCheckpoint(eager=True)
        n_dup = dup_h.count()
        bloom_bytes = (
            bloom_build(
                dup_h.select(F.xxhash64("h").alias("hk")), "hk",
                expected_items=max(n_dup, 1),
            )
            if n_dup
            else None
        )
        occ_probe = occ
        if bloom_bytes is not None:
            occ_hk = occ.withColumn("hk", F.xxhash64("h"))
            pred = might_contain(occ_hk, "hk", bloom_bytes)
            if pred is not None:
                occ_probe = occ_hk.filter(pred).drop("hk")
        # pass 2: exact join (removes bloom FPs) over the pre-filtered
        # re-scan, keeper computed from the (small) dup hits
        hits_all = occ_probe.join(dup_h, "h")
        if keep_first:
            k = hits_all.groupBy("h").agg(
                F.min(F.struct("doc_id", "pos")).alias("k")
            )
            hits_all = (
                hits_all.join(k, "h")
                .filter(
                    ~(
                        F.col("doc_id").eqNullSafe(F.col("k.doc_id"))
                        & F.col("pos").eqNullSafe(F.col("k.pos"))
                    )
                )
            )
        return hits_all.select("doc_id", "pos")

    dup = (
        occ.groupBy("h")
        .agg(*dup_aggs, F.min(F.struct("doc_id", "pos")).alias("k"))
        .filter(dup_cond)
        .select(
            "h", F.col("k.doc_id").alias("kdoc"), F.col("k.pos").alias("kpos")
        )
    )
    hits = occ.join(dup, "h")
    if keep_first:
        # keeper = global min (doc_id, pos) among ALL occurrences of a dup
        # hash — identical to a min over dup hits only, so it rides the
        # same aggregation.  Null-SAFE exclusion: a NULL doc_id must not
        # silently drop its dup hits (plain != evaluates to NULL there)
        hits = hits.filter(
            ~(
                F.col("doc_id").eqNullSafe(F.col("kdoc"))
                & F.col("pos").eqNullSafe(F.col("kpos"))
            )
        )
    return hits.select("doc_id", "pos")


def _merged_spans(ps: Column, window_tokens: int) -> Column:
    """Sorted hit positions → disjoint merged token spans
    array<struct<start,end>> (end exclusive): a fold that either extends
    the last span (next window starts at or before its end) or opens a new
    one.  Runs inside codegen; span count is bounded by hit count."""
    w = F.lit(int(window_tokens))
    empty = F.array().cast("array<struct<start:int,end:int>>")

    def step(acc: Column, p: Column) -> Column:
        # try_element_at: NULL (not an error) on the empty accumulator —
        # the coalesce below then routes to the open-new-span branch
        last = F.try_element_at(acc, F.lit(-1))
        ext = F.concat(
            F.slice(acc, 1, F.size(acc) - 1),
            F.array(
                F.struct(
                    last["start"].alias("start"), (p + w).cast("int").alias("end")
                )
            ),
        )
        new = F.concat(
            acc,
            F.array(
                F.struct(p.cast("int").alias("start"), (p + w).cast("int").alias("end"))
            ),
        )
        return F.when(F.coalesce(p <= last["end"], F.lit(False)), ext).otherwise(new)

    return F.aggregate(ps, empty, step)


def remove_duplicate_spans(
    df: DataFrame,
    window_tokens: int = 50,
    scope: str = "docs",
    keep_first: bool = True,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ExactSubstr dedup as a corpus transformation: cut every duplicated
    ≥``window_tokens``-token span (any offset — sliding windows, unlike
    the fixed C4 chunk boundaries of :func:`drop_duplicate_segments`),
    exempting the globally-first occurrence of each window when
    ``keep_first`` (positional, per window — see
    :func:`duplicate_span_hits` for the overlap caveat).

    Adds ``spans`` (merged token-offset ranges removed, for audit),
    ``clean_text`` (tokens outside every span, space-joined), and
    ``tokens_removed``.  The raw ``text_col`` is untouched (input_hint
    invariant).  Only (doc_id, pos) hit rows and the per-doc span arrays
    cross the wire — the cut itself is a gap-slice rebuild (one native
    slice per gap between spans) in the document's scan stage.
    """
    hits = duplicate_span_hits(
        df, window_tokens, scope, keep_first, id_col, text_col
    )
    per_doc = hits.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("pos")).alias("ps")
    )
    per_doc = per_doc.select(
        F.col("doc_id").alias("__span_doc_id"),
        _merged_spans(F.col("ps"), window_tokens).alias("spans"),
    )
    out = df.join(
        per_doc, F.col(id_col) == F.col("__span_doc_id"), "left"
    ).drop("__span_doc_id")
    spans = F.coalesce(
        F.col("spans"), F.array().cast("array<struct<start:int,end:int>>")
    )
    # kept tokens = the GAPS between the sorted disjoint spans — one
    # native slice per gap (n_spans+1 of them) instead of a per-token
    # `filter(…exists…)` lambda, which costs O(n_tokens · n_spans)
    # interpreted evaluations per doc (measured modest at fixture span
    # densities — tokenize+join dominates the rebuild — but unbounded on
    # boilerplate-heavy docs); untouched docs skip the rebuild entirely
    # via the when() fast path.  The token array is materialized ONCE
    # per row (__toks) — referencing the split() expression from inside
    # the slice lambda re-evaluates it per gap (measured 1.4× slower
    # than the filter form it replaces)
    # collision-checked temp name — an input that already carries a
    # __toks column must not be silently overwritten and dropped
    toks_col = "__toks"
    while toks_col in out.columns:
        toks_col += "_"
    out = out.withColumn(toks_col, _tokens(text_col))
    toks = F.col(toks_col)
    gap_lo = F.concat(F.array(F.lit(0)), F.transform(spans, lambda s: s["end"]))
    gap_hi = F.concat(F.transform(spans, lambda s: s["start"]), F.array(F.size(toks)))
    kept = F.flatten(
        F.zip_with(
            gap_lo, gap_hi,
            lambda a, b: F.slice(toks, a + 1, F.greatest(b - a, F.lit(0))),
        )
    )
    clean = F.when(
        F.size(spans) == 0, F.array_join(toks, " ")
    ).otherwise(F.array_join(kept, " "))
    removed = F.aggregate(
        spans, F.lit(0), lambda acc, s: acc + (s["end"] - s["start"])
    )
    return (
        out.withColumn("spans", spans)
        .withColumn("clean_text", clean)
        .withColumn("tokens_removed", removed.cast("long"))
        .drop(toks_col)
    )


def duplicate_span_stats(
    df: DataFrame,
    window_tokens: int = 50,
    scope: str = "docs",
    keep_first: bool = True,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document audit of the ExactSubstr cut: ``(doc_id, n_tokens,
    tokens_removed, frac_removed)`` for every document (zero rows
    included).  The oracle-friendly projection of
    :func:`remove_duplicate_spans` — tokens_removed equals the size of
    the union of hit windows, which the SQL oracle recomputes
    independently as a distinct-count over exploded window indices."""
    cleaned = remove_duplicate_spans(
        df, window_tokens, scope, keep_first, id_col, text_col
    )
    n = F.size(_tokens(text_col))
    return cleaned.select(
        F.col(id_col).alias("doc_id"),
        n.cast("long").alias("n_tokens"),
        F.col("tokens_removed"),
        F.round(F.try_divide(F.col("tokens_removed"), n), 6).alias("frac_removed"),
    )
