"""Pure built-in Spark SQL forms of the corpus operators' Arrow kernels —
the parity reference the tests compare those kernels against.

Each form returns the columns of the kernel it stands in for, and the
DuckDB oracle queries mirror these forms.  :func:`sql_kernels` swaps them
in at the kernel seams, so an operator's shared JVM tail (ratio/round
expressions, the dup/keeper aggregation, the broadcast join) runs
unchanged on top of them:

- :func:`window_occurrences` for ``corpus.sliding_window_occurrences``
  (which also feeds ``contamination_report``);
- :func:`repetition_counts` for ``corpus._repetition_counts``;
- :func:`gopher_doc_counts` for ``corpus._gopher_doc_counts_arrow``.

Spark evaluates the higher-order-function lambdas below interpreted, per
element — 18-40× slower than the Arrow scans — which is why the library
ships only the Arrow forms.
"""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from localitysensitivesketch_spark.operators import corpus as C
from localitysensitivesketch_spark.operators.textstats import _PUNCT_PAT


def window_occurrences(
    df: DataFrame, window_tokens: int = 50, id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, pos, h): the 16-byte md5 of every ``window_tokens``-token
    window of ``split(trim(text), '\\s+')``, pos 0-based.  Hash bytes
    differ from the rolling hash; hash equality, and so every (doc_id,
    pos) duplicate set, does not."""
    w = int(window_tokens)
    t = C._tokens(text_col)
    n = F.size(t)
    wins = F.when(
        n >= w,
        F.transform(
            F.sequence(F.lit(0), n - w),
            lambda i: F.struct(
                i.cast("int").alias("pos"),
                F.unhex(F.md5(F.array_join(F.slice(t, i + 1, w), " "))).alias("h"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,h:binary>>"))
    return df.select(
        F.col(id_col).alias("doc_id"), F.explode(wins).alias("w")
    ).select("doc_id", F.col("w.pos").alias("pos"), F.col("w.h").alias("h"))


def repetition_counts(
    df: DataFrame, ns: tuple[int, ...], id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, gram_n, n_grams, n_dup_grams, top_c): one explode over all
    requested n at once (grams carry an ``n:`` tag, so a single (doc_id,
    gram) hash-agg serves every n)."""
    t = C._tokens(text_col)

    def tagged(n: int) -> Column:
        # the transform lambda must be single-parameter — a second
        # parameter would be bound to the element index by Spark
        return F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - F.lit(n - 1)),
                lambda i: F.concat(
                    F.lit(f"{n}:"), F.array_join(F.slice(t, i, n), " ")
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    rows = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.concat(*[tagged(n) for n in ns])).alias("g"),
    )
    cnt = rows.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
    return (
        cnt.withColumn("gram_n", F.split("g", ":", 2)[0].cast("int"))
        .groupBy("doc_id", "gram_n")
        .agg(
            F.sum("c").alias("n_grams"),
            (F.sum("c") - F.count("*")).alias("n_dup_grams"),
            F.max("c").alias("top_c"),
        )
    )


def gopher_doc_counts(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_tokens, n_chars, n_punct, n_stop, g2, d2, g3, d3): the
    per-row counts in one select, the 2/3-gram totals and dup counts from
    :func:`repetition_counts` (NULL for docs shorter than n)."""
    sw = ",".join(f"'{w}'" for w in C._GOPHER_STOPWORDS)
    per_row = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(C._tokens(text_col)).alias("n_tokens"),
        F.length(text_col).alias("n_chars"),
        F.size(
            F.expr(f"regexp_extract_all({text_col}, '{_PUNCT_PAT}', 0)")
        ).alias("n_punct"),
        F.size(
            F.expr(
                f"filter(split(lower(trim({text_col})), '\\\\s+'), "
                f"t -> t IN ({sw}))"
            )
        ).alias("n_stop"),
    )
    grams = repetition_counts(df, (2, 3), id_col, text_col).groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("gram_n") == n, F.col(c))).alias(f"{k}{n}")
            for n in (2, 3)
            for k, c in (("g", "n_grams"), ("d", "n_dup_grams"))
        ]
    )
    return per_row.join(grams, "doc_id", "left")


@contextmanager
def sql_kernels():
    """Within the block, every corpus operator built runs on the SQL
    forms above instead of its Arrow kernel."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(C, "sliding_window_occurrences", window_occurrences)
        mp.setattr(C, "_repetition_counts", repetition_counts)
        mp.setattr(C, "_gopher_doc_counts_arrow", gopher_doc_counts)
        yield
