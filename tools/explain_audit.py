"""Physical-plan audit: assert the plans we want, not just plans that pass.

Checks, per representative operator:
  * column pruning reached the parquet scan (ReadSchema contains only the
    needed columns — e.g. the signature stage must scan doc_id+text, never
    html);
  * predicate pushdown (PushedFilters non-empty where a filter exists);
  * small dimensions broadcast (BroadcastHashJoin, not SortMergeJoin);
  * no Python row UDFs (BatchEvalPython must never appear; ArrowEvalPython /
    MapInPandas are the only Python operators allowed);
  * verify moves text only into its once-per-doc shingle pass (no plan
    carries a per-pair text1/text2 column);
  * whole-stage codegen present in JVM-side pipelines;
  * no Python-list scans in the bookkeeping tables (the stream's per-batch
    metrics row and the curation funnel audit must plan as LocalRelation
    or Range, never as a LogicalRDD whose every action runs Python tasks);
  * building an operator over an exchange-bearing input starts no Spark
    job (the signature pass over the quality gate's semi-join; job ids
    are read from the application status store).

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as E
    from localitysensitivesketch_spark.config import SketchConfig
    from localitysensitivesketch_spark.operators.signatures import compute_signatures
    from localitysensitivesketch_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark(app_name="explain-audit", master="local[4]",
                      shuffle_partitions=8)
    failures: list[str] = []

    def check(name: str, ok: bool, detail: str = "") -> None:
        print(("ok    " if ok else "FAIL  ") + name + (f": {detail}" if detail else ""))
        if not ok:
            failures.append(name)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    # 1. signature scan prunes to (doc_id, text)
    p = plan_of(compute_signatures(docs, SketchConfig()))
    scan = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    pruned = scan and all(
        "text" in ln and "doc_id" in ln and "lang" not in ln and "source" not in ln
        for ln in scan
    )
    check("signature-scan-pruned", bool(pruned), scan[0].strip() if scan else "no scan")

    # 2. filter pushdown reaches the scan
    p = plan_of(docs.filter(F.col("lang") == "en").select("doc_id"))
    check(
        "filter-pushdown",
        "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in p
        or "PushedFilters: [" in p and "lang" in p,
    )

    # 3. dimension joins broadcast (revenue query)
    p = plan_of(E.queries()["revenue_per_nation"](spark, sf_dir))
    check(
        "dim-join-broadcast",
        "BroadcastHashJoin" in p and "SortMergeJoin" not in p,
    )

    # 4. no row-at-a-time Python anywhere in the contract queries
    bad = []
    for name, fn in E.queries().items():
        try:
            p = plan_of(fn(spark, sf_dir))
        except Exception as ex:  # noqa: BLE001
            bad.append(f"{name} (error {type(ex).__name__})")
            continue
        if "BatchEvalPython" in p:
            bad.append(name)
    check("no-row-python-udfs", not bad, ", ".join(bad))

    # 4b. the ExactSubstr span scan prunes its input to (doc_id, text) —
    # the mapInPandas stage must never drag html/lang through Arrow
    from localitysensitivesketch_spark.operators.corpus import (
        duplicate_span_stats,
    )

    p = plan_of(duplicate_span_stats(docs, 20))
    scan = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    pruned = scan and all(
        "text" in ln and "doc_id" in ln and "html" not in ln and "lang" not in ln
        for ln in scan
    )
    check(
        "span-scan-pruned", bool(pruned), scan[0].strip() if scan else "no scan"
    )

    # 5. codegen in the JVM analytics path ("[codegen id : N]" markers only
    # appear in the FINAL adaptive plan, so execute first)
    q1 = E.queries()["tpch_q1"](spark, sf_dir)
    q1.collect()
    p = plan_of(q1)
    check(
        "wholestage-codegen",
        "codegen id" in p or "WholeStageCodegen" in p,
    )

    # 6. LSH band join: no cartesian products anywhere in the pipeline plan
    from localitysensitivesketch_spark.operators.candidates import band_candidates

    sigs = compute_signatures(docs, SketchConfig())
    pairs, _ = band_candidates(sigs, SketchConfig())
    p = plan_of(pairs)
    check("band-join-no-cartesian", "CartesianProduct" not in p)

    # 6b. verify, with and without signatures: text enters only the once-
    # per-doc shingle pass, so no plan carries a per-pair text1/text2
    from localitysensitivesketch_spark.operators.verify import verify_pairs

    bad = []
    for label, s in (("signatures", sigs), ("no-signatures", None)):
        p = plan_of(verify_pairs(pairs, docs, SketchConfig(), signatures=s))
        if "text1" in p or "text2" in p:
            bad.append(label)
    check("verify-text-once", not bad, ", ".join(bad))

    # 7. top_k plans TakeOrderedAndProject (per-partition heap + driver merge
    # of k rows), never a global single-partition window sort
    from localitysensitivesketch_spark.operators import analytics as A

    counts = A.count_per_key(
        spark.read.parquet(f"{sf_dir}/events.parquet"), "user_id"
    )
    p = plan_of(A.top_k(counts, 10))
    check("topk-take-ordered", "TakeOrderedAndProject" in p)

    # 8. the scale percentile path uses the bounded-memory approx aggregate
    p = plan_of(A.percentile_threshold(counts, 0.9, exact=False))
    check(
        "percentile-approx-path",
        "percentile_approx" in p or "approx_percentile" in p,
    )

    # 9. bookkeeping tables plan JVM-side: capture the metrics row one
    # micro-batch writes, and build a funnel audit over tiny tiers
    import tempfile

    from localitysensitivesketch_spark.plans.curation import CurationPipeline
    from localitysensitivesketch_spark.streaming import stream as ST

    written = {}
    real_write = ST._write_by_batch

    def capture(df, path, batch_id, empty=None):
        written[os.path.basename(path)] = df
        real_write(df, path, batch_id, empty)

    batch = docs.select("doc_id", "text").limit(20)
    with tempfile.TemporaryDirectory() as tmp:
        ST._write_by_batch = capture
        try:
            ST.process_curation_batch(spark, batch, 0, os.path.join(tmp, "s"))
        finally:
            ST._write_by_batch = real_write
        audit = CurationPipeline(spark, os.path.join(tmp, "c"))._funnel(
            batch, [("exact", batch)]
        )
        bad = [
            name
            for name, df in (("curation_metrics", written["curation_metrics"]),
                             ("funnel", audit))
            if "LogicalRDD" in df._jdf.queryExecution().optimizedPlan().toString()
        ]
    check("no-python-list-scans", not bad, ", ".join(bad))

    # 12. plan building starts no job: the signature pass over a semi-join
    # (the curation funnel's quality-gated input) only builds a plan
    sc = spark.sparkContext
    passed = docs.join(
        docs.filter(F.col("lang") == "en").select("doc_id"), "doc_id", "left_semi"
    )
    sc.setJobGroup("plan-time-jobs", "plan-time-jobs")
    try:
        compute_signatures(passed, SketchConfig())
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)  # every job start landed
    started = list(sc.statusTracker().getJobIdsForGroup("plan-time-jobs"))
    check("no-plan-time-jobs", not started, f"jobs {started}" if started else "")

    print(f"\n{len(failures)} failures: {failures}" if failures else "\nall green")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
