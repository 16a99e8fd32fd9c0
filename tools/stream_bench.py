"""Streaming curation drill at moderate scale (round-4 VERDICT #7).

Runs ``stream_curation`` (quality gate + exact tier per micro-batch,
``dedup=True`` chaining the incremental near-dup pipeline over survivors)
over a REAL file stream of the shared bench corpus, split into N parquet
files consumed one per trigger, and records:

* per-micro-batch wall (from the query's progress events) and Spark job
  count (from the application status store) + total wall;
* end-state equality with the batch funnel on the same input —
  (a) curated text-md5 set == batch exact+quality survivors' md5 set,
  (b) near-dup cluster PARTITION (sets of member doc_ids) == a batch
      run of sigs → band candidates → verify → CC over those survivors.

Same single-box methodology as tools/scaling_bench.py (no cluster in the
sandbox); the input files are written in ascending doc_id order so the
stream's first-seen exact keeper matches the batch funnel's min-id keeper.

Usage:
    python tools/stream_bench.py [--docs 100000] [--files 10] [--cpus 32]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scaling_bench import build_corpus  # noqa: E402  (same tools/ dir)

# fixture vocabulary is synthetic — relax the English char-ratio rules
# exactly like tools/funnel_bench.py (BENCH/funnel_all_tiers_20k_r3.json);
# min_stopword_ratio=0.0 is stream_curation's own multilingual default,
# repeated here because the batch-funnel reference calls gopher_filter
# directly
GOPHER_KWARGS = {
    "min_chars_per_token": 0.0,
    "max_chars_per_token": 100.0,
    "min_stopword_ratio": 0.0,
}

SCRATCH = (
    "/dev/shm/lss_stream_bench"
    if os.access("/dev/shm", os.W_OK)
    else "/tmp/lss_stream_bench"
)

os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")


def jobs_per_batch(spark, run_id: str) -> dict[int, int]:
    """Spark jobs each micro-batch of the query run ``run_id`` ran.

    Read from the application status store, which runs no job: a streaming
    query runs its jobs in the job group named by its run id, with a job
    description ending in ``batch = <id>``."""
    sc = spark.sparkContext._jsc.sc()
    jvm = spark.sparkContext._jvm
    sc.listenerBus().waitUntilEmpty(60_000)  # every job end has landed
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
    jobs = json.loads(mapper.writeValueAsString(sc.statusStore().jobsList(None)))
    counts: dict[int, int] = {}
    for job in jobs:
        m = re.search(r"batch = (\d+)", job.get("description") or "")
        if job.get("jobGroup") == run_id and m:
            batch_id = int(m.group(1))
            counts[batch_id] = counts.get(batch_id, 0) + 1
    return counts


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=100_000)
    ap.add_argument("--files", type=int, default=10)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--out", default="")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from localitysensitivesketch_spark.config import SketchConfig
    from localitysensitivesketch_spark.operators.candidates import band_candidates
    from localitysensitivesketch_spark.operators.cluster import connected_components
    from localitysensitivesketch_spark.operators.corpus import gopher_filter
    from localitysensitivesketch_spark.operators.dedup import exact_dedup
    from localitysensitivesketch_spark.operators.signatures import compute_signatures
    from localitysensitivesketch_spark.operators.verify import (
        duplicate_edges,
        verify_pairs,
    )
    from localitysensitivesketch_spark.session import get_spark
    from localitysensitivesketch_spark.streaming import stream as ST

    data = build_corpus(args.docs)
    cfg = SketchConfig()

    shutil.rmtree(SCRATCH, ignore_errors=True)
    in_dir = os.path.join(SCRATCH, "stream_in")
    store = os.path.join(SCRATCH, "store")
    os.makedirs(in_dir, exist_ok=True)

    spark = get_spark(
        app_name="lss-stream-bench",
        master=f"local[{args.cpus}]",
        shuffle_partitions=2 * args.cpus,
    )
    docs = spark.read.parquet(data).select("doc_id", "text")
    n_docs = docs.count()

    # split into --files chunks by ascending doc_id (one file each, written
    # in order, so the file source's mtime ordering == id ordering; ids are
    # xxhash64(url), so rank — not id ranges — defines the chunks)
    from pyspark.sql import Window

    chunk = (n_docs + args.files - 1) // args.files
    ranked = docs.withColumn(
        "__rn", F.row_number().over(Window.orderBy("doc_id")) - 1
    ).localCheckpoint(eager=True)
    for i in range(args.files):
        lo, hi = i * chunk, (i + 1) * chunk
        (
            ranked.filter((F.col("__rn") >= lo) & (F.col("__rn") < hi))
            .drop("__rn")
            .coalesce(1)
            .write.mode("append")
            .parquet(in_dir)
        )

    stream = ST.read_document_stream(
        spark, in_dir, schema="doc_id long, text string",
        max_files_per_trigger=1,
    )
    t0 = time.time()
    q = ST.stream_curation(
        spark, stream, store, cfg=cfg,
        gopher_kwargs=GOPHER_KWARGS, dedup=True,
    )
    q.awaitTermination(3600)
    stream_wall = time.time() - t0
    # numInputRows counts every source read during the trigger — the
    # foreachBatch body takes several actions over the (uncached) batch
    # file, so this is a multiple of the file's row count, reported as-is
    jobs = jobs_per_batch(spark, str(q.runId))
    batch_walls = [
        {
            "batch_id": p["batchId"],
            "source_rows_read": p["numInputRows"],
            "wall_s": round(p["durationMs"]["triggerExecution"] / 1000.0, 2),
            "jobs": jobs.get(p["batchId"], 0),
        }
        for p in q.recentProgress
        if p["numInputRows"] > 0
    ]

    # ---- batch-funnel reference over the SAME corpus -------------------
    t1 = time.time()
    kept = exact_dedup(docs)
    survivors = kept.join(
        gopher_filter(kept, **GOPHER_KWARGS).filter("keep").select("doc_id"),
        "doc_id",
        "left_semi",
    ).localCheckpoint(eager=True)
    sigs = compute_signatures(survivors, cfg)
    cands, _ = band_candidates(sigs, cfg)
    edges = duplicate_edges(verify_pairs(cands, survivors, cfg), cfg)
    labels = connected_components(survivors.select("doc_id"), edges)
    batch_wall = time.time() - t1

    # ---- equality audits ------------------------------------------------
    curated = ST.read_curated(spark, store)
    got_md5 = sorted(
        r["h"] for r in curated.select(F.md5("text").alias("h")).collect()
    )
    want_md5 = sorted(
        r["h"] for r in survivors.select(F.md5("text").alias("h")).collect()
    )
    md5_equal = got_md5 == want_md5

    def partition(rows):
        byc: dict = {}
        for doc_id, cid in rows:
            byc.setdefault(cid, set()).add(doc_id)
        return sorted(tuple(sorted(m)) for m in byc.values())

    got_part = partition(
        (r["doc_id"], r["cluster_id"])
        for r in spark.read.parquet(f"{store}/dedup/clusters").collect()
    )
    want_part = partition(
        (r["doc_id"], r["cluster_id"]) for r in labels.collect()
    )
    clusters_equal = got_part == want_part

    out = {
        "docs": n_docs,
        "files": args.files,
        "cpus": args.cpus,
        "n_batches": len(batch_walls),
        "stream_wall_s": round(stream_wall, 2),
        "stream_docs_per_sec": round(n_docs / stream_wall, 1),
        "batch_funnel_wall_s": round(batch_wall, 2),
        "per_batch": batch_walls,
        "n_curated": len(got_md5),
        "n_clusters_stream": len(got_part),
        "n_clusters_batch": len(want_part),
        "curated_md5_set_equal": md5_equal,
        "cluster_partition_equal": clusters_equal,
    }
    spark.stop()
    shutil.rmtree(SCRATCH, ignore_errors=True)
    line = json.dumps(out)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
