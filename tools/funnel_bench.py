"""Two-parallelism benchmark of the integrated curation funnel
(round-4 VERDICT #3): ``CurationPipeline.run`` with EVERY tier active
(recrawl → exact → quality → MinHash+LSH near-dup → containment →
ExactSubstr) over the shared fixture corpus, per-tier walls pulled from
the store's lineage log.

Same methodology as tools/scaling_bench.py (no multi-executor cluster in
the sandbox, so N→4N is evidenced at local[N] vs local[4N], fresh JVM
per level, interleaved attempts, per-level best — BENCH/BASELINE.md
"Measurement methodology").  Each run gets a FRESH store root (resume
off, so every stage actually executes); ``--kill-after-stages K`` runs
the resume drill instead: start a run, kill the JVM after K stage
commits, re-run with resume=True on the SAME root, and verify the final
funnel equals an uninterrupted run's.

Usage:
    python tools/funnel_bench.py --all [--docs 800000] [--low 2 --high 8]
    python tools/funnel_bench.py --cpus 8 --data <path> [--store <dir>]
    python tools/funnel_bench.py --resume-drill --docs 800000 --cpus 8
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scaling_bench import build_corpus  # noqa: E402  (same tools/ dir)

CONTAINMENT_T = 1.0
SPAN_WINDOW = 50
STAGE_ORDER = [
    "raw", "latest_capture", "exact_dedup", "quality_gate", "near_dup",
    "containment", "exactsubstr",
]
# the fixture vocabulary is synthetic (hash-derived tokens), so the
# English char-ratio rules are relaxed exactly as the recorded 20k run
# (BENCH/funnel_all_tiers_20k_r3.json note); all other tiers run stock
GOPHER_KWARGS = {"min_chars_per_token": 0.0, "max_chars_per_token": 100.0}

SCRATCH = (
    "/dev/shm/lss_funnel_bench"
    if os.access("/dev/shm", os.W_OK)
    else "/tmp/lss_funnel_bench"
)

# one shared JVM serves all task threads in local mode: 16g / 32 threads
# starved the wide-row scans at 800k docs (observed parquet-read heap OOM
# on the local[32] leg); children inherit this via the environment
os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")

# shuffle partitions are sized to the DATA, identical at every
# parallelism level: 2*cpus gave 16 partitions at local[8] for the
# ~300M-row span/containment shuffles (~600MB+ a partition), which
# GC-thrashed the JVM and swung tier walls 2.5x between identical
# runs.  AQE coalesces the small stages down from this count.
# Overridable to measure the sizing policy itself (see
# localitysensitivesketch_spark.session.recommended_shuffle_partitions).
SHUFFLE_PARTITIONS = int(os.environ.get("FUNNEL_SHUFFLE_PARTITIONS", "256"))


def _run_funnel(spark, docs, store_root: str, resume: bool):
    from localitysensitivesketch_spark.plans.curation import CurationPipeline

    pipe = CurationPipeline(
        spark, store_root, gopher_kwargs=GOPHER_KWARGS
    )
    return pipe.run(
        docs,
        resume=resume,
        containment_threshold=CONTAINMENT_T,
        exactsubstr_window=SPAN_WINDOW,
    )


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def _tier_walls(store_root: str) -> dict[str, float]:
    """stage → wall_sec from the append-only lineage log (resume drills
    append multiple rows per stage; last commit wins)."""
    walls: dict[str, float] = {}
    p = os.path.join(store_root, "lineage.jsonl")
    if not os.path.exists(p):
        return walls
    with open(p) as f:
        for line in f:
            row = json.loads(line)
            walls[row["stage"].split("@")[0]] = row["wall_sec"]
    return walls


def _last_job_id(spark) -> int:
    """Id of the newest Spark job in the application status store (-1
    before the first), which runs no job.  Job ids are sequential, so the
    difference across a block is the number of jobs it started, even
    past the store's ``spark.ui.retainedJobs`` window."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(60_000)  # every job start has landed
    jobs = sc.statusStore().jobsList(None)  # newest first
    return -1 if jobs.isEmpty() else jobs.head().jobId()


def run_level(cpus: int, data: str, store_root: str | None = None) -> dict:
    from localitysensitivesketch_spark.session import get_spark

    store = store_root or f"{SCRATCH}/store_{cpus}"
    shutil.rmtree(store, ignore_errors=True)
    spark = get_spark(
        app_name=f"funnel-bench-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
    )
    docs = spark.read.parquet(data).drop("kind")
    n_docs = docs.count()

    jobs0 = _last_job_id(spark)
    t0 = time.time()
    res = _run_funnel(spark, docs, store, resume=False)
    funnel = sorted(
        (
            (r["stage"], r["n_in"], r["n_out"], r["dropped"])
            for r in res.funnel.collect()
        ),
        key=lambda r: STAGE_ORDER.index(r[0]),
    )
    wall = time.time() - t0
    out = {
        "cpus": cpus,
        "n_docs": n_docs,
        "wall_s": round(wall, 2),
        # Spark jobs the funnel run started (the audit collect included)
        "spark_jobs": _last_job_id(spark) - jobs0,
        "docs_per_sec": round(n_docs / wall, 1),
        "funnel": funnel,
        "tier_walls_s": _tier_walls(store),
        "stages_run": len(res.stages_run),
        # every byte the funnel committed through the store this run
        "store_bytes_written": _dir_bytes(store),
    }
    spark.stop()
    shutil.rmtree(store, ignore_errors=True)
    return out


def resume_drill(cpus: int, data: str, kill_after_stages: int) -> dict:
    """Kill-and-resume at scale: run the funnel in a subprocess, SIGKILL
    it after ``kill_after_stages`` stage commits land, then resume on the
    same store and compare the funnel audit to an uninterrupted run."""
    store = f"{SCRATCH}/store_drill"
    shutil.rmtree(store, ignore_errors=True)
    os.makedirs(store, exist_ok=True)
    child = subprocess.Popen(
        [
            sys.executable,
            os.path.abspath(__file__),
            "--cpus",
            str(cpus),
            "--data",
            data,
            "--store",
            store,
            "--keep-store",
        ],
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    lineage = os.path.join(store, "lineage.jsonl")
    committed = 0
    while child.poll() is None:
        time.sleep(2)
        if os.path.exists(lineage):
            with open(lineage) as f:
                committed = sum(1 for _ in f)
            if committed >= kill_after_stages:
                child.kill()
                child.wait()
                break
    killed = child.returncode not in (0, None) or committed >= kill_after_stages

    from localitysensitivesketch_spark.session import get_spark

    spark = get_spark(
        app_name=f"funnel-resume-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
    )
    docs = spark.read.parquet(data).drop("kind")
    t0 = time.time()
    res = _run_funnel(spark, docs, store, resume=True)
    resumed_funnel = sorted(
        (
            (r["stage"], r["n_in"], r["n_out"], r["dropped"])
            for r in res.funnel.collect()
        ),
        key=lambda r: STAGE_ORDER.index(r[0]),
    )
    resume_wall = time.time() - t0
    out = {
        "cpus": cpus,
        "killed_mid_run": killed,
        "stages_committed_at_kill": committed,
        "stages_resumed": len(res.stages_resumed),
        "stages_run_after_resume": len(res.stages_run),
        "resume_wall_s": round(resume_wall, 2),
        "resumed_funnel": resumed_funnel,
    }
    spark.stop()
    shutil.rmtree(store, ignore_errors=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--resume-drill", action="store_true")
    ap.add_argument("--kill-after-stages", type=int, default=5)
    ap.add_argument("--docs", type=int, default=800_000)
    ap.add_argument("--low", type=int, default=2)
    ap.add_argument("--high", type=int, default=8)
    ap.add_argument("--attempts", type=int, default=1)
    ap.add_argument("--cpus", type=int)
    ap.add_argument("--data")
    ap.add_argument("--store")
    ap.add_argument("--keep-store", action="store_true")
    args = ap.parse_args()

    if args.resume_drill:
        data = args.data or build_corpus(args.docs)
        print(json.dumps(resume_drill(args.cpus or args.high, data,
                                      args.kill_after_stages)))
        return

    if not args.all:
        store = args.store
        if store and args.keep_store:
            # drill child: leave the store behind for the resuming parent
            from localitysensitivesketch_spark.session import get_spark

            spark = get_spark(
                app_name=f"funnel-bench-{args.cpus}",
                master=f"local[{args.cpus}]",
                shuffle_partitions=SHUFFLE_PARTITIONS,
            )
            docs = spark.read.parquet(args.data).drop("kind")
            _run_funnel(spark, docs, store, resume=False)
            spark.stop()
            return
        print(json.dumps(run_level(args.cpus, args.data, store)))
        return

    data = build_corpus(args.docs)
    runs: dict[int, list[dict]] = {args.low: [], args.high: []}
    for attempt in range(args.attempts):
        order = (
            [args.low, args.high] if attempt % 2 == 0 else [args.high, args.low]
        )
        for cpus in order:
            r = json.loads(
                subprocess.check_output(
                    [
                        sys.executable,
                        os.path.abspath(__file__),
                        "--cpus",
                        str(cpus),
                        "--data",
                        data,
                    ]
                )
                .decode()
                .strip()
                .splitlines()[-1]
            )
            runs[cpus].append(r)
            print(f"# attempt {attempt} local[{cpus}]: wall={r['wall_s']}",
                  file=sys.stderr)

    # identical funnel audits across levels/attempts, or the numbers are void
    sigs = {
        (c, i): tuple(map(tuple, r["funnel"]))
        for c, rs in runs.items()
        for i, r in enumerate(rs)
    }
    assert len(set(sigs.values())) == 1, f"funnel mismatch: {sigs}"

    best = {c: min(r["wall_s"] for r in rs) for c, rs in runs.items()}
    best_walls = {
        c: next(r for r in rs if r["wall_s"] == best[c]) for c, rs in runs.items()
    }
    factor = args.high / args.low
    eff = (best[args.low] / best[args.high]) / factor
    result = {
        "job": "CurationPipeline.run all tiers "
        f"(containment_threshold={CONTAINMENT_T}, "
        f"exactsubstr_window={SPAN_WINDOW})",
        "n_docs": args.docs,
        "levels": {
            str(c): {
                "best_wall_s": best[c],
                "docs_per_sec": round(args.docs / best[c], 1),
                "tier_walls_s": best_walls[c]["tier_walls_s"],
                "attempts_wall_s": [r["wall_s"] for r in rs],
            }
            for c, rs in runs.items()
        },
        "speedup": round(best[args.low] / best[args.high], 3),
        "scaling_efficiency": round(eff, 3),
        "store_bytes_written": runs[args.high][0].get("store_bytes_written"),
        "funnel": runs[args.high][0]["funnel"],
        "method": "interleaved attempts, per-level best wall, fresh JVM and "
        "fresh store per run (see BENCH/BASELINE.md methodology)",
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
