"""Benchmark command for localitysensitivesketch_spark.

    python3 lssbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  One process, ``local[4]``, one workload
(``workloads.WORKLOADS``).  The run

1. generates its inputs from ``--seed`` (cached under ``.lssbench_work/``,
   keyed by workload, size and seed; generation is not timed);
2. sets up: starts the Spark session and makes one untimed, checked
   warm-up pass (``workloads.warm_up``; ``setup_s`` is both together; a
   warm-up that raises or fails its output check fails the run);
3. repeats the operation on a fresh store until ``--seconds`` of operation
   time have passed (at least once), checking every output;
4. prints one JSON line: ``correct``, ``attempted``, ``failed`` and the
   metrics — the end-to-end metrics of ``END_TO_END`` (medians over the
   operations), or with ``--trace 1`` the per-layer metrics of
   ``PER_LAYER`` from the traced operations (``trace.py``; a traced run
   alternates traced and untraced operations and records the difference
   of their median walls as the tracing overhead); the full record,
   including spans, goes to ``.lssbench_work/records/``.

Exit status: 0 when every operation ran and passed its check, 1 when one
failed, 2 when the package is not in the checkout, 3 when set-up (or the
run around the operations) failed; with 2 and 3 nothing is printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".lssbench_work")

# name -> unit; every metric a run prints, by mode
END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "cpu_s": "s",
    "batch_latency_p50_s": "s",
    "store_mb": "MB",
    "pair_recall": "ratio",
    "pair_precision": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "functions.hashing.kernel_docs_per_s": "docs/s",
    "operators.signatures.busy_s": "s",
    "operators.signatures.executor_cpu_s": "s",
    "operators.signatures.jvm_wait_s": "s",
    "operators.candidates.busy_s": "s",
    "operators.candidates.pairs_out": "count",
    "operators.candidates.shuffle_write_mb": "MB",
    "operators.candidates.max_bucket_width": "count",
    "operators.candidates.task_p50_ms": "ms",
    "operators.candidates.task_p99_ms": "ms",
    "operators.verify.busy_s": "s",
    "operators.verify.pairs_in": "count",
    "operators.verify.edges_out": "count",
    "operators.verify.useful_ratio": "ratio",
    "operators.verify.shuffle_write_mb": "MB",
    "operators.cluster.busy_s": "s",
    "operators.cluster.jobs": "count",
    "operators.cluster.shuffle_write_mb": "MB",
    "operators.cluster.plan_jobs": "count",
    "plans.pipeline.commits": "count",
    "plans.pipeline.commit_overhead_s": "s",
    "plans.pipeline.jobs_per_commit": "count",
    "plans.pipeline.store_write_mb": "MB",
    "streaming.stream.batches": "count",
    "streaming.stream.curation_batch_s": "s",
    "streaming.stream.dedup_batch_s": "s",
    "streaming.stream.jobs_per_batch": "count",
    "streaming.stream.state_mb": "MB",
}
KERNEL_SAMPLE_DOCS = 200


def _log(msg: str) -> None:
    print(f"lssbench: {msg}", file=sys.stderr, flush=True)


def _import_package():
    """The package under test, from this checkout and nowhere else."""
    sys.path.insert(0, ROOT)
    import localitysensitivesketch_spark as pkg

    if os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__))) != ROOT:
        raise ImportError(f"package imported from {pkg.__file__}, not {ROOT}")
    return pkg


def _environment() -> None:
    """Everything the run writes stays under ``.lssbench_work``."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"


def start_session():
    from localitysensitivesketch_spark.session import get_spark

    return get_spark(
        app_name="lssbench",
        master="local[4]",
        extra_conf={
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            # keep every job of a run in the status store for the tracer
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _process_tree(root_pid: int) -> dict[int, list[str]]:
    """/proc stat fields (after the command name) of a process and all its
    live descendants: this process, the JVM and the Python workers."""
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        stats[int(name)] = stat[stat.rfind(")") + 2:].split()
    tree, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
            todo += [c for c, f in stats.items() if int(f[1]) == pid]
    return tree


def process_tree_cpu() -> float:
    """User+system CPU seconds of this process tree: this process, the JVM,
    the Python workers, and what they reaped from exited children."""
    return sum(
        sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        for f in _process_tree(os.getpid()).values()
    ) / os.sysconf("SC_CLK_TCK")


def process_tree_peak_rss_mb() -> float:
    """Sum of the tree's processes' peak resident sizes (VmHWM)."""
    total_kb = 0
    for pid in _process_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next(
                    (int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:")), 0)
        except OSError:
            pass
    return total_kb / 1024


def kernel_docs_per_s(texts: list[str], cfg, min_seconds: float = 1.0) -> float:
    """The signature operator's numpy kernel (the ``mapInPandas`` function
    of ``operators.signatures``, built on ``functions.hashing``) on one
    core, in this process, over a fixed sample in one pandas batch."""
    import pandas as pd

    from localitysensitivesketch_spark.operators.signatures import _signature_batches

    batch = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    kernel = _signature_batches(cfg.to_json())
    done, t0 = 0, time.perf_counter()
    while True:
        for out in kernel(iter([batch])):
            done += len(out)
        elapsed = time.perf_counter() - t0
        if elapsed >= min_seconds:
            return done / elapsed


def _parse(argv):
    from lssbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None,
                    help="input size override (tests use a tiny size)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    try:
        _import_package()
    except ImportError as e:
        _log(f"the package is not in this checkout: {e}")
        return 2
    args = _parse(argv)
    _environment()

    from localitysensitivesketch_spark.config import SketchConfig

    from lssbench import layers, workloads
    from lssbench.trace import Tracer

    wl = workloads.WORKLOADS[args.workload]
    cfg = SketchConfig()
    n_docs = args.docs or wl.n_docs
    t = time.perf_counter()
    inp = workloads.make_inputs(WORK, wl, n_docs, args.seed, cfg)
    warm = workloads.make_inputs(
        WORK, wl, n_docs, workloads.WARMUP_SEED, cfg, warmup=True
    ) if wl.kind == "spine" else None
    record = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "n_docs": n_docs, "master": "local[4]",
        "input_gen_s": time.perf_counter() - t, "warmed_up": False,
    }
    stores = os.path.join(WORK, "stores", f"{wl.name}-s{args.seed}-{os.getpid()}")
    spark = None
    ops, per_layer, failures = [], [], []
    attempted = failed = 0
    harvest_jobs = 0
    try:
        t = time.perf_counter()
        spark = start_session()
        record["session_start_s"] = time.perf_counter() - t
        t = time.perf_counter()
        warm_fails, ref = workloads.warm_up(spark, wl, warm, inp,
                                            os.path.join(stores, "warmup"), cfg,
                                            process_tree_cpu)
        record["warmup_s"] = time.perf_counter() - t
        if warm_fails:
            raise RuntimeError(f"warm-up output check failed: {warm_fails}")
        record["warmed_up"] = True
        _log(f"set up in {record['session_start_s']:.1f}s session + "
             f"{record['warmup_s']:.1f}s warm-up")

        measured = 0.0
        while attempted == 0 or measured < args.seconds:
            attempted += 1
            store = os.path.join(stores, f"op{attempted}")
            # a traced run alternates traced and untraced operations in ABBA
            # order (traced, untraced, untraced, traced, ...), so the tracing
            # overhead is measured in one warm session and a warm-up trend
            # across the run cancels out of it
            tracer = Tracer(spark) if args.trace and attempted % 4 in (0, 1) else None
            t = time.perf_counter()
            try:
                if tracer:
                    tracer.install()
                    try:
                        with tracer.span(f"op:{wl.name}", "op"):
                            res = workloads.run_op(spark, wl, inp, store, cfg,
                                                   process_tree_cpu)
                    finally:
                        tracer.uninstall()
                    spans = tracer.finish()  # before the check's own jobs
                else:
                    res = workloads.run_op(spark, wl, inp, store, cfg, process_tree_cpu)
                measured += res.wall_s
                fails, quality = workloads.check_op(spark, wl, inp, store, cfg, ref)
            except Exception:  # noqa: BLE001 — one failed operation, counted
                measured += time.perf_counter() - t
                failed += 1
                failures.append(traceback.format_exc())
                _log(f"operation {attempted} raised:\n{failures[-1]}")
                continue
            facts = workloads.store_facts(store) if tracer else None
            shutil.rmtree(store, ignore_errors=True)
            if fails:
                failed += 1
                failures.append(fails)
                _log(f"operation {attempted} failed its check: {fails}")
                continue
            ops.append({"traced": tracer is not None,
                        "wall_s": res.wall_s, "cpu_s": res.cpu_s,
                        "store_bytes": res.store_bytes, "spark_jobs": res.spark_jobs,
                        "batch_walls": res.batch_walls,
                        "n_docs": res.n_docs, "quality": quality})
            _log(f"operation {attempted}: {res.wall_s:.2f}s wall, {res.cpu_s:.1f}s cpu, "
                 f"{res.spark_jobs} jobs")
            if tracer:
                harvest_jobs += tracer.harvest_jobs
                per_layer.append(layers.op_metrics(spans, tracer.jobs, facts))
                record.setdefault("spans", []).append(spans)
                record.setdefault("harvests", 0)
                record["harvests"] += tracer.harvests
        record["peak_rss_mb"] = process_tree_peak_rss_mb()  # information only
        if args.trace:
            from lssbench.inputs import read_texts

            texts = sorted(read_texts(inp.docs_path).items())[:KERNEL_SAMPLE_DOCS]
            record["kernel_docs_per_s"] = kernel_docs_per_s([t for _, t in texts], cfg)
    except Exception:  # noqa: BLE001 — set-up (or the run around it) failed
        _log(f"run failed before its result:\n{traceback.format_exc()}")
        return 3
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(stores, ignore_errors=True)

    record.update(attempted=attempted, failed=failed, failures=failures, ops=ops,
                  harvest_jobs=harvest_jobs)
    med = statistics.median
    if args.trace:
        walls = {t: [o["wall_s"] for o in ops if o["traced"] is t] for t in (True, False)}
        if walls[True] and walls[False]:
            record["trace_overhead_s"] = med(walls[True]) - med(walls[False])
        metrics = layers.median_metrics(per_layer) if per_layer else {}
        metrics.update({
            "session.start_s": record["session_start_s"],
            "session.warmup_s": record["warmup_s"],
            "functions.hashing.kernel_docs_per_s": record["kernel_docs_per_s"],
        })
        record["layer_metrics"] = {
            k: {"value": v, "tag": layers.tag(k)} for k, v in sorted(metrics.items())}
        shown = {k: (metrics[k], u) for k, u in PER_LAYER.items() if k in metrics}
        if harvest_jobs:
            failed += 1
            _log(f"metric harvests started {harvest_jobs} Spark jobs")
    else:
        values = {"setup_s": record["session_start_s"] + record["warmup_s"]}
        if ops:
            values.update({
                "docs_per_s": med(o["n_docs"] / o["wall_s"] for o in ops),
                "cpu_s": med(o["cpu_s"] for o in ops),
                "batch_latency_p50_s": med(w for o in ops for w in o["batch_walls"]),
                "store_mb": med(o["store_bytes"] for o in ops) / 1e6,
                "pair_recall": med(o["quality"]["recall"] for o in ops),
                "pair_precision": med(o["quality"]["precision"] for o in ops),
            })
            record["batch_latency_samples"] = sum(len(o["batch_walls"]) for o in ops)
        record["metrics"] = values
        shown = {k: (values[k], END_TO_END[k]) for k in END_TO_END if k in values}

    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    rec_path = os.path.join(
        WORK, "records", f"{wl.name}-s{args.seed}-t{args.trace}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, default=str)
    correct = failed == 0 and len(shown) == len(PER_LAYER if args.trace else END_TO_END)
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
