"""Build the committed traced-run artifact (``results/trace_seed.json``).

    python3 lssbench/trace_artifact.py --seed 1 --seconds 10 --traced-seconds 90 \\
        --commit <sha> --out lssbench/results/trace_seed.json

For every workload in ``workloads.WORKLOADS`` (including those
``BENCHMARK.json`` leaves out), runs the benchmark command twice from this
checkout — untraced, then traced — and records the end-to-end metrics of
the untraced run, every per-layer metric of the traced run (each tagged
with the end-to-end metric and workload it should move), the spans, the
harvest check, and the tracing overhead.  The traced run alternates traced
and untraced operations in one warm session; the overhead is the median
traced minus the median untraced operation wall, given with every wall.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def unit_of(metric: str) -> str:
    for suffix, unit in (("_per_s", "docs/s"), ("_ms", "ms"), ("_mb", "MB"),
                         ("_s", "s"), ("_ratio", "ratio")):
        if metric.endswith(suffix):
            return unit
    return "count"


def _run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=1800,
    )
    if p.returncode != 0:
        raise RuntimeError(f"{workload} trace={trace} exited {p.returncode}:\n"
                           f"{p.stderr[-4000:]}")
    line = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".lssbench_work", "records",
                           f"{workload}-s{seed}-t{trace}.json")) as f:
        return line, json.load(f)


def main() -> int:
    sys.path.insert(0, ROOT)
    from lssbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--traced-seconds", type=float, default=90.0,
                    help="operation time of the traced run (several traced/"
                         "untraced pairs)")
    ap.add_argument("--commit", default="unknown",
                    help="commit the package under test was taken from")
    ap.add_argument("--workloads", nargs="*", default=sorted(WORKLOADS))
    ap.add_argument("--out", default=os.path.join(HERE, "results", "trace_seed.json"))
    args = ap.parse_args()

    with open("/proc/cpuinfo") as f:
        model = next((ln.split(":", 1)[1].strip() for ln in f
                      if ln.startswith("model name")), "unknown")
    out = {
        "commit": args.commit,
        "host": {"cpus": os.cpu_count(), "cpu_model": model,
                 "python": platform.python_version()},
        "seed": args.seed,
        "seconds": args.seconds,
        "master": "local[4]",
        "workloads": {},
    }
    for wl in args.workloads:
        plain, plain_rec = _run(wl, args.seed, args.seconds, 0)
        traced, traced_rec = _run(wl, args.seed, args.traced_seconds, 1)
        walls = {t: [o["wall_s"] for o in traced_rec["ops"] if o["traced"] is t]
                 for t in (True, False)}
        layers = traced_rec["layer_metrics"]
        out["workloads"][wl] = {
            "why": WORKLOADS[wl].why,
            "n_docs": plain_rec["n_docs"],
            "correct": plain["correct"] and traced["correct"],
            "warmed_up": plain_rec["warmed_up"],
            "warmup_s": plain_rec["warmup_s"],
            "end_to_end": plain["metrics"],
            "batch_latency_samples": plain_rec["batch_latency_samples"],
            "peak_rss_mb_info_only": plain_rec.get("peak_rss_mb"),
            "per_layer": {
                k: {"value": v["value"], "unit": unit_of(k), **v["tag"]}
                for k, v in layers.items()
            },
            "trace_overhead_s": traced_rec.get("trace_overhead_s"),
            "traced_op_walls_s": walls[True],
            "untraced_op_walls_s": walls[False],
            "harvests": traced_rec["harvests"],
            "harvest_jobs": traced_rec["harvest_jobs"],
            "spans": traced_rec["spans"],
        }
        print(f"{wl}: done", file=sys.stderr, flush=True)
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
