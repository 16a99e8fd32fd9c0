"""Per-layer metrics from one traced operation's spans.

Layers are the package's modules.  A committed stage belongs to the
operator module that computes it; its busy time is the commit span plus
the plan gap before it (see ``trace.Tracer.finish``).  ``TAGS`` records,
for every layer metric, which end-to-end metric it should move, on which
workload, and where it should stay flat.
"""

from __future__ import annotations

import statistics

from .trace import quantile

# committed stage (key before any "@" suffix) -> operator module
STAGE_LAYER = {
    "signatures": "operators.signatures",
    "candidates": "operators.candidates",
    "skew_metrics": "operators.candidates",
    "verified": "operators.verify",
    "edges": "operators.verify",
    "clusters": "operators.cluster",
    "cluster_stats": "operators.cluster",
    "exact_kept": "operators.dedup",
    "containment_kept": "operators.dedup",
    "quality": "operators.corpus",
    "span_cleaned": "operators.corpus",
}
# committed curation stage -> funnel tier (the spine's stages are near_dup)
CURATION_TIER = {
    "captures": "latest_capture",
    "exact_kept": "exact_dedup",
    "quality": "quality_gate",
    "survivors": "near_dup",
    "containment_kept": "containment",
    "span_cleaned": "exactsubstr",
}
CURATION_TIERS = ("latest_capture", "exact_dedup", "quality_gate", "near_dup",
                  "containment", "exactsubstr")

SPINE = "dedup_batch"
SKEW = "boilerplate_skew"
STREAM = "stream_ingest"
FUNNEL = "curation_funnel"
BATCH = (SPINE, SKEW, FUNNEL)

# metric-name prefix -> (end-to-end metrics it should move, workloads where
# it should move them, workloads where it should stay flat)
TAGS = {
    "session.": (["setup_s"], [SPINE, SKEW, STREAM, FUNNEL], []),
    "functions.hashing.": (["docs_per_s", "cpu_s"], [SPINE], [STREAM]),
    "operators.signatures.": (["docs_per_s", "cpu_s"], [SPINE], [STREAM]),
    "operators.candidates.": (["docs_per_s", "cpu_s"], [SKEW], [SPINE]),
    "operators.verify.": (["docs_per_s", "cpu_s"], [SKEW], [SPINE]),
    "operators.cluster.": (["docs_per_s"], [SPINE, SKEW], [STREAM]),
    "plans.pipeline.": (["docs_per_s", "store_mb"], [FUNNEL], [SPINE]),
    "streaming.stream.": (["batch_latency_p50_s", "docs_per_s"], [STREAM], list(BATCH)),
    "operators.corpus.": (["docs_per_s"], [FUNNEL], [SPINE, SKEW]),
    "operators.dedup.": (["docs_per_s"], [FUNNEL], [SPINE, SKEW]),
    "plans.curation.": (["docs_per_s"], [FUNNEL], [SPINE, SKEW, STREAM]),
}
# plan_jobs moves cpu_s where an operator's input comes from a shuffle
PLAN_JOBS_TAG = (["cpu_s"], [STREAM, FUNNEL], [SPINE, SKEW])


def tag(metric: str) -> dict:
    moves, on, flat = (
        PLAN_JOBS_TAG if metric.endswith(".plan_jobs")
        else next(v for k, v in TAGS.items() if metric.startswith(k))
    )
    return {"moves": moves, "on": on, "flat_on": flat}


class _Acc:
    """Sums of stage metrics over a set of jobs."""

    def __init__(self):
        self.busy_s = 0.0
        self.jobs = 0
        self.plan_jobs = 0
        self.run_ms = 0
        self.cpu_ns = 0
        self.shuffle_write = 0
        self.spill = 0
        self.output = 0
        self.task_ms: list[float] = []

    def add_jobs(self, jobs: list[dict]) -> None:
        for job in jobs:
            self.jobs += 1
            for st in job["stages"]:
                self.run_ms += st["run_ms"]
                self.cpu_ns += st["cpu_ns"]
                self.shuffle_write += st["shuffle_write_bytes"]
                self.spill += st["spill_bytes"]
                self.output += st["output_bytes"]
                self.task_ms += st["task_run_ms"]


def op_metrics(spans: list[dict], jobs: dict, facts: dict) -> dict:
    """Layer metrics of one operation.  ``facts`` holds what the store
    says after the operation: ``rows`` per committed stage, the widest
    band bucket, and the stream's state size."""
    by_id = {s["id"]: s for s in spans}
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    plan_of = {s["attrs"]["for_span"]: s for s in spans if s["kind"] == "plan"}

    def subtree_jobs(s) -> list[dict]:
        out = [jobs[j] for j in s["jobs"]]
        for c in children.get(s["id"], []):
            if c["kind"] != "plan":
                out += subtree_jobs(c)
        return out

    def dur(s) -> float:
        return s["end"] - s["start"]

    layers: dict[str, _Acc] = {}
    tiers: dict[str, float] = {}
    commits = 0
    commit_jobs = 0
    overhead = 0.0
    store_write = 0
    for s in spans:
        plan = plan_of.get(s["id"])
        plan_s = dur(plan) if plan else 0.0
        plan_jobs = [jobs[j] for j in plan["jobs"]] if plan else []
        if s["kind"] == "commit":
            stage = s["attrs"]["stage"].split("@")[0]
            commits += 1
            own = subtree_jobs(s)
            commit_jobs += len(own)
            data_writes = [c for c in children.get(s["id"], [])
                           if c["kind"] == "write" and not c["attrs"]["aux"]]
            overhead += dur(s) - sum(dur(c) for c in data_writes)
            acc_w = _Acc()
            acc_w.add_jobs(own)
            store_write += acc_w.output
            layer = STAGE_LAYER.get(stage)
            if layer:
                acc = layers.setdefault(layer, _Acc())
                acc.busy_s += dur(s) + plan_s
                acc.add_jobs(own + plan_jobs)
                acc.plan_jobs += len(plan_jobs)
            parent = by_id.get(s["parent"])
            in_curation = parent is not None and parent["name"] == "CurationPipeline.run"
            tier = CURATION_TIER.get(stage) if in_curation else None
            if tier:
                tiers[tier] = tiers.get(tier, 0.0) + dur(s) + plan_s
        elif s["name"] == "DedupPipeline.run":
            parent = by_id.get(s["parent"])
            if parent is not None and parent["name"] == "CurationPipeline.run":
                tiers["near_dup"] = tiers.get("near_dup", 0.0) + dur(s) + plan_s

    out: dict[str, float] = {}

    def L(name: str) -> _Acc:
        return layers.get(name) or _Acc()

    sig = L("operators.signatures")
    out["operators.signatures.busy_s"] = sig.busy_s
    out["operators.signatures.executor_cpu_s"] = sig.cpu_ns / 1e9
    out["operators.signatures.jvm_wait_s"] = max(0.0, sig.run_ms / 1e3 - sig.cpu_ns / 1e9)
    out["operators.signatures.plan_jobs"] = sig.plan_jobs

    rows = facts.get("rows", {})
    cand = L("operators.candidates")
    out["operators.candidates.busy_s"] = cand.busy_s
    out["operators.candidates.pairs_out"] = rows.get("candidates", 0)
    out["operators.candidates.shuffle_write_mb"] = cand.shuffle_write / 1e6
    out["operators.candidates.max_bucket_width"] = facts.get("max_bucket_width", 0)
    out["operators.candidates.task_p50_ms"] = quantile(cand.task_ms, 0.5)
    out["operators.candidates.task_p99_ms"] = quantile(cand.task_ms, 0.99)
    out["operators.candidates.plan_jobs"] = cand.plan_jobs

    ver = L("operators.verify")
    out["operators.verify.busy_s"] = ver.busy_s
    out["operators.verify.pairs_in"] = rows.get("candidates", 0)
    out["operators.verify.edges_out"] = rows.get("edges", 0)
    out["operators.verify.useful_ratio"] = (
        rows.get("edges", 0) / rows["candidates"] if rows.get("candidates") else 0.0
    )
    out["operators.verify.shuffle_write_mb"] = ver.shuffle_write / 1e6
    out["operators.verify.spill_mb"] = ver.spill / 1e6
    out["operators.verify.plan_jobs"] = ver.plan_jobs

    clu = L("operators.cluster")
    out["operators.cluster.busy_s"] = clu.busy_s
    out["operators.cluster.jobs"] = clu.jobs
    out["operators.cluster.shuffle_write_mb"] = clu.shuffle_write / 1e6
    out["operators.cluster.plan_jobs"] = clu.plan_jobs

    out["plans.pipeline.commits"] = commits
    out["plans.pipeline.commit_overhead_s"] = overhead
    out["plans.pipeline.jobs_per_commit"] = commit_jobs / commits if commits else 0.0
    out["plans.pipeline.store_write_mb"] = store_write / 1e6

    cur = [s for s in spans if s["name"] == "process_curation_batch"]
    inc = [s for s in spans if s["name"] == "process_incremental_batch"]
    root_jobs = sum(len(s["jobs"]) for s in spans)
    out["streaming.stream.batches"] = len(cur)
    out["streaming.stream.curation_batch_s"] = (
        statistics.median(dur(s) for s in cur) if cur else 0.0)
    out["streaming.stream.dedup_batch_s"] = (
        statistics.median(dur(s) for s in inc) if inc else 0.0)
    out["streaming.stream.jobs_per_batch"] = root_jobs / len(cur) if cur else 0.0
    out["streaming.stream.state_mb"] = facts.get("state_mb", 0.0)

    out["operators.corpus.busy_s"] = L("operators.corpus").busy_s
    out["operators.corpus.plan_jobs"] = L("operators.corpus").plan_jobs
    out["operators.dedup.busy_s"] = L("operators.dedup").busy_s
    out["operators.dedup.plan_jobs"] = L("operators.dedup").plan_jobs
    for t in CURATION_TIERS:
        out[f"plans.curation.{t}.busy_s"] = tiers.get(t, 0.0)
    return out


def median_metrics(per_op: list[dict]) -> dict:
    """Per-metric median over operations."""
    return {k: statistics.median(m[k] for m in per_op) for k in per_op[0]}
