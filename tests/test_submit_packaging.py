"""North-rule run mode + invariants: spark-submit --py-files packaging and
byte-identical extracted text per url through the pipeline.

The north rule requires (a) the job to run via ``spark-submit --py-files``
(tools/build_pyfiles.py + tools/submit_job.py) and (b) the pipeline to
"preserve byte-identical extracted text per url" (input_hint).  The submit
test runs the REAL command line — fresh JVM, package imported only from the
zip — on a fixture corpus; the invariant test checks the keep-list's text
and html bytes against the generator's originals.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from localitysensitivesketch_spark.config import SketchConfig
from localitysensitivesketch_spark.fixtures import corpus_to_spark, generate_corpus
from localitysensitivesketch_spark.operators.signatures import with_doc_id

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CFG = SketchConfig()


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(n_docs=300, seed=11)


@pytest.fixture(scope="module")
def input_parquet(spark, corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("submit") / "documents.parquet")
    corpus_to_spark(spark, corpus).write.mode("overwrite").parquet(path)
    return path


def test_spark_submit_pyfiles_end_to_end(corpus, input_parquet, tmp_path):
    """The exact north-rule command line: zip the package, spark-submit the
    job with --py-files, and check the three outputs from a fresh JVM whose
    PYTHONPATH does NOT include the repo (zip is the only import source)."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from build_pyfiles import build  # noqa: E402

    zip_path = build(str(tmp_path / "lss_spark.zip"))
    out_dir = str(tmp_path / "out")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = ""  # prove imports come from the zip
    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--conf", "spark.local.dir=/dev/shm/lss_submit_test",
            "--py-files", zip_path,
            os.path.join(REPO, "tools", "submit_job.py"),
            "--input", input_parquet,
            "--output", out_dir,
            "--checkpoint", str(tmp_path / "ckpt"),
            "--signature-slices", "4",
        ],
        capture_output=True, text=True, timeout=600, env=env, cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    metrics = json.loads(proc.stdout.strip().splitlines()[-1])
    assert metrics["n_docs"] == len(corpus)
    assert 0 < metrics["n_clusters"] < len(corpus)  # fixture plants dups
    assert set(metrics["stages_run"]) == set(
        ("signatures", "candidates", "skew_metrics", "verified", "edges",
         "clusters")
    )
    for leaf in ("clusters.parquet", "cluster_stats.parquet", "keep.parquet"):
        assert os.path.exists(os.path.join(out_dir, leaf, "_SUCCESS"))

    # resume path through the same command line: everything reused
    proc2 = subprocess.run(
        [
            "spark-submit", "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--conf", "spark.local.dir=/dev/shm/lss_submit_test",
            "--py-files", zip_path,
            os.path.join(REPO, "tools", "submit_job.py"),
            "--input", input_parquet,
            "--output", out_dir,
            "--checkpoint", str(tmp_path / "ckpt"),
            "--signature-slices", "4",
        ],
        capture_output=True, text=True, timeout=600, env=env, cwd=str(tmp_path),
    )
    assert proc2.returncode == 0, proc2.stderr[-4000:]
    metrics2 = json.loads(proc2.stdout.strip().splitlines()[-1])
    assert metrics2["stages_run"] == []
    assert set(metrics2["stages_resumed"]) == set(metrics["stages_run"])
    assert metrics2["n_clusters"] == metrics["n_clusters"]


def test_keep_list_text_bytes_identical_per_url(spark, corpus, tmp_path):
    """input_hint invariant: the pipeline never rewrites `text` (or `html`)
    — every surviving url carries byte-identical content."""
    from pyspark.sql import functions as F

    from localitysensitivesketch_spark.plans.pipeline import DedupPipeline

    docs = with_doc_id(corpus_to_spark(spark, corpus)).cache()
    res = DedupPipeline(spark, str(tmp_path / "ckpt"), CFG).run(docs)
    keep = (
        res.cluster_stats.select(F.col("canonical_doc_id").alias("doc_id"))
        .join(docs, "doc_id")
        .select("url", "text", "html")
        .collect()
    )
    assert keep, "keep list must be non-empty"
    orig_text = {corpus.url[i]: corpus.text[i] for i in range(len(corpus))}
    orig_html = {corpus.url[i]: corpus.html[i] for i in range(len(corpus))}
    for r in keep:
        assert r.text.encode("utf-8") == orig_text[r.url].encode("utf-8")
        assert bytes(r.html) == orig_html[r.url]
