"""Streaming variant, multimodal plumbing, incremental update tests."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from localitysensitivesketch_spark.config import SketchConfig
from localitysensitivesketch_spark.fixtures import corpus_to_spark, generate_corpus
from localitysensitivesketch_spark.operators.signatures import (
    compute_signatures,
    with_doc_id,
)
from localitysensitivesketch_spark.plans.incremental import incremental_update
from localitysensitivesketch_spark.plans.pipeline import DedupPipeline
from localitysensitivesketch_spark.sources import multimodal as M
from localitysensitivesketch_spark.streaming import stream as ST

CFG = SketchConfig()


def _write_docs(spark, tmp_path, n=60, seed=21, n_files=2):
    corpus = generate_corpus(n_docs=n, seed=seed)
    docs = with_doc_id(corpus_to_spark(spark, corpus))
    path = str(tmp_path / "docs")
    docs.repartition(n_files).write.mode("overwrite").parquet(path)
    return path, docs


# ---------------------------------------------------------------------------
# streaming
# ---------------------------------------------------------------------------


def test_stream_signatures_match_batch(spark, tmp_path):
    path, docs = _write_docs(spark, tmp_path)
    stream = ST.read_document_stream(
        spark, path,
        schema="url string, warc_ts timestamp, html binary, text string, "
               "lang string, doc_id long",
        max_files_per_trigger=1,
    )
    q = ST.stream_signatures(
        stream, CFG, str(tmp_path / "sigs"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "sigs"))
    batch = compute_signatures(spark.read.parquet(path), CFG)
    g = {r["doc_id"]: (tuple(r["minhash"]), r["simhash"]) for r in got.collect()}
    b = {r["doc_id"]: (tuple(r["minhash"]), r["simhash"]) for r in batch.collect()}
    assert g == b


def test_windowed_event_counts_batch_semantics(spark):
    rows = [
        ("2024-01-01 00:00:10", "a"),
        ("2024-01-01 00:00:50", "a"),
        ("2024-01-01 00:01:10", "a"),
        ("2024-01-01 00:00:30", "b"),
    ]
    df = spark.createDataFrame(rows, "ts string, key string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = {
        (str(r["window_start"]), r["key"]): r["cnt"]
        for r in ST.windowed_event_counts(df, window="1 minute").collect()
    }
    assert out[("2024-01-01 00:00:00", "a")] == 2
    assert out[("2024-01-01 00:01:00", "a")] == 1
    assert out[("2024-01-01 00:00:00", "b")] == 1


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


def test_binary_metadata_sniffs_formats(spark):
    rows = [
        (1, b"\x89PNG\r\n\x1a\n" + b"x" * 10),
        (2, b"\xff\xd8\xff\xe0" + b"y" * 5),
        (3, b"zzzz"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in M.binary_metadata(df).collect()}
    assert out[1]["format"] == "png" and out[1]["n_bytes"] == 18
    assert out[2]["format"] == "jpeg"
    assert out[3]["format"] == "unknown"
    assert out[1]["payload_crc32"] != out[2]["payload_crc32"]


def test_decode_features_deterministic_fake(spark):
    rows = [(1, b"\x89PNG1234" * 10), (2, b"\x89PNG1234" * 10), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in M.decode_features(df, strict=False).collect()}
    assert out[1]["decode_ok"] and out[2]["decode_ok"] and not out[3]["decode_ok"]
    assert out[1]["feature"] == out[2]["feature"]
    assert len(out[1]["feature"]) == 16


def test_decode_features_strict_raises(spark):
    df = spark.createDataFrame([(1, b"abc")], "doc_id long, payload binary")
    with pytest.raises(Exception, match="NotImplementedError|no image codec"):
        M.decode_features(df, strict=True).collect()


def test_frame_sample_offsets(spark):
    df = spark.createDataFrame([(1, 3500), (2, 500)], "doc_id long, duration_ms int")
    out = M.frame_sample_offsets(df).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["offset_ms"])
    assert sorted(by_doc[1]) == [0, 1000, 2000, 3000]
    assert sorted(by_doc[2]) == [0]


# ---------------------------------------------------------------------------
# incremental update
# ---------------------------------------------------------------------------


def _labels(df):
    return sorted((r["doc_id"], r["cluster_id"]) for r in df.collect())


def test_incremental_update_equals_full_run(spark, tmp_path):
    """The same old/new split through the three routes — the batch MERGE
    on a committed run, two stream micro-batches, a from-scratch run —
    gives the same cluster partition (labels are min doc_ids, so equal
    labels are equal partitions).  On the first input the MERGE runs on
    a store whose signatures were committed in slices and whose verified
    table carries the two int columns verify wrote before it dropped
    them.  On the second input the MERGE first crashes right after its
    first commit and is then retried, so the assertions below also hold
    for a retried merge.  Each merge commit records the wall of its own
    write, so together they never exceed the merge's wall."""
    import json
    import time

    from localitysensitivesketch_spark.operators.cluster import (
        connected_components,
    )

    for n, seed, n_old in ((100, 31, 60), (80, 37, 20)):
        corpus = generate_corpus(n_docs=n, seed=seed)
        docs = with_doc_id(corpus_to_spark(spark, corpus)).cache()
        # old = the first n_old urls in sorted order, new = the rest
        old_urls = set(sorted(corpus.url)[:n_old])
        old_docs = docs.filter(F.col("url").isin(*old_urls)).cache()
        new_docs = docs.filter(~F.col("url").isin(*old_urls)).cache()
        root = tmp_path / f"seed{seed}"

        pipe = DedupPipeline(spark, str(root / "inc"), CFG)
        if seed == 31:
            pipe.run(old_docs, signature_slices=2)
            legacy = pipe.store.read("verified")
            for c in ("n_shingles_1", "n_shingles_2"):
                legacy = legacy.withColumn(c, F.lit(1).cast("int"))
            pipe.store.write("verified", legacy)
        else:
            pipe.run(old_docs)
        if seed == 37:
            write = pipe.store.write

            def crash_after_first_commit(*args, **kwargs):
                write(*args, **kwargs)
                raise RuntimeError("simulated crash between commits")

            pipe.store.write = crash_after_first_commit
            with pytest.raises(RuntimeError, match="between commits"):
                incremental_update(pipe.store, docs, new_docs, CFG)
            del pipe.store.write
        lineage = root / "inc" / "lineage.jsonl"
        n_before = len(lineage.read_text().splitlines())
        t0 = time.time()
        out = incremental_update(pipe.store, docs, new_docs, CFG)
        merge_wall = time.time() - t0
        merge_rows = lineage.read_text().splitlines()[n_before:]
        assert sum(json.loads(r)["wall_sec"] for r in merge_rows) <= merge_wall
        assert len(merge_rows) == 5, seed
        inc_clusters = _labels(out["clusters"])

        store = str(root / "stream")
        ST.process_incremental_batch(spark, old_docs, 0, CFG, store, old_docs)
        ST.process_incremental_batch(spark, new_docs, 1, CFG, store, docs)
        stream_clusters = _labels(spark.read.parquet(f"{store}/clusters"))

        full = DedupPipeline(spark, str(root / "full"), CFG).run(docs)
        full_clusters = _labels(full.clusters)
        assert inc_clusters == full_clusters, seed
        assert stream_clusters == full_clusters, seed
        assert len(full_clusters) == n

        # the stream's stored edges rebuild the same partition
        edges = spark.read.parquet(f"{store}/edges")
        assert _labels(connected_components(docs.select("doc_id"), edges)) == (
            full_clusters
        )

        # store committed the merged state: signatures cover all docs
        resumed = DedupPipeline(spark, str(root / "inc"), CFG)
        assert resumed.store.read("signatures").count() == n


def test_merge_batch_bloom_probe_parity_and_plan(spark, monkeypatch):
    """The new-vs-old probe of the shared incremental step: the bloom plan
    (large old side) and the plain plan (small old side) merge to the
    same clusters; only the bloom plan carries ``might_contain``."""
    from localitysensitivesketch_spark.functions.bloom import bloom_supported
    from localitysensitivesketch_spark.plans import incremental as I

    docs = with_doc_id(
        corpus_to_spark(spark, generate_corpus(n_docs=100, seed=41))
    ).select("doc_id", "text").cache()
    old_docs = docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) != 0).cache()
    new_docs = docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == 0).cache()
    old_ids = {r["doc_id"] for r in old_docs.select("doc_id").collect()}
    prior = I.merge_batch(old_docs, old_docs, None, CFG)
    prior_clusters = prior["clusters"].localCheckpoint(eager=True)

    def step(bloom):
        monkeypatch.setattr(I, "auto_prefilter_enabled", lambda df: bloom)
        return I.merge_batch(
            new_docs, docs, prior["signatures"], CFG, clusters=prior_clusters
        )

    on, off = step(True), step(False)

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    if bloom_supported(spark):
        assert "might_contain" in plan(on["candidates"])
    assert "might_contain" not in plan(off["candidates"])
    cands = {tuple(r) for r in on["candidates"].collect()}
    assert cands == {tuple(r) for r in off["candidates"].collect()}
    # the probe matters: some candidates pair a new doc with an old one
    assert any((a in old_ids) != (b in old_ids) for a, b in cands)
    assert _labels(on["clusters"]) == _labels(off["clusters"])
    from localitysensitivesketch_spark.operators.dedup import minhash_lsh_dedup

    want = _labels(minhash_lsh_dedup(docs, CFG)["clusters"])
    assert _labels(on["clusters"]) == want


# ---------------------------------------------------------------------------
# binary KV record source (reference wire format)
# ---------------------------------------------------------------------------


def test_binary_kv_records_roundtrip(spark, tmp_path):
    from localitysensitivesketch_spark.sources.binary_records import (
        kv_records_to_counts,
        read_kv_records,
        write_kv_records,
    )

    recs = [
        (b"\x0a\x00\x00\x01", 3),
        (b"\x0a\x00\x00\x02", -7),          # negative int32 survives
        (b"\x0a\x00\x00\x01", 2_000_000_000),  # large int32
    ]
    p = tmp_path / "trace.dat"
    write_kv_records(str(p), recs, key_len=4)
    # truncated tail byte must be ignored
    with open(p, "ab") as f:
        f.write(b"\xff")
    out = read_kv_records(spark, str(p), key_len=4).collect()
    assert len(out) == 3
    got = [(bytes(r["key"]), r["count"]) for r in sorted(out, key=lambda r: r["record_idx"])]
    assert got == recs
    counts = {
        bytes(r["key"]): r["cnt"]
        for r in kv_records_to_counts(
            read_kv_records(spark, str(p), key_len=4)
        ).collect()
    }
    assert counts[b"\x0a\x00\x00\x01"] == 3 + 2_000_000_000
    assert counts[b"\x0a\x00\x00\x02"] == -7


# ---------------------------------------------------------------------------
# round-2: kafka projection, replay idempotence, bloom pre-filter
# ---------------------------------------------------------------------------


def test_project_kafka_records_batch(spark):
    """The Kafka branch's value→document projection, unit-tested on a
    batch DataFrame with the exact kafka source shape (no broker)."""
    import base64
    import json

    docs = [
        {"url": "http://a", "warc_ts": "2024-01-01 00:00:00",
         "html": base64.b64encode(b"<p>hi</p>").decode(), "text": "hi there",
         "lang": "en"},
        {"url": "http://b", "warc_ts": "2024-02-02 12:00:00", "html": None,
         "text": "hallo", "lang": "de"},
    ]
    rows = [
        (b"k1", json.dumps(d).encode(), "docs", 0, i, None)
        for i, d in enumerate(docs)
    ]
    raw = spark.createDataFrame(
        rows,
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp timestamp",
    )
    out = {r["url"]: r for r in ST.project_kafka_records(raw).collect()}
    assert set(out) == {"http://a", "http://b"}
    assert bytes(out["http://a"]["html"]) == b"<p>hi</p>"
    assert out["http://a"]["text"] == "hi there"
    assert out["http://b"]["lang"] == "de"
    assert str(out["http://b"]["warc_ts"]).startswith("2024-02-02")


def _stored(spark, store, table, cols):
    return sorted(
        tuple(r) for r in spark.read.parquet(f"{store}/{table}").select(*cols)
        .collect()
    )


def test_incremental_candidates_replay_is_idempotent(spark, tmp_path):
    """Structured Streaming's failure contract: after a crash between the
    sink write and the checkpoint commit, the LAST batch is replayed with
    the same batch_id against a store that already contains that batch's
    own writes.  The per-batch dynamic partition overwrite must make the
    replay rewrite its own partition instead of appending duplicates."""
    path, docs = _write_docs(spark, tmp_path, n=60, seed=23, n_files=2)
    store = str(tmp_path / "store")
    b0 = docs.filter(F.xxhash64("doc_id") % 2 == 0)
    b1 = docs.filter(F.xxhash64("doc_id") % 2 != 0)

    ST.process_incremental_batch(spark, b0, 0, CFG, store, b0)
    ST.process_incremental_batch(spark, b1, 1, CFG, store, docs)
    tables = {
        "sigs": ["doc_id", "simhash", "batch_id"],
        "edges": ["id1", "id2", "batch_id"],
        "clusters": ["doc_id", "cluster_id"],
    }
    before = {t: _stored(spark, store, t, c) for t, c in tables.items()}
    assert len(before["sigs"]) == 60 and len(before["clusters"]) == 60
    assert before["edges"]
    # a store from before pairs/ and docs/ were dropped still carries both
    # dirs; they are never read
    for table, row, schema in (
        ("pairs", (1, 2, 0), "id1 long, id2 long, batch_id int"),
        ("docs", (1, "stale", 0), "doc_id long, text string, batch_id int"),
    ):
        spark.createDataFrame([row], schema).write.partitionBy(
            "batch_id"
        ).parquet(f"{store}/{table}")
    # replay the last batch (crash-before-commit): same batch_id, same rows,
    # store already holds batch 1's sigs/edges and the merged snapshot
    ST.process_incremental_batch(spark, b1, 1, CFG, store, docs)
    after = {t: _stored(spark, store, t, c) for t, c in tables.items()}
    for t, rows in after.items():
        assert len(rows) == len(set(rows)), f"duplicate rows in {t}/"
    assert after == before


def test_bloom_prefilter_members_and_plan(spark):
    from localitysensitivesketch_spark.functions.bloom import (
        bloom_build,
        might_contain,
        optimal_bits,
    )

    assert optimal_bits(1000, 0.001) > 1000  # ~14.4 bits/key
    keys = spark.range(2000).select(F.xxhash64("id").alias("key"))
    bloom = bloom_build(keys, "key", expected_items=2000, fpp=0.001)
    assert bloom is not None and len(bloom) > 1000
    pred = might_contain(keys, "key", bloom)
    assert pred is not None
    # no false negatives, ever
    assert keys.filter(pred).count() == 2000
    # the predicate is a real filter in the plan (pushable ahead of joins)
    others = spark.range(100_000, 110_000).select(F.xxhash64("id").alias("key"))
    pred2 = might_contain(others, "key", bloom)
    filtered = others.filter(pred2)
    assert "might_contain" in filtered._sc._jvm.PythonSQLUtils.explainString(
        filtered._jdf.queryExecution(), "formatted"
    )
    # false-positive rate near the configured 1e-3
    assert filtered.count() < 100


def _feed_files(spark, path, store):
    """One process_incremental_batch per parquet file of ``path`` — the
    micro-batches a ``maxFilesPerTrigger=1`` stream would cut, each with
    the files read so far as its documents.  Returns the batches."""
    import glob

    files = sorted(glob.glob(f"{path}/part-*.parquet"))
    batches = [spark.read.parquet(f) for f in files]
    for bid, b in enumerate(batches):
        ST.process_incremental_batch(
            spark, b, bid, CFG, store, spark.read.parquet(*files[: bid + 1])
        )
    return batches


def test_streaming_full_pipeline_clusters_match_batch(spark, tmp_path):
    """Each micro-batch runs verify + edge merge + CC, so the final
    cluster snapshot equals the batch pipeline's clusters on the same
    corpus — and replaying the last batch (the Structured Streaming crash
    contract) leaves the snapshot unchanged."""
    from localitysensitivesketch_spark.operators.dedup import minhash_lsh_dedup

    path, docs = _write_docs(spark, tmp_path, n=80, seed=29, n_files=3)
    store = str(tmp_path / "store")
    batches = _feed_files(spark, path, store)
    assert len(batches) == 3

    got = _labels(spark.read.parquet(f"{store}/clusters"))
    want = _labels(minhash_lsh_dedup(spark.read.parquet(path), CFG)["clusters"])
    assert got == want and len(got) == 80

    # replay the LAST batch with the same batch_id against the already-
    # written store: snapshot and per-batch tables must be unchanged
    edges = _stored(spark, store, "edges", ["id1", "id2", "batch_id"])
    ST.process_incremental_batch(
        spark, batches[-1], len(batches) - 1, CFG, store,
        spark.read.parquet(path),
    )
    assert _labels(spark.read.parquet(f"{store}/clusters")) == want
    assert spark.read.parquet(f"{store}/sigs").count() == 80  # no dup rows
    assert _stored(spark, store, "edges", ["id1", "id2", "batch_id"]) == edges


def test_streaming_snapshot_crash_between_renames_recovers(spark, tmp_path):
    """The snapshot swap's worst crash point — old snapshot renamed away,
    new one not yet in place (cluster_path absent) — must recover on
    replay: the shared step rebuilds the snapshot from the documents and
    the durably stored per-batch edges.  Stale staging garbage must also
    be tolerated."""
    import os
    import shutil

    path, docs = _write_docs(spark, tmp_path, n=60, seed=33, n_files=2)
    store = str(tmp_path / "store_crash")
    batches = _feed_files(spark, path, store)
    want = _labels(spark.read.parquet(f"{store}/clusters"))

    # simulate: crash after rename(clusters -> old), before the new rename
    shutil.move(f"{store}/clusters", f"{store}/clusters__old")
    # plus stale staging garbage from the interrupted attempt
    (tmp_path / "store_crash" / "clusters__staging").mkdir()
    ST.process_incremental_batch(
        spark, batches[-1], len(batches) - 1, CFG, store,
        spark.read.parquet(path),
    )
    assert _labels(spark.read.parquet(f"{store}/clusters")) == want
    assert not os.path.exists(f"{store}/clusters__old")
    assert not os.path.exists(f"{store}/clusters__staging")


# ---------------------------------------------------------------------------
# streaming curation (round-4 VERDICT #6)
# ---------------------------------------------------------------------------

_GOOD = "the quick brown fox jumps over the lazy dog and runs far away"
_DUP = "shared boilerplate text that appears again and again across the crawl"
_JUNK = "aa aa aa aa aa aa aa aa aa aa aa aa"  # fails chars/token + dup-2gram
_GQ = {"min_tokens": 5}


def _curation_batches(spark):
    """Three doc batches with ascending ids, planted cross-batch exact dups
    and quality-gate failures."""
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    b0 = mk([(0, _GOOD + " zero"), (1, _DUP), (2, _JUNK), (3, _GOOD + " alpha")])
    b1 = mk([(10, _DUP), (11, _GOOD + " beta"), (12, _JUNK), (13, _DUP)])
    b2 = mk([(20, _GOOD + " gamma"), (21, _DUP), (22, _GOOD + " zero")])
    return [b0, b1, b2]


def _batch_funnel(docs):
    """The batch-mode equivalent of the streamed tiers: exact dedup
    (min-id keeper per md5) then the quality gate."""
    from localitysensitivesketch_spark.operators.corpus import gopher_filter
    from localitysensitivesketch_spark.operators.dedup import exact_dedup

    kept = exact_dedup(docs)
    return kept.join(
        gopher_filter(kept, **_GQ).filter("keep").select("doc_id"),
        "doc_id",
        "left_semi",
    )


def test_curation_batches_match_batch_funnel_and_replay(spark, tmp_path):
    """Ordered micro-batches through process_curation_batch must land
    exactly the batch funnel's keep-list (quality+exact tiers), and
    replaying the last batch (Structured Streaming crash contract) must
    leave the store unchanged."""
    batches = _curation_batches(spark)
    alldocs = batches[0].unionByName(batches[1]).unionByName(batches[2])
    store = str(tmp_path / "cur_store")
    for i, b in enumerate(batches):
        ST.process_curation_batch(spark, b, i, store, gopher_kwargs=_GQ)

    want = sorted(r["doc_id"] for r in _batch_funnel(alldocs).collect())
    got = sorted(r["doc_id"] for r in ST.read_curated(spark, store).collect())
    assert got == want == [0, 1, 3, 11, 20]

    # replay the last batch: same batch_id, same rows, store already
    # holds batch 2's partitions — must be a perfect no-op
    ST.process_curation_batch(spark, batches[2], 2, store, gopher_kwargs=_GQ)
    again = sorted(r["doc_id"] for r in ST.read_curated(spark, store).collect())
    assert again == want
    hashes = spark.read.parquet(f"{store}/exact_hashes")
    assert hashes.count() == hashes.select("h").distinct().count()

    # per-batch metrics audit rows
    m = {
        r["batch_id"]: (r["n_in"], r["n_quality_kept"], r["n_curated"])
        for r in spark.read.parquet(f"{store}/curation_metrics").collect()
    }
    assert m == {0: (4, 3, 3), 1: (4, 3, 1), 2: (3, 3, 1)}


def test_curation_batch_blocklist_and_redact_tiers(spark, tmp_path):
    """The stateless streaming tiers: a host blocklist drops rows before
    any text work (suffix match through subdomains), redact=True lands a
    redacted_text column while the raw text stays byte-identical, and a
    replay is still a no-op."""
    mk = lambda rows: spark.createDataFrame(
        rows, "doc_id long, url string, text string"
    )
    b0 = mk(
        [
            (0, "https://ok.example.com/a", _GOOD + " email me a@b.com now"),
            (1, "https://spam.bad.net/x", _GOOD + " spam one"),
            (2, "https://sub.spam.bad.net/y", _GOOD + " spam two"),
            (3, "https://fine.org/z", _GOOD + " clean"),
        ]
    )
    store = str(tmp_path / "blk_store")
    out = ST.process_curation_batch(
        spark, b0, 0, store, gopher_kwargs=_GQ,
        blocklist=["spam.bad.net"], redact=True,
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert sorted(rows) == [0, 3]  # both blocklisted hosts dropped
    # raw text untouched; redaction is a derived column
    assert "a@b.com" in rows[0]["text"]
    assert "a@b.com" not in rows[0]["redacted_text"]
    assert rows[3]["redacted_text"] == rows[3]["text"]

    m = spark.read.parquet(f"{store}/curation_metrics").collect()[0]
    assert (m["n_in"], m["n_unblocked"], m["n_curated"]) == (4, 2, 2)

    # replay contract holds with the stateless tiers active
    ST.process_curation_batch(
        spark, b0, 0, store, gopher_kwargs=_GQ,
        blocklist=["spam.bad.net"], redact=True,
    )
    again = sorted(r["doc_id"] for r in ST.read_curated(spark, store).collect())
    assert again == [0, 3]


def test_stream_curation_end_to_end_with_dedup(spark, tmp_path):
    """stream_curation over a real file stream: the landed curated corpus
    keeps exactly one doc per surviving text (md5-set equality with the
    batch funnel regardless of file trigger order), and dedup=True chains
    the near-dup pipeline over survivors only."""
    batches = _curation_batches(spark)
    alldocs = batches[0].unionByName(batches[1]).unionByName(batches[2])
    path = str(tmp_path / "cur_docs")
    for i, b in enumerate(batches):
        b.coalesce(1).write.mode("append").parquet(path)
    store = str(tmp_path / "cur_stream_store")
    stream = ST.read_document_stream(
        spark, path, schema="doc_id long, text string", max_files_per_trigger=1
    )
    q = ST.stream_curation(
        spark, stream, store, cfg=CFG, gopher_kwargs=_GQ, dedup=True
    )
    q.awaitTermination(300)

    curated = ST.read_curated(spark, store)
    got_md5 = sorted(
        r["h"] for r in curated.select(F.md5("text").alias("h")).collect()
    )
    want_md5 = sorted(
        r["h"]
        for r in _batch_funnel(alldocs).select(F.md5("text").alias("h")).collect()
    )
    assert got_md5 == want_md5
    assert len(got_md5) == len(set(got_md5))  # one doc per surviving text

    # the chained near-dup tier ran per batch over survivors only, and
    # reads their texts from curated/ rather than a copy of its own
    clusters = spark.read.parquet(f"{store}/dedup/clusters")
    assert sorted(r["doc_id"] for r in clusters.collect()) == sorted(
        r["doc_id"] for r in curated.collect()
    )
    assert not os.path.exists(f"{store}/dedup/docs")


def test_curation_all_dropped_first_batch_does_not_poison_store(spark, tmp_path):
    """An all-dropped micro-batch must not seed schema-less store dirs
    (a partitioned write of an empty frame lands no parquet footers and
    the NEXT batch's store read would fail schema inference).  The guard
    skips empty writes; later batches then create the dirs properly."""
    store = str(tmp_path / "cur_store_empty_first")
    junk = spark.createDataFrame([(0, _JUNK), (1, _JUNK)], "doc_id long, text string")
    ST.process_curation_batch(spark, junk, 0, store, gopher_kwargs=_GQ)
    # batch 0 dropped everything: no curated/exact_hashes dirs were seeded
    import os as _os

    assert not _os.path.exists(f"{store}/curated")
    assert not _os.path.exists(f"{store}/exact_hashes")
    # batch 1 has survivors and must process cleanly against the store
    good = spark.createDataFrame(
        [(10, _GOOD + " one"), (11, _GOOD + " two")], "doc_id long, text string"
    )
    ST.process_curation_batch(spark, good, 1, store, gopher_kwargs=_GQ)
    got = sorted(r["doc_id"] for r in ST.read_curated(spark, store).collect())
    assert got == [10, 11]
    # and a later all-dropped batch is a no-op, not a poisoned write
    ST.process_curation_batch(spark, junk, 2, store, gopher_kwargs=_GQ)
    again = sorted(r["doc_id"] for r in ST.read_curated(spark, store).collect())
    assert again == [10, 11]


def test_curation_bookkeeping_is_jvm_side_and_unprobed(spark, tmp_path, monkeypatch):
    """The per-batch metrics row plans as a LocalRelation/Range (never a
    LogicalRDD over a Python list, whose every action runs Python-worker
    tasks), keeps its values and schema, and a non-empty batch takes no
    isEmpty() probe: every write's emptiness follows from counts the
    batch already took."""
    written = {}
    real_write = ST._write_by_batch

    def capture(df, path, batch_id, empty=None):
        written[path.rsplit("/", 1)[-1]] = df
        real_write(df, path, batch_id, empty)

    probes = []
    frame_cls = type(spark.range(1))
    real_is_empty = frame_cls.isEmpty

    def counting_is_empty(self):
        probes.append(1)
        return real_is_empty(self)

    monkeypatch.setattr(ST, "_write_by_batch", capture)
    monkeypatch.setattr(frame_cls, "isEmpty", counting_is_empty)
    store = str(tmp_path / "bookkeeping_store")
    ST.process_curation_batch(
        spark, _curation_batches(spark)[0], 0, store, gopher_kwargs=_GQ
    )
    assert probes == []

    plan = written["curation_metrics"]._jdf.queryExecution().optimizedPlan()
    plan = plan.toString()
    assert "LogicalRDD" not in plan
    assert "LocalRelation" in plan or "Range" in plan
    m = spark.read.parquet(f"{store}/curation_metrics")
    assert m.schema.simpleString() == (
        "struct<n_in:bigint,n_unblocked:bigint,n_quality_kept:bigint,"
        "n_curated:bigint,batch_id:int>"
    )
    assert [tuple(r) for r in m.collect()] == [(4, 4, 3, 3, 0)]


def test_stream_curation_all_dropped_first_batch_skips_near_dup_tier(
    spark, tmp_path
):
    """An all-dropped micro-batch leaves the near-dup state untouched (no
    dedup store is created for it); the next good batch then ends with
    the batch reference's clusters, and a replay of that batch (its
    commit removed from the stream checkpoint) is a no-op."""
    import os as _os

    from localitysensitivesketch_spark.operators.corpus import gopher_filter
    from localitysensitivesketch_spark.operators.dedup import (
        exact_dedup,
        minhash_lsh_dedup,
    )

    gq = {"min_chars_per_token": 0.0, "max_chars_per_token": 100.0, **_GQ}
    path = str(tmp_path / "drop_first_docs")
    store = str(tmp_path / "drop_first_store")

    def run_stream():
        stream = ST.read_document_stream(
            spark, path, schema="doc_id long, text string",
            max_files_per_trigger=1,
        )
        ST.stream_curation(
            spark, stream, store, cfg=CFG, gopher_kwargs=gq, dedup=True
        ).awaitTermination(300)

    junk = spark.createDataFrame(
        [(0, _JUNK), (1, _JUNK)], "doc_id long, text string"
    )
    junk.coalesce(1).write.mode("append").parquet(path)
    run_stream()
    assert not _os.path.exists(f"{store}/curated")
    assert not _os.path.exists(f"{store}/dedup")  # the tier did not run

    good = with_doc_id(
        corpus_to_spark(
            spark, generate_corpus(n_docs=40, seed=5, min_tokens=40, max_tokens=120)
        )
    ).select("doc_id", "text")
    good.coalesce(1).write.mode("append").parquet(path)
    run_stream()  # a restart picks up the new file as batch 1

    kept = exact_dedup(good)
    survivors = kept.join(
        gopher_filter(kept, min_stopword_ratio=0.0, **gq)
        .filter("keep")
        .select("doc_id"),
        "doc_id",
        "left_semi",
    )
    want = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in minhash_lsh_dedup(survivors, CFG)["clusters"].collect()
    )

    def clusters():
        return sorted(
            (r["doc_id"], r["cluster_id"])
            for r in spark.read.parquet(f"{store}/dedup/clusters").collect()
        )

    got = clusters()
    assert got == want
    assert len({c for _, c in got}) < len(got)  # some near-dups clustered

    commits = f"{store}/_curation_checkpoint/commits"
    _os.remove(f"{commits}/1")
    _os.remove(f"{commits}/.1.crc")
    run_stream()  # Structured Streaming replays batch 1
    assert clusters() == want
    assert spark.read.parquet(f"{store}/dedup/sigs").count() == len(want)
    assert not _os.path.exists(f"{store}/dedup/docs")
    assert ST.read_curated(spark, store).count() == len(want)
