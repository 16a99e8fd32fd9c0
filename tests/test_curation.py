"""End-to-end curation funnel (plans/curation.py): recrawl → exact →
quality → near-dup, committed stages, resume, funnel audit."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from localitysensitivesketch_spark.fixtures import corpus_to_spark, generate_corpus
from localitysensitivesketch_spark.operators.corpus import (
    gopher_filter,
    remove_duplicate_spans,
)
from localitysensitivesketch_spark.operators.dedup import (
    containment_pairs,
    exact_dedup,
    latest_capture,
)
from localitysensitivesketch_spark.operators.signatures import with_doc_id
from localitysensitivesketch_spark.plans.curation import CurationPipeline

GOPHER = dict(min_tokens=5, min_stopword_ratio=0.0)  # fixture corpus is gibberish


def _has(stages, name):
    """Stage keys are qualified with a run-params hash (name@sha8)."""
    return any(s == name or s.startswith(name + "@") for s in stages)


def _raw(spark):
    corpus = generate_corpus(n_docs=150, seed=13, dup_fraction=0.3)
    df = corpus_to_spark(spark, corpus)
    # plant a recrawl: a NEWER capture of url[0] with different text — the
    # funnel must keep exactly this capture's text for that url
    extra = spark.createDataFrame(
        [
            Row(
                url=corpus.url[0],
                warc_ts=datetime(2030, 1, 1),
                html=b"<html>recrawl</html>",
                text="recrawl fresh text totally unlike anything else qq ww ee rr tt yy",
                lang="en",
            )
        ],
        df.schema,
    )
    return df.unionByName(extra), corpus


def test_curation_funnel_and_recrawl_invariant(spark, tmp_path):
    raw, corpus = _raw(spark)
    pipe = CurationPipeline(
        spark, str(tmp_path / "cur"), gopher_kwargs=GOPHER
    )
    res = pipe.run(raw)

    # recrawl tier: one row per url, and url[0] carries the NEW text
    n_urls = raw.select("url").distinct().count()
    assert res.captures.count() == n_urls
    got = res.captures.filter(F.col("url") == corpus.url[0]).collect()[0]
    assert got["text"].startswith("recrawl fresh text")

    # funnel is a consistent chain: n_in of each stage == n_out of previous,
    # counts only ever shrink, and the near-dup tier actually collapsed
    # some of the 30% planted duplicates
    rows = {r["stage"]: r for r in res.funnel.collect()}
    order = ["raw", "latest_capture", "exact_dedup", "quality_gate", "near_dup"]
    for prev, cur in zip(order, order[1:]):
        assert rows[cur]["n_in"] == rows[prev]["n_out"]
        assert rows[cur]["n_out"] <= rows[cur]["n_in"]
        assert rows[cur]["dropped"] == rows[cur]["n_in"] - rows[cur]["n_out"]
    assert rows["near_dup"]["n_out"] < rows["near_dup"]["n_in"]
    assert res.survivors.count() == rows["near_dup"]["n_out"]

    # survivors are cluster canonicals: doc_id == cluster_id for each
    surv_ids = {r["doc_id"] for r in res.survivors.select("doc_id").collect()}
    canon = {
        r["doc_id"]
        for r in res.clusters.filter(
            F.col("doc_id") == F.col("cluster_id")
        ).collect()
    }
    assert surv_ids <= canon


def test_curation_resume_reuses_every_stage(spark, tmp_path):
    raw, _ = _raw(spark)
    root = str(tmp_path / "cur")
    pipe = CurationPipeline(spark, root, gopher_kwargs=GOPHER)
    first = pipe.run(raw)
    assert first.stages_run and not first.stages_resumed

    again = CurationPipeline(spark, root, gopher_kwargs=GOPHER).run(raw)
    assert not again.stages_run, again.stages_run
    for st in ("captures", "exact_kept", "quality", "survivors", "funnel"):
        assert _has(again.stages_resumed, st), (st, again.stages_resumed)
    a = sorted(map(tuple, first.survivors.select("url", "text").collect()))
    b = sorted(map(tuple, again.survivors.select("url", "text").collect()))
    assert a == b


def test_curation_canonicalize_collapses_url_variants(spark, tmp_path):
    raw, corpus = _raw(spark)
    # cosmetic variant of url[1], OLDER ts, different text — with
    # canonicalize=True it is the same page, so only the newer capture of
    # the canonical url survives the recrawl tier
    variant = corpus.url[1].replace("https://", "HTTPS://") + "/?#frag"
    extra = spark.createDataFrame(
        [Row(url=variant, warc_ts=datetime(2000, 1, 1),
             html=b"<old>", text="stale variant text", lang="en")],
        raw.schema,
    )
    pipe = CurationPipeline(
        spark, str(tmp_path / "cur"), gopher_kwargs=GOPHER
    )
    res = pipe.run(raw.unionByName(extra), canonicalize=True)
    caps = res.captures.filter(
        F.col("canonical_url").contains(corpus.url[1].replace("https://", ""))
    ).collect()
    assert len(caps) == 1
    assert caps[0]["text"] != "stale variant text"


def test_curation_containment_tier(spark, tmp_path):
    from datetime import datetime as _dt

    base = _dt(2024, 1, 1)
    big = " ".join(f"w{i}" for i in range(9, 49))   # 40 tokens
    quote = " ".join(f"w{i}" for i in range(9, 29))  # 20 tokens ⊂ big
    other = " ".join(f"q{i}" for i in range(9, 49))  # unrelated, same size
    rows = [
        ("http://a.com/big", base, b"<b>", big, "en"),
        ("http://a.com/quote", base, b"<q>", quote, "en"),
        ("http://a.com/other", base, b"<o>", other, "en"),
    ]
    raw = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    pipe = CurationPipeline(
        spark, str(tmp_path / "cur_cont"), gopher_kwargs=GOPHER
    )
    res = pipe.run(raw, containment_threshold=1.0)
    kept = {r["url"] for r in res.survivors.select("url").collect()}
    # the quote is fully contained in the strictly larger page → dropped;
    # the two full-size pages survive (no cross containment)
    assert kept == {"http://a.com/big", "http://a.com/other"}
    stages = {r["stage"]: (r["n_in"], r["n_out"]) for r in res.funnel.collect()}
    assert stages["containment"] == (3, 2)
    assert _has(res.stages_run, "containment_kept")

    # resume: a second run reuses every stage, identical survivors
    res2 = pipe.run(raw, containment_threshold=1.0)
    assert _has(res2.stages_resumed, "containment_kept")
    assert {r["url"] for r in res2.survivors.select("url").collect()} == kept

    # mutual containment (identical token SETS, different order/dups,
    # distinct texts so exact dedup keeps both) → min doc_id survives
    rows3 = [
        ("http://b.com/x", base, b"1", "alpha beta gamma delta epsilon", "en"),
        ("http://b.com/y", base, b"2", "beta alpha gamma delta epsilon epsilon", "en"),
    ]
    raw3 = spark.createDataFrame(rows3, raw.schema)
    pipe3 = CurationPipeline(
        spark, str(tmp_path / "cur_tie"), gopher_kwargs=GOPHER
    )
    res3 = pipe3.run(raw3, containment_threshold=1.0)
    assert res3.survivors.count() == 1


def test_curation_quality_gate_language_agnostic_by_default(spark, tmp_path):
    """The default quality gate must not silently drop non-English docs
    (the north-rule corpus is multilingual; the English stopword rule is
    opt-in via gopher_kwargs)."""
    from datetime import datetime as _dt

    base = _dt(2024, 1, 1)
    rows = [
        ("http://de.example/1", base, b"x",
         " ".join(f"wort{i} sache{i} zeit{i} jahr{i}" for i in range(15)), "de"),
        ("http://zh.example/1", base, b"y",
         " ".join(f"zi{i} ci{i} ju{i} duan{i}" for i in range(15)), "zh"),
    ]
    raw = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    pipe = CurationPipeline(spark, str(tmp_path / "cur_ml"))
    res = pipe.run(raw)
    assert res.survivors.count() == 2  # neither language is dropped


def test_curation_exactsubstr_tier(spark, tmp_path):
    """Optional ExactSubstr span tier: a long run shared at DIFFERENT
    offsets by two otherwise-distinct pages (invisible to document-level
    near-dup at this jaccard) is cut from all but one page; raw text is
    untouched; min-remaining drops the gutted page."""
    from datetime import datetime as _dt

    base = _dt(2024, 1, 1)
    run = " ".join(f"runword{i}" for i in range(10))  # 10-token shared run
    pad_a = " ".join(f"alphapad{i}" for i in range(5))
    pad_b = " ".join(f"bravopad{i}" for i in range(5))
    other = " ".join(f"charlie{i}" for i in range(15))
    rows = [
        ("http://x.com/a", base, b"<a>", f"{pad_a} {run}", "en"),
        ("http://x.com/b", base, b"<b>", f"{run} {pad_b}", "en"),
        ("http://x.com/c", base, b"<c>", other, "en"),
    ]
    raw = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    pipe = CurationPipeline(
        spark, str(tmp_path / "cur_span"), gopher_kwargs=GOPHER
    )
    res = pipe.run(raw, exactsubstr_window=5)
    out = {r["url"]: r for r in res.survivors.collect()}
    assert set(out) == {r[0] for r in rows}
    # raw text byte-identical everywhere (input_hint invariant)
    for url, _, _, text, _ in rows:
        assert out[url]["text"] == text
    # exactly one of a/b keeps the run, the other loses all 10 tokens
    removed = sorted(
        (out["http://x.com/a"]["tokens_removed"],
         out["http://x.com/b"]["tokens_removed"])
    )
    assert removed == [0, 10]
    loser = (
        "http://x.com/a"
        if out["http://x.com/a"]["tokens_removed"] == 10
        else "http://x.com/b"
    )
    pad = pad_a if loser.endswith("/a") else pad_b
    assert out[loser]["clean_text"] == pad
    assert out["http://x.com/c"]["tokens_removed"] == 0
    stages = {r["stage"]: (r["n_in"], r["n_out"]) for r in res.funnel.collect()}
    assert stages["exactsubstr"] == (3, 3)  # min_remaining=0 keeps all
    assert _has(res.stages_run, "span_cleaned")

    # resume reuses the tier, identical output
    res2 = pipe.run(raw, exactsubstr_window=5)
    assert _has(res2.stages_resumed, "span_cleaned")
    out2 = {r["url"]: r["tokens_removed"] for r in res2.survivors.collect()}
    assert out2 == {u: r["tokens_removed"] for u, r in out.items()}

    # min-remaining: the loser keeps only its 5 pad tokens -> dropped at 6
    pipe3 = CurationPipeline(
        spark, str(tmp_path / "cur_span_min"), gopher_kwargs=GOPHER
    )
    res3 = pipe3.run(
        raw, exactsubstr_window=5, exactsubstr_min_remaining=6
    )
    stages3 = {r["stage"]: (r["n_in"], r["n_out"]) for r in res3.funnel.collect()}
    assert stages3["exactsubstr"] == (3, 2)
    assert loser not in {r["url"] for r in res3.survivors.select("url").collect()}


def test_resume_never_reuses_stages_across_different_run_params(spark, tmp_path):
    """The round-3 review finding: stage keys are qualified by run
    params, so resume=True with a different window/threshold recomputes
    instead of silently returning the other configuration's table."""
    from datetime import datetime as _dt

    base = _dt(2024, 1, 1)
    run = " ".join(f"runword{i}" for i in range(10))
    rows = [
        ("http://p.com/a", base, b"a", f"{' '.join(f'alphapad{i}' for i in range(5))} {run}", "en"),
        ("http://p.com/b", base, b"b", f"{run} {' '.join(f'bravopad{i}' for i in range(5))}", "en"),
    ]
    raw = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    pipe = CurationPipeline(spark, str(tmp_path / "cur_q"), gopher_kwargs=GOPHER)
    r1 = pipe.run(raw, exactsubstr_window=5)
    assert _has(r1.stages_run, "span_cleaned")
    # same params -> reused; different window -> recomputed, not reused
    r2 = pipe.run(raw, exactsubstr_window=5)
    assert _has(r2.stages_resumed, "span_cleaned")
    r3 = pipe.run(raw, exactsubstr_window=11)  # > run length: no cut
    assert _has(r3.stages_run, "span_cleaned")
    assert not _has(r3.stages_resumed, "span_cleaned")
    assert {r["tokens_removed"] for r in r3.survivors.collect()} == {0}
    removed1 = {r["tokens_removed"] for r in r1.survivors.collect()}
    assert removed1 == {0, 10}  # w=5 run really was cut in that config


def test_resume_rekeys_downstream_when_upstream_params_change(spark, tmp_path):
    """Second review pass: keys chain transitively — flipping an UPSTREAM
    knob (canonicalize) must recompute every downstream stage including
    the embedded dedup spine, not reuse tables keyed under the old
    lineage; flipping a DOWNSTREAM knob must leave upstream reuse intact."""
    raw, _ = _raw(spark)
    root = str(tmp_path / "cur_chain")
    pipe = CurationPipeline(spark, root, gopher_kwargs=GOPHER)
    r1 = pipe.run(raw)
    assert any(s.startswith("signatures") for s in r1.stages_run)

    # upstream flip: canonicalize changes captures -> everything re-runs
    r2 = pipe.run(raw, canonicalize=True)
    for st in ("captures", "exact_kept", "quality", "signatures", "clusters",
               "survivors", "funnel"):
        assert any(s.startswith(st) for s in r2.stages_run), (st, r2.stages_run)
        assert not any(s.startswith(st) for s in r2.stages_resumed), st

    # downstream-only addition: span tier on the original lineage reuses
    # every upstream stage and computes only the new tier + funnel
    r3 = pipe.run(raw, exactsubstr_window=5)
    for st in ("captures", "exact_kept", "quality", "signatures", "survivors"):
        assert any(s.startswith(st) for s in r3.stages_resumed), st
    assert any(s.startswith("span_cleaned") for s in r3.stages_run)
    assert any(s.startswith("funnel") for s in r3.stages_run)


def test_incremental_update_on_curation_root_via_stage_suffix(spark, tmp_path):
    """Third review pass: the curation spine commits suffixed stage keys,
    so a later MERGE must address them through
    CurationResult.dedup_stage_suffix — and the merged state lands back
    under the SAME suffixed keys, where the next curation resume reads."""
    from localitysensitivesketch_spark.plans.incremental import (
        incremental_update,
    )

    raw, corpus = _raw(spark)
    pipe = CurationPipeline(spark, str(tmp_path / "cur_inc"), gopher_kwargs=GOPHER)
    res = pipe.run(raw)
    sfx = res.dedup_stage_suffix
    assert sfx.startswith("@") and len(sfx) == 9

    # merge a brand-new doc into the committed spine under the suffix
    from datetime import datetime as _dt

    new_docs = spark.createDataFrame(
        [("http://new.example/p", _dt(2031, 1, 1), b"<n>",
          "completely new page content words alpha beta gamma delta", "en")],
        raw.schema,
    )
    from localitysensitivesketch_spark.operators.signatures import with_doc_id

    new_ided = with_doc_id(new_docs)
    all_docs = res.captures.select(*new_ided.columns).unionByName(new_ided)
    n_before = pipe.store.read("signatures" + sfx).count()
    out = incremental_update(
        pipe.store, all_docs, new_ided, pipe.cfg, stage_suffix=sfx
    )
    assert out["signatures"].count() == n_before + 1
    # the merged tables are committed under the suffixed keys
    assert pipe.store.read("signatures" + sfx).count() == n_before + 1
    new_id = new_ided.collect()[0]["doc_id"]
    labels = {r["doc_id"]: r["cluster_id"] for r in out["clusters"].collect()}
    assert labels[new_id] == new_id  # unique page -> its own cluster


def test_incremental_update_invalidates_downstream_curation_stages(
    spark, tmp_path
):
    """Round-4 ADVICE fixes: after a suffixed merge, (a) the SUFFIXED
    skew_metrics commit marker is dropped (not just the bare key), and
    (b) downstream curation stages (survivors/funnel, keyed via the
    spine's suffix) are cascade-invalidated so a resume recomputes them
    over the merged spine instead of serving stale pre-merge content."""
    from localitysensitivesketch_spark.plans.incremental import (
        incremental_update,
    )

    raw, corpus = _raw(spark)
    pipe = CurationPipeline(spark, str(tmp_path / "cur_inv"), gopher_kwargs=GOPHER)
    res = pipe.run(raw)
    sfx = res.dedup_stage_suffix
    surv_keys = [s for s in res.stages_run if s.startswith("survivors@")]
    funnel_keys = [s for s in res.stages_run if s.startswith("funnel@")]
    assert surv_keys and funnel_keys
    assert pipe.store.is_committed(surv_keys[0])
    assert pipe.store.is_committed("skew_metrics" + sfx)
    n_surv_before = res.survivors.count()

    new_docs = spark.createDataFrame(
        [
            (
                "http://brandnew.example/q",
                datetime(2031, 2, 2),
                b"<q>",
                "entirely novel text zz xx cc vv bb nn mm one two three",
                "en",
            )
        ],
        raw.schema,
    )
    from localitysensitivesketch_spark.operators.signatures import with_doc_id

    new_ided = with_doc_id(new_docs)
    all_docs = res.captures.select(*new_ided.columns).unionByName(new_ided)
    incremental_update(pipe.store, all_docs, new_ided, pipe.cfg, stage_suffix=sfx)

    # (a) suffixed skew metrics marker dropped
    assert not pipe.store.is_committed("skew_metrics" + sfx)
    # (b) downstream curation commits cascade-invalidated...
    assert not pipe.store.is_committed(surv_keys[0])
    assert not pipe.store.is_committed(funnel_keys[0])
    # ...while the freshly-rewritten spine tables stay committed
    for s in ("signatures", "candidates", "clusters"):
        assert pipe.store.is_committed(s + sfx), s

    # a resume run RECOMPUTES the invalidated stages over the merged spine
    # (pre-fix behavior: both reused, silently serving pre-merge content).
    # The merged-in doc itself stays outside survivors here — it entered
    # through the spine merge, not the gate stages, and survivors is
    # passed ∩ cluster-representatives by contract; new rows reach the
    # gates via a gate rerun (resume=False) or the streaming path.
    res2 = pipe.run(raw)
    assert _has(res2.stages_run, "survivors")
    assert _has(res2.stages_run, "funnel")
    assert _has(res2.stages_resumed, "captures")  # gates untouched by merge
    assert res2.survivors.count() == n_surv_before


def _reference_funnel(raw, clusters, gopher, window, min_remaining=0,
                      containment_threshold=None):
    """Store-free reference for ``CurationPipeline.run``: the public
    operators composed tier by tier, nothing committed, nothing
    reconstructed.  The near-dup tier takes the run's own ``clusters``
    (the spine has its own parity tests).  Returns (survivor rows,
    funnel rows) in the shape :func:`_survivor_rows`/:func:`_funnel_rows`
    give for a run."""
    captures = with_doc_id(latest_capture(raw, key_col="url", ts_col="warc_ts"))
    exact = exact_dedup(captures)
    keep = gopher_filter(exact, **gopher).filter("keep").select("doc_id")
    passed = exact.join(keep, "doc_id", "left_semi")
    canon = clusters.filter(F.col("doc_id") == F.col("cluster_id"))
    survivors = passed.join(canon.select("doc_id"), "doc_id", "left_semi")
    tiers = [("latest_capture", captures), ("exact_dedup", exact),
             ("quality_gate", passed), ("near_dup", survivors)]
    if containment_threshold is not None:
        # drop a doc contained in a strictly larger one, (size, -id) order
        n_toks = F.size(
            F.array_distinct(F.split(F.lower(F.trim("text")), r"\s+"))
        )
        size = {
            r["doc_id"]: r["n"]
            for r in survivors.select("doc_id", n_toks.alias("n")).collect()
        }
        pairs = containment_pairs(survivors, threshold=containment_threshold)
        dropped = {
            a for a, b in pairs.select("id_contained", "id_container").collect()
            if (size[b], -b) > (size[a], -a)
        }
        survivors = survivors.filter(~F.col("doc_id").isin(list(dropped)))
        tiers.append(("containment", survivors))
    survivors = remove_duplicate_spans(survivors, window_tokens=window)
    if min_remaining > 0:
        n = F.size(F.split(F.trim("text"), r"\s+"))
        survivors = survivors.filter(
            (n - F.col("tokens_removed")) >= min_remaining
        )
    tiers.append(("exactsubstr", survivors))
    funnel, n_prev = [], raw.count()
    funnel.append(("raw", n_prev, n_prev, 0))
    for name, df in tiers:
        n = df.count()
        funnel.append((name, n_prev, n, n_prev - n))
        n_prev = n
    return _survivor_rows(survivors), sorted(funnel)


def _survivor_rows(df):
    return sorted(
        (r["url"], r["text"], r["clean_text"], r["tokens_removed"],
         tuple((s["start"], s["end"]) for s in r["spans"]))
        for r in df.collect()
    )


def _funnel_rows(res):
    return sorted(map(tuple, res.funnel.collect()))


MESSY_TEXT = ("alpha  beta\tgamma\n delta epsilon zeta\teta  theta iota\n"
              " kappa lambda mu")
ALL_TIERS = dict(containment_threshold=0.9, exactsubstr_window=5,
                 exactsubstr_min_remaining=2)


@pytest.fixture(scope="module")
def all_tiers(spark, tmp_path_factory):
    """One all-tiers run over the fixture corpus plus a messy-whitespace
    doc that passes every gate (exercises the clean_text normalization
    the span view rebuilds for UNAFFECTED docs): (raw, store root,
    pipeline, result)."""
    raw, _ = _raw(spark)
    messy = spark.createDataFrame(
        [Row(url="http://messy.example/1", warc_ts=datetime(2024, 1, 1),
             html=b"<m>", text=MESSY_TEXT, lang="en")],
        raw.schema,
    )
    raw = raw.unionByName(messy)
    root = str(tmp_path_factory.mktemp("cur_all_tiers"))
    pipe = CurationPipeline(spark, root, gopher_kwargs=GOPHER)
    return raw, root, pipe, pipe.run(raw, **ALL_TIERS)


def test_run_matches_store_free_reference(spark, all_tiers):
    """Every output row — including the span tier's clean_text/spans/
    tokens_removed — and the funnel audit equal the store-free operator
    composition, both on the first run and when every stage resumes from
    its keep-list commit."""
    raw, root, _, res = all_tiers
    ref_rows, ref_funnel = _reference_funnel(
        raw, res.clusters, GOPHER, window=5, min_remaining=2,
        containment_threshold=0.9,
    )
    assert _survivor_rows(res.survivors) == ref_rows
    assert _funnel_rows(res) == ref_funnel
    messy = [r for r in ref_rows if r[0] == "http://messy.example/1"]
    assert messy == [(
        "http://messy.example/1", MESSY_TEXT,
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu",
        0, (),
    )]

    again = CurationPipeline(spark, root, gopher_kwargs=GOPHER).run(
        raw, **ALL_TIERS
    )
    assert not again.stages_run, again.stages_run
    assert _survivor_rows(again.survivors) == ref_rows
    assert _funnel_rows(again) == ref_funnel


def test_page_payload_is_committed_once(all_tiers):
    """Only ``captures`` commits the page payload; the filter tiers commit
    single-column keep-lists and the span tier its affected rows."""
    _, _, pipe, res = all_tiers
    cols = {k.split("@")[0]: pipe.store.read(k).columns for k in res.stages_run}
    assert "html" in cols.pop("captures")
    assert all("html" not in c for c in cols.values()), cols
    for stage in ("exact_kept", "survivors", "containment_kept"):
        assert cols[stage] == ["doc_id"], (stage, cols[stage])
    assert cols["span_cleaned"] == [
        "doc_id", "spans", "clean_text", "tokens_removed", "kept",
    ]


def test_stage_keys_are_stable(all_tiers):
    """Stage keys are pinned, so every store committed by earlier
    releases resumes, and a full-row commit from the removed wide format
    (its keys lacked the ``fmt`` param) can never be read as a keep-list."""
    assert sorted(all_tiers[3].stages_run) == [
        "candidates@4775d8d4", "captures@6cc9cb4c", "clusters@4775d8d4", "containment_kept@3e7be0a7", "edges@4775d8d4",
        "exact_kept@6a5f2cf7", "funnel@adfb2c68", "quality@c30fe20d",
        "signatures@4775d8d4", "skew_metrics@4775d8d4",
        "span_cleaned@6e81b90b", "survivors@f9d8dda0", "verified@4775d8d4",
    ]


def test_run_matches_reference_with_null_and_empty_text(spark, tmp_path):
    """Null-/empty-/whitespace-text rows that survive a permissive
    quality gate must flow through the span-tier view exactly as through
    the store-free reference (the view rebuilds clean_text for unaffected
    docs with a replica expression — nulls must agree)."""
    from pyspark.sql.types import (
        BinaryType, StringType, StructField, StructType, TimestampType,
    )

    raw, _ = _raw(spark)
    nullable_schema = StructType(
        [
            StructField("url", StringType(), False),
            StructField("warc_ts", TimestampType(), False),
            StructField("html", BinaryType(), True),
            StructField("text", StringType(), True),
            StructField("lang", StringType(), True),
        ]
    )
    oddballs = spark.createDataFrame(
        [
            Row(url="http://odd.example/null", warc_ts=datetime(2024, 1, 1),
                html=b"", text=None, lang="en"),
            Row(url="http://odd.example/empty", warc_ts=datetime(2024, 1, 1),
                html=b"", text="", lang="en"),
            Row(url="http://odd.example/ws", warc_ts=datetime(2024, 1, 1),
                html=b"", text="  \t \n ", lang="en"),
        ],
        nullable_schema,
    )
    raw = raw.unionByName(oddballs)
    # min_tokens=0: the permissive gate lets the oddballs reach the
    # span tier, which is exactly the hazard under test
    gopher = dict(min_tokens=0, min_stopword_ratio=0.0,
                  min_chars_per_token=0.0, max_chars_per_token=1e9)

    # min_remaining=0 exercises the clean_text-rebuild replica; 2
    # exercises the null-safe kept verdict (a null-text doc has
    # size(_tokens(NULL)) = NULL — the reference's filter drops it, and
    # the span tier must commit kept=false instead of dropping the row
    # from the affected commit and resurrecting it at reconstruction)
    for min_rem in (0, 2):
        res = CurationPipeline(
            spark, str(tmp_path / f"odd_{min_rem}"), gopher_kwargs=gopher
        ).run(raw, exactsubstr_window=5, exactsubstr_min_remaining=min_rem)
        ref_rows, ref_funnel = _reference_funnel(
            raw, res.clusters, gopher, window=5, min_remaining=min_rem
        )
        got = _survivor_rows(res.survivors)
        assert got == ref_rows, f"diverges at min_remaining={min_rem}"
        assert _funnel_rows(res) == ref_funnel
        urls = {r[0] for r in got}
        if min_rem == 0:
            # the oddballs actually made it through (the test is vacuous
            # if the gate dropped them)
            assert ("http://odd.example/null" in urls
                    or "http://odd.example/empty" in urls)
        else:
            assert "http://odd.example/null" not in urls
            assert "http://odd.example/empty" not in urls


def test_merge_documents_matches_from_scratch_run(spark, tmp_path):
    """Round-4 VERDICT #6 end-to-end: completed run → merge_documents (gate
    tiers union-committed, spine merged via incremental_update, downstream
    keep-lists cascade-invalidated and recomputed on resume) must equal a
    from-scratch run over the combined corpus — all tiers active, funnel
    audit included."""
    corpus = generate_corpus(n_docs=120, seed=13, dup_fraction=0.3)
    old_raw = corpus_to_spark(spark, corpus)  # urls unique: raw == captures
    knobs = dict(containment_threshold=1.0, exactsubstr_window=5)
    pipe = CurationPipeline(spark, str(tmp_path / "inc"), gopher_kwargs=GOPHER)
    res1 = pipe.run(old_raw, **knobs)
    # pin before the merge rewrites/archives the stage files it reads
    f1 = {r["stage"]: r["n_out"] for r in res1.funnel.collect()}

    # texts that appear exactly once (their doc both passes the exact tier
    # and anchors a deterministic near-dup / exact-dup construction)
    texts = list(corpus.text)
    uniq = [t for t in texts if texts.count(t) == 1]
    src_near, src_exact = uniq[0], uniq[1]
    src_exact_id = old_raw.filter(F.col("text") == src_exact).select(
        F.xxhash64("url").alias("id")
    ).collect()[0]["id"]
    # first-seen (merge) vs min-id (from-scratch) exact keeper only agree
    # when the new copy's doc id is LARGER — pick such a url
    cand_urls = [f"http://merge.example/copy{i}" for i in range(40)]
    ids = {
        r["u"]: r["id"]
        for r in spark.createDataFrame([(u,) for u in cand_urls], "u string")
        .select("u", F.xxhash64("u").alias("id")).collect()
    }
    dup_url = next(u for u in cand_urls if ids[u] > src_exact_id)

    new_rows = [
        # near-dup of a committed doc (one appended token, shingle J≈0.99):
        # the merged spine must join it to the existing cluster
        Row(url="http://merge.example/near", warc_ts=datetime(2031, 3, 1),
            html=b"<n>", text=src_near + " zzappend", lang="en"),
        # brand-new unique page: must flow through every tier
        Row(url="http://merge.example/fresh", warc_ts=datetime(2031, 3, 2),
            html=b"<f>",
            text="wholly fresh merged page alpha beta gamma delta epsilon "
                 "zeta eta theta iota kappa lambda mu nu xi omicron pi rho",
            lang="en"),
        # quality-gate failure (below min_tokens=5)
        Row(url="http://merge.example/short", warc_ts=datetime(2031, 3, 3),
            html=b"<s>", text="too short", lang="en"),
        # exact copy of committed content at a new url: first-seen drop
        Row(url=dup_url, warc_ts=datetime(2031, 3, 4),
            html=b"<c>", text=src_exact, lang="en"),
    ]
    new_raw = spark.createDataFrame(new_rows, old_raw.schema)
    all_raw = old_raw.unionByName(new_raw)

    res2 = pipe.merge_documents(new_raw, raw=all_raw, **knobs)
    # downstream keep-lists recomputed, gates + spine stages reused
    for st in ("survivors", "containment_kept", "span_cleaned", "funnel"):
        assert _has(res2.stages_run, st), st
    for st in ("captures", "exact_kept", "quality", "signatures", "clusters"):
        assert _has(res2.stages_resumed, st), st

    ref = CurationPipeline(
        spark, str(tmp_path / "scratch"), gopher_kwargs=GOPHER
    ).run(all_raw, **knobs)

    def rows(res):
        return sorted(
            (r["url"], r["text"], r["clean_text"], r["tokens_removed"])
            for r in res.survivors.collect()
        )

    assert rows(res2) == rows(ref)
    assert res2.captures.count() == ref.captures.count()
    assert sorted(map(tuple, res2.funnel.collect())) == sorted(
        map(tuple, ref.funnel.collect())
    )
    # cluster labels identical (merge_components ≡ full recompute, e2e)
    lab2 = {r["doc_id"]: r["cluster_id"] for r in res2.clusters.collect()}
    labr = {r["doc_id"]: r["cluster_id"] for r in ref.clusters.collect()}
    assert lab2 == labr
    # the near-dup actually merged into its source's cluster
    near_id, src_id = [
        r["id"]
        for r in spark.createDataFrame(
            [("http://merge.example/near",)], "u string"
        ).select(F.xxhash64("u").alias("id")).collect()
    ] + [
        r["id"]
        for r in old_raw.filter(F.col("text") == src_near)
        .select(F.xxhash64("url").alias("id")).collect()
    ]
    assert lab2[near_id] == lab2[src_id]
    # funnel grew by exactly the surviving new docs (near-dup collapses,
    # short fails quality, exact copy drops first-seen, fresh survives)
    f2 = {r["stage"]: r["n_out"] for r in res2.funnel.collect()}
    assert f2["raw"] == f1["raw"] + 4
    assert f2["exact_dedup"] == f1["exact_dedup"] + 3  # copy dropped
    assert f2["quality_gate"] == f1["quality_gate"] + 2  # short dropped


def test_merge_documents_rejects_recrawled_urls(spark, tmp_path):
    """Content replacement needs delete+reinsert on the spine — a new
    capture of a committed url must be refused, not silently merged."""
    raw, corpus = _raw(spark)
    pipe = CurationPipeline(spark, str(tmp_path / "rej"), gopher_kwargs=GOPHER)
    pipe.run(raw)
    recrawl = spark.createDataFrame(
        [Row(url=corpus.url[3], warc_ts=datetime(2032, 1, 1), html=b"<r>",
             text="replacement capture text aa bb cc dd ee ff gg", lang="en")],
        raw.schema,
    )
    with pytest.raises(ValueError, match="delete"):
        pipe.merge_documents(recrawl)


def test_merge_documents_null_text_and_custom_text_col(spark, tmp_path):
    """Two round-5 review regressions in one end-to-end pass: (a) the
    merge path's first-seen exact tier must group NULL-text docs with the
    committed NULL-text keeper (a bare md5 equi-join never matches NULL),
    and (b) merge_documents must thread a custom text_col into the spine
    merge (incremental_update used to sketch the default 'text')."""
    corpus = generate_corpus(n_docs=60, seed=29, dup_fraction=0.2)
    old_raw = corpus_to_spark(spark, corpus).withColumnRenamed("text", "body")
    # committed corpus carries a null-text doc
    ddl = "url string, warc_ts timestamp, html binary, body string, lang string"
    nul1 = spark.createDataFrame(
        [Row(url="http://odd.example/nullbase", warc_ts=datetime(2030, 5, 1),
             html=b"<n>", body=None, lang="en")], ddl)
    old_raw = old_raw.unionByName(nul1)
    knobs = dict(text_col="body", containment_threshold=1.0,
                 exactsubstr_window=5)
    pipe = CurationPipeline(spark, str(tmp_path / "mn"), gopher_kwargs=GOPHER)
    pipe.run(old_raw, **knobs)

    base_id = nul1.select(F.xxhash64("url").alias("id")).collect()[0]["id"]
    # a SECOND null-text doc at a new url whose doc id is larger, so the
    # merge's first-seen keeper and from-scratch's min-id keeper agree
    cand = [f"http://odd.example/null{i}" for i in range(40)]
    ids = {r["u"]: r["id"]
           for r in spark.createDataFrame([(u,) for u in cand], "u string")
           .select("u", F.xxhash64("u").alias("id")).collect()}
    nul_url = next(u for u in cand if ids[u] > base_id)
    new_raw = spark.createDataFrame(
        [Row(url=nul_url, warc_ts=datetime(2031, 5, 1),
             html=b"<n2>", body=None, lang="en"),
         Row(url="http://odd.example/freshbody", warc_ts=datetime(2031, 5, 2),
             html=b"<f>",
             body="completely fresh merged body page aa bb cc dd ee ff gg",
             lang="en")],
        ddl)
    all_raw = old_raw.unionByName(new_raw)

    res2 = pipe.merge_documents(new_raw, raw=all_raw, **knobs)
    ref = CurationPipeline(
        spark, str(tmp_path / "mn_scratch"), gopher_kwargs=GOPHER
    ).run(all_raw, **knobs)

    # the new null doc must be DROPPED at the exact tier (the committed
    # null keeper wins) — visible in the funnel audit, not just survivors
    assert sorted(map(tuple, res2.funnel.collect())) == sorted(
        map(tuple, ref.funnel.collect()))
    got = sorted((r["url"], r["body"]) for r in res2.survivors.collect())
    want = sorted((r["url"], r["body"]) for r in ref.survivors.collect())
    assert got == want
    assert not any(u == nul_url for u, _ in got)


def test_funnel_audit_is_built_jvm_side(spark, tmp_path):
    """The funnel audit plans as a LocalRelation/Range, never a LogicalRDD
    over a Python list (every action on which runs Python-worker tasks),
    with the audit schema and values unchanged."""
    pipe = CurationPipeline(spark, str(tmp_path / "funnel_plan"))
    raw = spark.range(10)
    audit = pipe._funnel(raw, [("exact", raw.filter("id < 7")),
                               ("quality", raw.filter("id < 4"))])
    plan = audit._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in plan
    assert "LocalRelation" in plan or "Range" in plan
    assert audit.schema.simpleString() == (
        "struct<stage:string,n_in:bigint,n_out:bigint,dropped:bigint>"
    )
    assert [tuple(r) for r in audit.collect()] == [
        ("raw", 10, 10, 0), ("exact", 10, 7, 3), ("quality", 7, 4, 3),
    ]
