"""End-to-end corpus curation: the funnel a training-data user actually runs.

Composes the engine's tiers in the cost order the module docstrings
promise (``operators/dedup.py``) over the north-rule table
``(url, warc_ts, html, text, lang)``:

    raw captures
      → latest capture per url        (recrawl tier — one max_by agg)
      → deterministic doc ids         (doc_id = xxhash64(url))
      → exact dedup                   (md5 groupBy, keep min doc_id)
      → quality gate                  (Gopher rules, keep+reasons)
      → MinHash+LSH near-dup clusters (the checkpointed DedupPipeline)
      → survivors                     (canonical doc per cluster)
      → containment tier              (optional: ``containment_threshold``)
      → ExactSubstr span cut          (optional: ``exactsubstr_window`` —
                                       cross-doc ≥w-token runs removed
                                       into ``clean_text``; raw text kept)

Every stage is committed through the same :class:`CheckpointStore`
protocol as the dedup spine, so an interrupted curation run resumes at
the first uncommitted stage, and the store's lineage table records
per-stage rows/wall.  The ``funnel`` output is the stage-by-stage
row-count audit (what a 100 TB run reports to its operator).

Reference analogue: the staged consumer topology
(``Query/Consumer4sketch.java:201-269`` runs its query suite as ordered
stages over each window's sketch state); here the stages are corpus
tiers and the state is the committed stage tables.

Scale notes: each tier only ever shuffles ids/hashes (the wide
``html``/``text`` payload moves once, in the final left-semi join that
materializes survivors); the near-dup tier inherits the spine's
salted/capped band joins and doc-parallel verify.  The store WRITES
are narrow too: the page payload is committed once (``captures``) and
every later tier commits a keep-list (span tier: affected rows only), so
total funnel write IO is ~1× corpus bytes — see ``CurationPipeline.run``.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import SketchConfig
from ..operators.corpus import _tokens, gopher_filter, remove_duplicate_spans
from ..operators.dedup import (
    choose_materialize,
    containment_pairs,
    exact_dedup,
    latest_capture,
    token_set,
)
from ..operators.signatures import with_doc_id
from ..operators.urls import normalize_urls
from ..session import local_frame
from .pipeline import DedupPipeline


# in every keep-list key: old stores resume, old full-row commits never match
_FMT = {"fmt": "ids"}


def _params_sig(params: dict) -> str:
    return hashlib.sha256(
        json.dumps(params, sort_keys=True, default=str).encode()
    ).hexdigest()[:8]


def _qualify(name: str, params: dict | None) -> str:
    """Stage key qualified by a short deterministic hash of the run
    parameters the stage depends on.  Keys are chained TRANSITIVELY:
    each stage's ``params`` includes the qualified key(s) of its input
    stage(s) under ``"in"``, so a change to ANY upstream knob re-keys
    every stage downstream of it — resume can never mix tables from
    differently-parameterized runs, while an unrelated-knob change (e.g.
    the containment threshold) leaves upstream keys, and their reuse,
    intact."""
    if not params:
        return name
    return f"{name}@{_params_sig(params)}"


@dataclass
class CurationResult:
    captures: DataFrame
    exact_kept: DataFrame
    quality: DataFrame
    clusters: DataFrame
    survivors: DataFrame
    funnel: DataFrame
    stages_run: list[str] = field(default_factory=list)
    stages_resumed: list[str] = field(default_factory=list)
    # pass to plans.incremental.incremental_update so a later MERGE finds
    # the dedup spine tables this run committed (they carry the upstream
    # lineage hash as a stage-key suffix)
    dedup_stage_suffix: str = ""


class CurationPipeline:
    """Staged curation funnel with committed, resumable stage tables."""

    def __init__(
        self,
        spark: SparkSession,
        checkpoint_root: str,
        cfg: SketchConfig | None = None,
        gopher_kwargs: dict | None = None,
    ):
        self.spark = spark
        self.cfg = cfg or SketchConfig()
        # language-agnostic by default: the north-rule corpus is
        # multilingual (lang ∈ {en, de, zh, ...}) and gopher_filter's
        # English stopword list would silently fail every non-English doc
        # (stopword_ratio ≈ 0 < 0.01) — callers opt back in explicitly
        self.gopher_kwargs = {"min_stopword_ratio": 0.0, **(gopher_kwargs or {})}
        # the near-dup tier owns the store (same root → one lineage table)
        self.dedup = DedupPipeline(spark, checkpoint_root, self.cfg)
        self.store = self.dedup.store

    def _stage(self, key, compute, resume, ran, reused, deps=None):
        # one stage-commit protocol for the whole funnel (the near-dup
        # tier's runner owns it).  ``key`` is a pre-qualified stage key
        # from :func:`_qualify` — run() chains each stage's key from its
        # input stage's key plus its own knobs, so resume=True can never
        # hand back a table computed under different parameters (the
        # store's config_sha covers only the shared SketchConfig, not
        # per-run knobs like the containment threshold or span window).
        # ``deps``: the STAGE-TABLE keys this stage reads (not the param
        # hash chain — those may differ, e.g. survivors reads the spine's
        # clusters@<sfx> table); recorded in the store's dependency index
        # so incremental_update's in-place spine rewrite cascade-
        # invalidates stale downstream curation commits.
        if deps is not None:
            self.store.record_deps(key, deps)
        return self.dedup._stage(key, compute, resume, ran, reused)

    def run(
        self,
        raw: DataFrame,
        resume: bool = True,
        url_col: str = "url",
        ts_col: str = "warc_ts",
        text_col: str = "text",
        canonicalize: bool = False,
        containment_threshold: float | None = None,
        exactsubstr_window: int | None = None,
        exactsubstr_min_remaining: int = 0,
    ) -> CurationResult:
        """``canonicalize=True`` collapses cosmetic url variants
        (case/port/fragment/slash/query-order — ``operators/urls.py``)
        BEFORE the recrawl tier: captures are keyed (and doc ids hashed)
        by ``canonical_url``, so two crawls of ``http://A.com/p`` and
        ``http://a.com:80/p/`` count as one page.  Off by default — with
        it on, the per-url byte-identity invariant is keyed by canonical
        url.

        What the tiers COMMIT to the store: the wide page payload
        (``html`` + ``text``) is written exactly once, at the
        ``captures`` stage.  Every later tier commits only its keep-list
        ``(doc_id)`` (the span tier: only the AFFECTED docs' ``(doc_id,
        spans, clean_text, tokens_removed, kept)`` rows), and the wide
        view each downstream tier consumes is reconstructed lazily as a
        ``left_semi`` join against ``captures`` — AQE turns it into a
        broadcast when the list is small; at cluster scale the
        bucketed-store path (`sources/bucketed_store.py`) makes it
        exchange-free.  A keep-list is ~16 bytes/doc, so the full funnel
        writes ~1× corpus bytes instead of rewriting the corpus once per
        tier.  The result fields are always the wide views; the span
        view reproduces ``clean_text`` byte-identically, including the
        whitespace normalization ``remove_duplicate_spans`` applies to
        unaffected docs."""
        ran: list[str] = []
        reused: list[str] = []

        def _captures():
            if canonicalize:
                keyed = normalize_urls(raw, url_col=url_col)
                return with_doc_id(
                    latest_capture(keyed, key_col="canonical_url", ts_col=ts_col),
                    url_col="canonical_url",
                )
            return with_doc_id(
                latest_capture(raw, key_col=url_col, ts_col=ts_col),
                url_col=url_col,
            )

        p_cap = {"url_col": url_col, "ts_col": ts_col,
                 "canonicalize": canonicalize}
        k_cap = _qualify("captures", p_cap)
        captures = self._stage(k_cap, _captures, resume, ran, reused, deps=[])
        p_exact = {"text_col": text_col, "in": k_cap, **_FMT}
        k_exact = _qualify("exact_kept", p_exact)
        exact_ids = self._stage(
            k_exact,
            lambda: exact_dedup(captures, text_col=text_col, ids_only=True),
            resume, ran, reused, deps=[k_cap],
        )
        exact_kept = captures.join(exact_ids, "doc_id", "left_semi")
        p_quality = {"text_col": text_col, "gopher": self.gopher_kwargs,
                     "in": k_exact}
        k_quality = _qualify("quality", p_quality)
        quality = self._stage(
            k_quality,
            lambda: gopher_filter(
                exact_kept, text_col=text_col, **self.gopher_kwargs
            ),
            resume, ran, reused, deps=[k_exact],
        )
        # quality was computed over the exact-kept view, so its keep-set
        # is already ⊆ the exact keep-set — join it straight against
        # `captures` (ONE reconstruction semi-join for the near-dup
        # spine's input instead of two stacked ones)
        passed = captures.join(
            quality.filter("keep").select("doc_id"), "doc_id", "left_semi"
        )
        # the embedded near-dup spine inherits the upstream lineage hash:
        # its input is `passed`, a function of the exact and quality keys
        dedup_sfx = "@" + _params_sig(
            {"text_col": text_col, "in": [k_exact, k_quality]}
        )
        # index the suffixed spine stages as dependents of the gates that
        # produced their input, so invalidating a gate cascades into them
        for _s in type(self.dedup).STAGES:
            self.store.record_deps(_s + dedup_sfx, [k_exact, k_quality])
        near = self.dedup.run(
            passed, resume=resume, text_col=text_col, stage_suffix=dedup_sfx
        )
        ran += near.stages_run
        reused += near.stages_resumed
        k_surv = _qualify(
            "survivors",
            {"text_col": text_col, "in": [k_quality, dedup_sfx], **_FMT},
        )
        # clusters covers exactly the docs in `passed`, so the
        # canonical-label filter alone IS the keep-list — no join
        surv_ids = self._stage(
            k_surv,
            lambda: near.clusters.filter(
                F.col("doc_id") == F.col("cluster_id")
            ).select("doc_id"),
            resume, ran, reused,
            deps=[k_quality, "clusters" + dedup_sfx],
        )
        survivors = captures.join(surv_ids, "doc_id", "left_semi")
        tiers = [
            ("latest_capture", captures),
            ("exact_dedup", exact_kept),
            ("quality_gate", passed),
            ("near_dup", survivors),
        ]
        k_prev = k_surv
        if containment_threshold is not None:
            t = float(containment_threshold)

            def _containment_dropped():
                # asymmetric tier the symmetric near-dup pass cannot see:
                # drop a survivor whose token set is ≥t contained in a
                # STRICTLY larger surviving doc (ties broken by min
                # doc_id) — the (size, id) order is a strict total order,
                # so the keep rule is acyclic and deterministic at any
                # parallelism
                sizes = survivors.select(
                    F.col("doc_id"),
                    F.size(token_set(F.col(text_col))).alias("n_toks"),
                )
                # the materialize decision is made from the ROOT scan:
                # `survivors` is a store-reconstruction/semi-join view
                # whose plan stats are join products, not corpus bytes
                pairs = containment_pairs(
                    survivors, threshold=t, text_col=text_col, cfg=self.cfg,
                    materialize=choose_materialize(raw),
                )
                na = sizes.select(
                    F.col("doc_id").alias("id_contained"),
                    F.col("n_toks").alias("n_a"),
                )
                nb = sizes.select(
                    F.col("doc_id").alias("id_container"),
                    F.col("n_toks").alias("n_b"),
                )
                return (
                    pairs.join(na, "id_contained")
                    .join(nb, "id_container")
                    .filter(
                        (F.col("n_b") > F.col("n_a"))
                        | (
                            (F.col("n_b") == F.col("n_a"))
                            & (F.col("id_container") < F.col("id_contained"))
                        )
                    )
                    .select(F.col("id_contained").alias("doc_id"))
                    .distinct()
                )

            k_cont = _qualify(
                "containment_kept",
                {"text_col": text_col, "threshold": t, "in": k_surv, **_FMT},
            )
            cont_ids = self._stage(
                k_cont,
                lambda: survivors.select("doc_id").join(
                    _containment_dropped(), "doc_id", "left_anti"
                ),
                resume, ran, reused, deps=[k_surv],
            )
            survivors = captures.join(cont_ids, "doc_id", "left_semi")
            k_prev = k_cont
            tiers.append(("containment", survivors))
        if exactsubstr_window is not None:
            w = int(exactsubstr_window)
            min_rem = int(exactsubstr_min_remaining)

            def _span_affected():
                # ExactSubstr tier (Lee et al. ACL'22; the RefinedWeb
                # funnel runs it after document-level near-dup for the
                # same reason we do: document dedup cannot see a
                # boilerplate run shared between otherwise-distinct
                # pages).  The raw ``text`` column is untouched
                # (input_hint byte-identity invariant); the cut lands in
                # ``clean_text``/``spans``/``tokens_removed``, and docs
                # left with fewer than ``exactsubstr_min_remaining``
                # tokens outside duplicated spans are dropped.
                # The commit holds only docs the cut actually touched —
                # on real web corpora the overwhelming minority — plus
                # any untouched doc the min_remaining rule drops (it
                # drops short docs even with zero spans cut, so the view
                # needs their kept=false rows too).  `kept` records the
                # verdict so the view never recomputes it.
                cleaned = remove_duplicate_spans(
                    survivors, window_tokens=w, text_col=text_col
                )
                n = F.size(_tokens(text_col))
                # null-safe verdict: a null-text doc has n = NULL, so the
                # raw comparison is NULL and the row would silently fall
                # out of the affected commit, then be resurrected by the
                # reconstruction's coalesce(kept, True).  Pin it to
                # kept=false so the doc is dropped, as a plain
                # min_remaining filter over the cleaned rows drops it.
                kept = (
                    F.lit(True) if min_rem <= 0
                    else F.coalesce(
                        (n - F.col("tokens_removed")) >= min_rem,
                        F.lit(False),
                    )
                )
                return cleaned.filter(
                    (F.col("tokens_removed") > 0) | ~kept
                ).select(
                    "doc_id", "spans", "clean_text", "tokens_removed",
                    kept.alias("kept"),
                )

            k_span = _qualify(
                "span_cleaned",
                {"text_col": text_col, "window": w,
                 "min_remaining": min_rem, "in": k_prev, **_FMT},
            )
            affected = self._stage(
                k_span, _span_affected, resume, ran, reused, deps=[k_prev],
            )
            prev_cols = survivors.columns
            joined = survivors.join(affected, "doc_id", "left").filter(
                F.coalesce(F.col("kept"), F.lit(True))
            )
            # unaffected docs still get the tokenizer's whitespace
            # normalization in clean_text, byte-identical to
            # remove_duplicate_spans' array_join over _tokens
            survivors = joined.select(
                *[F.col(c) for c in prev_cols],
                F.coalesce(
                    F.col("spans"),
                    F.array().cast("array<struct<start:int,end:int>>"),
                ).alias("spans"),
                F.coalesce(
                    F.col("clean_text"),
                    F.array_join(_tokens(text_col), " "),
                ).alias("clean_text"),
                F.coalesce(
                    F.col("tokens_removed"), F.lit(0).cast("long")
                ).alias("tokens_removed"),
            )
            k_prev = k_span
            tiers.append(("exactsubstr", survivors))
        funnel = self._stage(
            _qualify("funnel", {"in": [k_cap, k_exact, k_quality, k_prev]}),
            lambda: self._funnel(raw, tiers),
            resume, ran, reused,
            deps=[k_cap, k_exact, k_quality, k_prev],
        )
        return CurationResult(
            captures=captures,
            exact_kept=exact_kept,
            quality=quality,
            clusters=near.clusters,
            survivors=survivors,
            funnel=funnel,
            stages_run=ran,
            stages_resumed=reused,
            dedup_stage_suffix=dedup_sfx,
        )

    def merge_documents(
        self,
        new_raw: DataFrame,
        raw: DataFrame | None = None,
        url_col: str = "url",
        ts_col: str = "warc_ts",
        text_col: str = "text",
        canonicalize: bool = False,
        containment_threshold: float | None = None,
        exactsubstr_window: int | None = None,
        exactsubstr_min_remaining: int = 0,
    ) -> CurationResult:
        """Append-only incremental curation: merge a new crawl batch into a
        COMPLETED funnel checkpoint and return the updated
        :class:`CurationResult` — the end-to-end MERGE pattern
        (``plans/incremental.py`` handles only the dedup spine; this wires
        the gate tiers and the downstream keep-list recomputation around
        it).  Knobs must match the original :meth:`run` (they derive the
        stage keys).

        What happens, in cost order:

        1. **Gate the new batch** — recrawl-collapse within the batch,
           first-seen exact tier against committed content (a new doc whose
           md5 already exists is dropped, matching the streaming exact
           tier's first-seen keeper), Gopher quality gate.  O(|new|) work
           plus one map-only md5 pass over committed captures probed by a
           broadcast of the (small) new batch's hashes.
        2. **Union-commit the gate stages** under their existing keys
           (supersededversions archive as snapshots — pre-merge state
           stays time-travelable).
        3. **Merge the dedup spine** via
           :func:`~.incremental.incremental_update`: signatures are
           computed for the new survivors ONLY, candidates run new-vs-new
           and new-vs-old, clusters merge incrementally
           (``merge_components``) — the old corpus text is never
           re-sketched.  Its invalidation cascade marks every downstream
           curation stage (survivors / containment / span / funnel) stale.
        4. **Resume the funnel** (:meth:`run` with ``resume=True``): gate
           stages and the merged spine are reused; the invalidated
           keep-lists recompute over the merged clusters.

        Not supported (raises ``ValueError``): a new capture of an
        already-committed url.  Replacing a page's content requires
        delete+reinsert on the spine (the reference's re-cluster-on-drift
        path, ``LSSFingerprintAtomic.java:646-686``); here that means a
        fresh ``run(resume=False)``.

        ``raw``: optional full raw table (old + new rows) used only for
        the funnel audit's ``raw`` head-count; when omitted, the updated
        captures table stands in (equal whenever the original raw had no
        recrawl duplicates).

        Parity contract (pinned by
        ``test_merge_documents_matches_from_scratch_run``): the result
        matches a from-scratch ``run`` over the combined corpus whenever
        the new batch's urls are disjoint and no new doc exactly
        duplicates committed content under a SMALLER doc id (first-seen
        vs min-id keeper divergence — the one semantic the append-only
        path cannot see).

        Crash recovery: the ``captures`` stage — which the url-overlap
        gate reads — commits LAST.  A crash before that publish point
        leaves the pre-merge captures in place, so simply re-running
        ``merge_documents`` passes the gate and idempotently rewrites
        the partial downstream commits; a crash after it means every
        merge commit landed and ``run(resume=True)`` completes the
        keep-list recomputation."""
        from .incremental import incremental_update

        p_cap = {"url_col": url_col, "ts_col": ts_col,
                 "canonicalize": canonicalize}
        k_cap = _qualify("captures", p_cap)
        k_exact = _qualify("exact_kept", {"text_col": text_col, "in": k_cap, **_FMT})
        k_quality = _qualify(
            "quality",
            {"text_col": text_col, "gopher": self.gopher_kwargs, "in": k_exact},
        )
        dedup_sfx = "@" + _params_sig(
            {"text_col": text_col, "in": [k_exact, k_quality]}
        )
        for k in (k_cap, k_exact, k_quality, "signatures" + dedup_sfx):
            if not self.store.is_committed(k):
                raise ValueError(
                    f"merge_documents needs a completed run() with matching "
                    f"knobs first (stage {k!r} is not committed)"
                )
        captures = self.store.read(k_cap)
        key_col = "canonical_url" if canonicalize else url_col
        new_keyed = (
            normalize_urls(new_raw, url_col=url_col) if canonicalize else new_raw
        )
        new_caps = with_doc_id(
            latest_capture(new_keyed, key_col=key_col, ts_col=ts_col),
            url_col=key_col,
        ).localCheckpoint(eager=True)
        # the big committed side stays map-only: probe it with a broadcast
        # of the (small) new batch's keys
        n_overlap = captures.join(
            F.broadcast(new_caps.select(key_col)), key_col, "left_semi"
        ).count()
        if n_overlap:
            raise ValueError(
                f"{n_overlap} new capture(s) of already-committed urls: "
                "content replacement needs delete+reinsert on the spine — "
                "rerun the funnel with resume=False"
            )
        # first-seen exact tier: which new hashes already exist? (map-only
        # over captures, broadcast-probed; the hit set is ≤ |new|, tiny).
        # NULL md5 (null-text doc) never equi-matches, but exact_dedup's
        # groupBy DOES group null hashes — a sentinel keeps the two paths
        # agreeing (md5 output is 32 hex chars, so no collision)
        def _md5_key(col):
            return F.coalesce(F.md5(col), F.lit("__null_text__"))

        new_md5 = new_caps.select(
            "doc_id", _md5_key(F.col(text_col)).alias("__md5")
        )
        seen_md5 = (
            captures.select(_md5_key(F.col(text_col)).alias("__md5"))
            .join(F.broadcast(new_md5.select("__md5").distinct()), "__md5",
                  "left_semi")
            .distinct()
        )
        # eager: this plan scans the PRE-merge captures files (via
        # seen_md5) and is re-read below after the captures rewrite
        # archives them — pin the (≤|new|-row) result now
        new_keep_ids = (
            new_md5.join(F.broadcast(seen_md5), "__md5", "left_anti")
            .groupBy("__md5")
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
        ).localCheckpoint(eager=True)
        new_exact_kept = new_caps.join(new_keep_ids, "doc_id", "left_semi")
        new_quality = gopher_filter(
            new_exact_kept, text_col=text_col, **self.gopher_kwargs
        ).localCheckpoint(eager=True)
        # union-commit the gates under their existing keys (write() swaps
        # staging dirs, so reading a stage's previous version inside its
        # own rewrite plan is safe; the superseded version archives).
        # COMMIT ORDER is the crash-recovery protocol: captures — the
        # stage the url-overlap gate above reads — commits LAST, as the
        # publish point.  A crash anywhere before it leaves the old
        # captures in place, so re-running merge_documents passes the
        # overlap gate and idempotently rewrites the partial downstream
        # commits (deterministic content, snapshot-versioned keys); a
        # crash after it means the merge is fully committed and
        # ``run(resume=True)`` finishes the keep-list recomputation.
        merged_caps = captures.unionByName(new_caps)
        old_exact = self.store.read(k_exact)
        exact_upd = self.store.write(
            k_exact, old_exact.unionByName(new_keep_ids), operation="merge-append"
        )
        old_quality = self.store.read(k_quality)
        quality_upd = self.store.write(
            k_quality,
            old_quality.unionByName(new_quality.select(*old_quality.columns)),
            operation="merge-append",
        )
        # spine merge over the updated gate views (same reconstruction
        # shapes as run())
        passed_ids = quality_upd.filter("keep").select("doc_id")
        all_passed = merged_caps.join(exact_upd, "doc_id", "left_semi").join(
            passed_ids, "doc_id", "left_semi"
        )
        new_passed = new_exact_kept.join(
            new_quality.filter("keep").select("doc_id"), "doc_id", "left_semi"
        )
        incremental_update(
            self.store, all_passed, new_passed, self.cfg,
            text_col=text_col,
            stage_suffix=dedup_sfx,
        )
        captures_upd = self.store.write(
            k_cap, merged_caps, operation="merge-append"
        )
        # resume recomputes the cascade-invalidated keep-lists over the
        # merged spine; gates + spine are reused as committed above
        return self.run(
            raw if raw is not None else captures_upd,
            resume=True,
            url_col=url_col,
            ts_col=ts_col,
            text_col=text_col,
            canonicalize=canonicalize,
            containment_threshold=containment_threshold,
            exactsubstr_window=exactsubstr_window,
            exactsubstr_min_remaining=exactsubstr_min_remaining,
        )

    def _funnel(self, raw, tiers):
        # one count() job per tier boundary — a handful of scalar jobs on
        # committed stage tables, not a hot path
        rows = []
        n_prev = raw.count()
        rows.append(("raw", n_prev, n_prev))
        for name, df in tiers:
            n = df.count()
            rows.append((name, n_prev, n))
            n_prev = n
        return local_frame(
            self.spark, rows, "stage string, n_in long, n_out long"
        ).withColumn("dropped", F.col("n_in") - F.col("n_out"))
