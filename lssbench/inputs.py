"""Seeded benchmark inputs, generated without Spark and cached on disk.

Every input is a pure function of (workload, size, seed).  The corpus
follows ``fixtures.generate_corpus_spark``'s layout: ``parts`` independent
``fixtures.generate_corpus`` slices, slice ``p`` seeded ``seed * parts + p``,
so planted duplicate clusters stay slice-local and their sizes average over
many Zipf draws.  Slices are generated in this process (no Spark job), so
input generation never counts towards set-up or timed work.

Ground truth is the planted pair list re-scored with the independent
oracle (``oracle.oracle_shingles``, the shingle sets ``oracle.exact_jaccard``
compares) on the final text, so text the benchmark adds (boilerplate) is
accounted for.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np

# same shape as tools/scaling_bench.py's corpus (150-600 tokens, 30% planted)
CORPUS_KW = dict(
    dup_fraction=0.3, substring_fraction=0.02, min_tokens=150, max_tokens=600
)
DOCS_PER_PART = 250
BOILER_FRAC = 0.25       # share of docs that get a shared boilerplate block
BOILER_TOKENS = 300      # tokens per block
DOCS_PER_BLOCK = 625     # group size per block (5,000 docs over 8 blocks at 20k)


@dataclass
class Inputs:
    """A generated input set on disk plus its oracle truth."""

    docs_path: str           # one parquet file: url, warc_ts, html, text, lang, doc_id
    n_docs: int
    truth: dict              # (id1, id2) -> oracle Jaccard, planted pairs only
    stream_dir: str | None   # one parquet file per micro-batch, ascending doc_id


def _oracle_jaccard(a: set, b: set) -> float:
    """``oracle.exact_jaccard`` over precomputed oracle shingle sets."""
    if not a and not b:
        return 1.0
    u = len(a | b)
    return len(a & b) / u if u else 0.0


def oracle_pair_scores(texts: dict[int, str], pairs, cfg) -> dict:
    """(id1, id2) -> oracle Jaccard for every pair, shingling each doc once."""
    from localitysensitivesketch_spark.oracle import oracle_shingles

    cache: dict[int, set] = {}

    def sh(i: int) -> set:
        s = cache.get(i)
        if s is None:
            s = cache[i] = oracle_shingles(texts[i], cfg)
        return s

    return {(a, b): _oracle_jaccard(sh(a), sh(b)) for a, b in pairs}


def _corpus(n_docs: int, seed: int):
    """Columns + planted pairs (row indices) for a partitioned corpus."""
    from localitysensitivesketch_spark.fixtures import generate_corpus

    parts = max(1, -(-n_docs // DOCS_PER_PART))
    cols = {k: [] for k in ("url", "warc_ts", "html", "text", "lang")}
    planted: list[tuple[int, int]] = []
    for p in range(parts):
        n = n_docs // parts + (1 if p < n_docs % parts else 0)
        c = generate_corpus(n_docs=n, seed=seed * parts + p, **CORPUS_KW)
        base = len(cols["url"])
        cols["url"] += [u.replace("https://", f"https://part{p}.") for u in c.url]
        cols["warc_ts"] += c.warc_ts
        cols["html"] += c.html
        cols["text"] += c.text
        cols["lang"] += c.lang
        planted += [(base + a, base + b) for a, b, _ in c.truth_pairs]
    return cols, planted


def _add_boilerplate(texts: list[str], seed: int) -> list[str]:
    """Append one of a few shared ``BOILER_TOKENS``-token blocks to a
    seeded ``BOILER_FRAC`` of the docs.  Tokens come from the corpus's own
    vocabulary, so the blocks hash like ordinary text."""
    rng = np.random.default_rng([seed, 1])
    vocab = sorted({t for text in texts for t in text.split()})
    n_boiler = int(len(texts) * BOILER_FRAC)
    n_blocks = max(1, round(n_boiler / DOCS_PER_BLOCK))
    blocks = [
        " ".join(vocab[i] for i in rng.integers(0, len(vocab), BOILER_TOKENS))
        for _ in range(n_blocks)
    ]
    out = list(texts)
    for row in rng.choice(len(texts), size=n_boiler, replace=False):
        out[row] = out[row] + " " + blocks[int(rng.integers(0, n_blocks))]
    return out


def _write_parquet(cols: dict, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = path + ".tmp"
    pq.write_table(
        pa.table(cols), tmp, coerce_timestamps="us", allow_truncated_timestamps=True
    )
    os.replace(tmp, path)


def _write_stream_files(doc_ids: np.ndarray, texts: list[str], out_dir: str,
                        n_files: int) -> None:
    """``(doc_id, text)`` split into ``n_files`` files in ascending doc_id
    with ascending mtimes, so the file source reads them in id order (the
    order under which the stream's first-seen exact keeper equals the batch
    funnel's min-id keeper)."""
    order = np.argsort(doc_ids, kind="stable")
    os.makedirs(out_dir, exist_ok=True)
    for i, chunk in enumerate(np.array_split(order, n_files)):
        path = os.path.join(out_dir, f"part-{i:04d}.parquet")
        _write_parquet(
            {"doc_id": doc_ids[chunk], "text": [texts[j] for j in chunk]}, path
        )
        os.utime(path, (1_000_000_000 + i, 1_000_000_000 + i))


def build(work_dir: str, name: str, n_docs: int, seed: int, cfg, *,
          boilerplate: bool = False, stream_files: int = 0) -> Inputs:
    """Generate (or load from cache) one input set keyed by name/size/seed."""
    root = os.path.join(work_dir, "inputs", f"{name}-n{n_docs}-s{seed}")
    docs_path = os.path.join(root, "docs.parquet")
    truth_path = os.path.join(root, "truth.json")
    stream_dir = os.path.join(root, "stream") if stream_files else None
    done = os.path.join(root, "_DONE")
    if not os.path.exists(done):
        os.makedirs(root, exist_ok=True)
        cols, planted = _corpus(n_docs, seed)
        if boilerplate:
            cols["text"] = _add_boilerplate(cols["text"], seed)
        # seeded id permutation: planted clusters do not get adjacent ids
        ids = np.random.default_rng([seed, 2]).permutation(n_docs).astype(np.int64) + 1
        cols["doc_id"] = ids
        _write_parquet(cols, docs_path)
        texts = {int(ids[r]): t for r, t in enumerate(cols["text"])}
        pairs = sorted({tuple(sorted((int(ids[a]), int(ids[b])))) for a, b in planted})
        scores = oracle_pair_scores(texts, pairs, cfg)
        with open(truth_path + ".tmp", "w") as f:
            json.dump([[a, b, j] for (a, b), j in scores.items()], f)
        os.replace(truth_path + ".tmp", truth_path)
        if stream_files:
            _write_stream_files(ids, cols["text"], stream_dir, stream_files)
        open(done, "w").close()
    with open(truth_path) as f:
        truth = {(a, b): j for a, b, j in json.load(f)}
    return Inputs(docs_path, n_docs, truth, stream_dir)


def read_texts(docs_path: str, ids=None) -> dict[int, str]:
    """doc_id -> text from an input file (all docs, or just ``ids``)."""
    import pyarrow.parquet as pq

    t = pq.read_table(docs_path, columns=["doc_id", "text"]).to_pydict()
    want = None if ids is None else set(ids)
    return {
        i: s for i, s in zip(t["doc_id"], t["text"]) if want is None or i in want
    }
