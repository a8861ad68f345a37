"""Seeded input generators, one per workload.

Everything is drawn from ``numpy.random.default_rng(seed)``, so the
same seed writes the same bytes. Tables follow the fixture schemas of
FIXTURES.md (``documents``/``embeddings``), generated here
rather than copied, so a run needs nothing outside its own checkout.

Each generator writes under ``out`` and returns a dict that the
workload needs later (expected outputs, row and byte counts).
"""

from __future__ import annotations

import os
import string
from collections import Counter
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _words(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct lowercase words of 2-9 letters."""
    letters = np.array(list(string.ascii_lowercase))
    out: dict[str, None] = {}
    while len(out) < n:
        ln = int(rng.integers(2, 10))
        out["".join(rng.choice(letters, ln))] = None
    return list(out)


def _zipf_ids(rng: np.random.Generator, vocab: int, n: int,
              a: float = 1.1) -> np.ndarray:
    p = 1.0 / np.arange(1, vocab + 1) ** a
    return rng.choice(vocab, size=n, p=p / p.sum())


def _dir_stats(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def _write(table: pa.Table, path: Path) -> None:
    pq.write_table(table, path)


# --------------------------------------------------------------------------
# wordcount: the reference's layout — one directory per input volume,
# holding whitespace-tokenised, lowercase ``combined_*`` text files
# --------------------------------------------------------------------------

def wordcount(seed: int, out: Path, volumes: dict[str, int],
              files_per_volume: int = 4, vocab: int = 20000) -> dict:
    rng = np.random.default_rng(seed)
    words = np.array(_words(rng, vocab))
    counts: dict[str, Counter] = {}
    rows = 0
    for vol, n_words in volumes.items():
        d = out / vol
        d.mkdir(parents=True)
        ids = _zipf_ids(rng, vocab, n_words)
        toks = words[ids]
        counts[vol] = Counter(toks.tolist())
        for f, part in enumerate(np.array_split(toks, files_per_volume)):
            lines, i = [], 0
            while i < len(part):
                k = int(rng.integers(8, 20))
                lines.append(" ".join(part[i:i + k]))
                i += k
            rows += len(lines)
            (d / f"combined_{f}").write_text("\n".join(lines) + "\n")
    return {"counts": counts, "rows": rows, "bytes": _dir_stats(out)}


# --------------------------------------------------------------------------
# neardup: documents and embeddings with planted near-duplicates. Every
# ``dup_every``-th row copies an earlier original row with a fixed
# number of tokens (or small noise on every coordinate) changed, so
# candidate pairs grow linearly with size, every cluster is a star of
# diameter two and the work does not depend on the seed
# --------------------------------------------------------------------------

def _planted(rng: np.random.Generator, n: int, dup_every: int):
    """(row, original row) for every planted copy."""
    originals = [i for i in range(n) if i % dup_every != dup_every - 1]
    return [(i, originals[int(rng.integers(0, i - i // dup_every))])
            for i in range(dup_every - 1, n, dup_every)]


def neardup(seed: int, out: Path, n_docs: int, n_vecs: int,
            dup_every: int = 5, vocab: int = 3000, dims: int = 64,
            changed_tokens: int = 2) -> dict:
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True)
    words = np.array(_words(rng, vocab))
    texts = [words[_zipf_ids(rng, vocab, int(rng.integers(15, 60)))].tolist()
             for _ in range(n_docs)]
    for i, src in _planted(rng, n_docs, dup_every):
        toks = list(texts[src])
        for k in rng.choice(len(toks), changed_tokens, replace=False):
            toks[int(k)] = str(words[int(rng.integers(0, vocab))])
        texts[i] = toks
    text = [" ".join(t) for t in texts]
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": text,
        "lang": np.array(["en", "de", "fr", "zh"])[
            rng.integers(0, 4, n_docs)],
        "source": [f"src{int(s)}" for s in rng.integers(0, 5, n_docs)],
        "n_chars": pa.array([len(t) for t in text], pa.int64())}),
        out / "documents.parquet")

    vecs = rng.normal(0.0, 0.1, (n_vecs, dims)).astype("float32")
    for i, src in _planted(rng, n_vecs, dup_every):
        vecs[i] = vecs[src] + rng.normal(0.0, 0.004, dims).astype("float32")
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 8, n_vecs), pa.int32())}),
        out / "embeddings.parquet")
    return {"rows": n_docs + n_vecs, "bytes": _dir_stats(out)}


# --------------------------------------------------------------------------
# stream_dedup: pre-written micro-batch files of multi-line documents
# drawn from a shared line pool, plus the expected keep-first output
# --------------------------------------------------------------------------

def keep_first(batches: list[list[tuple[int, str]]]) -> dict[int, tuple]:
    """Pure-Python model of the streaming keep-first line dedup: a line
    survives only in the first (batch, doc id, position) that shows
    it; documents left with no line are dropped. Returns
    {doc_id: (batch, n_lines, n_kept, clean_text)}."""
    seen: set[str] = set()
    out: dict[int, tuple] = {}
    for b, docs in enumerate(batches):
        taken: set[str] = set()
        for doc_id, text in sorted(docs):
            lines = [ln for ln in text.split("\n") if ln.strip()]
            kept = []
            for ln in lines:
                if ln not in seen and ln not in taken:
                    taken.add(ln)
                    kept.append(ln)
            if kept:
                out[doc_id] = (b, len(lines), len(kept), "\n".join(kept))
        seen |= taken
    return out


def stream_batches(seed: int, out: Path, n_batches: int, docs_per_batch: int,
                   pool: int = 4000) -> dict:
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True)
    words = np.array(_words(rng, 1500))
    lines = [" ".join(words[rng.integers(0, 1500, int(rng.integers(3, 9)))])
             for _ in range(pool)]
    batches: list[list[tuple[int, str]]] = []
    doc_id = 0
    base = 1_600_000_000
    for b in range(n_batches):
        docs = []
        for _ in range(docs_per_batch):
            ids = _zipf_ids(rng, pool, int(rng.integers(3, 9)), a=0.9)
            docs.append((doc_id, "\n".join(lines[int(i)] for i in ids)))
            doc_id += 1
        batches.append(docs)
        f = out / f"batch_{b:05d}.parquet"
        _write(pa.table({
            "doc_id": pa.array([d for d, _ in docs], pa.int64()),
            "text": [t for _, t in docs]}), f)
        # the file source orders files by modification time: space them
        # one second apart so arrival order is the batch order
        os.utime(f, (base + b, base + b))
    return {"expected": keep_first(batches),
            "rows": n_batches * docs_per_batch, "bytes": _dir_stats(out)}
