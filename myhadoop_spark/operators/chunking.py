"""Deterministic document chunking — the embedding/RAG-pipeline
primitive between raw documents and the similarity-search index: split
each document into overlapping token windows of a fixed budget, so
chunks (not whole documents) are what gets embedded, indexed
(operators/ivf.py), and deduplicated.

Semantics (chunk_tokens C, overlap V, step = C − V):

  * chunk starts are 1, 1+step, 1+2·step, …, kept while the chunk
    contributes at least one UNSEEN token (start + V ≤ n_tokens) — the
    trailing-chunk rule that avoids emitting a final window fully
    contained in its predecessor;
  * every chunk except possibly the last has exactly C tokens; the
    last has n − start + 1;
  * chunk_id = (start − 1) / step — stable, content-independent,
    derivable from either side of a join;
  * empty documents yield zero chunks.

Scale shape: one narrow projection per document (tokenize → start
sequence → per-start slice+join) and one posexplode — shuffle-free;
the chunk stream inherits the scan's partitioning. Everything is
built-in expressions (the start sequence and slices are per-row
arrays, not the CollapseProject trap — each stage column is an
attribute, see operators/substring.py::window_hash_rows).

Token conservation: concatenating chunks with the V-token prefixes of
chunks 2..k dropped reproduces the document's token stream exactly
(asserted in tests/test_chunking.py, alongside a bitwise DuckDB
differential of the full chunk table).

Reference analog: none — §2.3 extension surface (SURVEY.md §2.3),
feeding similarity search and chunk dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from myhadoop_spark.functions.text import tokens


def chunk_documents(docs: DataFrame, *, chunk_tokens: int = 128,
                    overlap: int = 16, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """(doc_id, chunk_id, start_token, n_tokens, text): overlapping
    token-window chunks of every document."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    toks = tokens(text_col)
    n = F.size("_toks")
    starts = F.filter(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(step)),
        lambda s: (n > 0) & ((s == 1) | (s + F.lit(overlap) <= n)))
    chunk = F.struct(
        F.col("_s").alias("start_token"),
        F.least(n - F.col("_s") + 1, F.lit(chunk_tokens)).alias("n_tokens"),
        F.array_join(F.slice(F.col("_toks"), F.col("_s"),
                             F.lit(chunk_tokens)), " ").alias("text"))
    return (docs
            .select(id_col, toks.alias("_toks"))
            .select(id_col, "_toks", F.explode(starts).alias("_s"))
            .select(id_col,
                    ((F.col("_s") - 1) / F.lit(step)).cast("bigint")
                    .alias("chunk_id"),
                    chunk.alias("_c"))
            .select(id_col, "chunk_id", "_c.start_token", "_c.n_tokens",
                    "_c.text"))
