"""Corpus-wide line/paragraph exact deduplication — the CCNet
(Wenzek et al. 2020, §3 "deduplicating") first stage: every line that
has already appeared ANYWHERE earlier in the corpus is removed, where
"earlier" is the deterministic total order (doc id, line position).
This kills the long tail of boilerplate the df-threshold pass
(operators/boilerplate.py) deliberately leaves alone: a footer shared
by only two pages is still a duplicate line.

Semantics (deterministic, engine-exact):

    key(line)  = the line itself, or its CCNet normalization
                 (lowercase, digit runs stripped) when normalize=True
    survivor   = per distinct key, the lexicographically minimal
                 (doc id, position) occurrence
    clean      = each doc's surviving lines, in original order,
                 re-joined by newlines; docs with fewer than
                 min_kept_lines survivors are dropped

Keep-first also dedups repeats WITHIN one document (the second
occurrence of a line in the same doc loses to the first) — exactly
the CCNet hash-set behavior.

Scale shape (100 TB): one posexplode, one groupBy(key) with a
partial-aggregable min(struct(doc, pos)) — a line appearing in 95% of
documents collapses map-side, no single-reducer hot key and no window
over the raw occurrences (the unimax/url_dedup survivor discipline) —
one hash equi-join of occurrences back against the survivor table,
one per-doc bounded sort_array(collect_list) rebuild. No windows over
data-sized partitions, no UDFs, no driver state.

Reference analog: none — §2.3 extension surface (dedup family, beside
queries/dedup.py exact/minhash and operators/substring.py).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from myhadoop_spark.operators.hof import let


def ccnet_normalize(line: Column) -> Column:
    """CCNet-style line key: lowercase, digit runs removed, outer
    whitespace trimmed."""
    return F.trim(F.regexp_replace(F.lower(line), "[0-9]+", ""))


def line_occurrences(base: DataFrame, *, id_col: str,
                     normalize: bool) -> DataFrame:
    """(_id, pos, line, _key) — one row per line of ``base``'s
    materialized ``_lines`` array, 1-based positions."""
    occ = (base.select(F.col(id_col).alias("_id"),
                       F.posexplode("_lines").alias("_p0", "line"))
           .withColumn("pos", (F.col("_p0") + 1).cast("long"))
           .drop("_p0"))
    return occ.withColumn(
        "_key", ccnet_normalize(F.col("line")) if normalize
        else F.col("line"))


def dedup_against(docs: DataFrame, seen: DataFrame | None, *,
                  lines_col: str | Column,
                  id_col: str = "doc_id",
                  normalize: bool = False,
                  min_kept_lines: int = 1,
                  carry_base: bool = True,
                  observe_docs: Callable[[DataFrame], DataFrame]
                  | None = None) -> DataFrame:
    """The composable core: keep-first line dedup WITHIN ``docs``,
    after first discarding every line whose key appears in ``seen``
    (a one-column ``key`` DataFrame — the already-ingested corpus).
    ``seen=None`` is the pure batch semantics (line_dedup). The seen
    set is data-sized (distinct lines so far), so it joins
    hash-partitioned (left_anti) — never assumed broadcastable.

    ``carry_base=False`` skips the rebuild join back against ``docs``
    and returns only (id_col, n_kept, clean_text): every id in the
    survivor rebuild came FROM docs, so the inner join adds nothing
    but docs' other columns (n_lines, original text) — a composition
    that doesn't read them saves one shuffle join and one recompute
    of the docs subtree (r13 stage fusion).

    ``observe_docs`` (with ``carry_base``) wraps the rebuild join while
    it still holds one row per doc of ``docs``, before the
    ``min_kept_lines`` filter: the place to observe the input's size.
    """
    if int(min_kept_lines) < 1:
        # a doc with zero survivors is always dropped (CCNet drops
        # empty docs) — the rebuild join is inner by construction
        raise ValueError(
            f"min_kept_lines must be >= 1, got {min_kept_lines}")
    lc = F.col(lines_col) if isinstance(lines_col, str) else lines_col
    base = (docs.withColumn("_lines", lc)
            .withColumn("n_lines", F.size("_lines").cast("long")))
    occ = line_occurrences(base, id_col=id_col, normalize=normalize)
    if seen is not None:
        # hash-partitioned anti join; a hot batch line already in
        # `seen` skews one partition, which AQE's skew-join splitting
        # (enabled in session.py) re-plans at runtime — the scan is
        # linear (no sort), so even unsplit it is bounded by the
        # batch's own occurrence count
        occ = occ.join(seen.select(F.col("key").alias("_key")),
                       "_key", "left_anti")
    # survivor per key: partial-aggregable arg-min that CARRIES the
    # winning row ((_id, pos) is unique, so appending line to the
    # struct cannot change the argmin) — never a window, and never a
    # join back against the raw occurrences: re-joining on _key would
    # funnel every occurrence of a hot line (one line in 95% of docs)
    # through a single join task, where the min-struct collapses it
    # map-side instead (rehearsed in scripts/line_study.py).
    kept = (occ.groupBy("_key")
            .agg(F.min(F.struct("_id", "pos", "line")).alias("_s"))
            .select(F.col("_s._id").alias("_id"),
                    F.col("_s.pos").alias("pos"),
                    F.col("_s.line").alias("line")))
    rebuilt = (kept.groupBy("_id")
               .agg(F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("pos", "line"))),
                            lambda s: s["line"]),
                        "\n").alias("clean_text"),
                    F.count("*").alias("n_kept")))
    if not carry_base:
        return (rebuilt
                .filter(F.col("n_kept") >= F.lit(int(min_kept_lines)))
                .withColumnRenamed("_id", id_col))
    # a left join the filter below turns back into the inner one; an
    # observation between them keeps it outer, so it still sees every
    # doc when no line survives and AQE prunes the empty rebuild
    out = base.join(rebuilt, base[id_col] == rebuilt["_id"], "left")
    if observe_docs is not None:
        out = observe_docs(out)
    return (out.filter(F.col("n_kept") >= F.lit(int(min_kept_lines)))
            .drop("_id", "_lines"))


def line_dedup(docs: DataFrame, *, lines_col: str | Column,
               id_col: str = "doc_id",
               normalize: bool = False,
               min_kept_lines: int = 1,
               carry_base: bool = True) -> DataFrame:
    """Surviving docs with (n_lines, n_kept, clean_text) after
    corpus-wide keep-first line dedup.

    ``lines_col`` is an array<string> column (see
    operators/line_filter.py's split_lines / word_lines producers).
    ``carry_base=False`` returns only (id_col, n_kept, clean_text)
    without the rebuild join — see dedup_against.
    """
    return dedup_against(docs, None, lines_col=lines_col,
                         id_col=id_col, normalize=normalize,
                         min_kept_lines=min_kept_lines,
                         carry_base=carry_base)


def within_doc_dedup(docs: DataFrame, *, lines_col: str | Column,
                     id_col: str = "doc_id",
                     normalize: bool = False,
                     min_kept_lines: int = 1,
                     max_lines: int | None = None) -> DataFrame:
    """Per-document repeated-line removal — the C4/RefinedWeb
    per-page line correction (keep each document's FIRST occurrence
    of every line key, drop later in-document repeats), as ONE
    zero-shuffle narrow pass: no corpus state, no join, no window —
    each doc is compared only against itself. The corpus-wide CCNet
    face is ``line_dedup``; this face is what a pipeline arms when
    cross-document boilerplate is handled elsewhere (df-threshold or
    corpus dedup) and only in-page repetition must go.

    Returns surviving docs with (n_lines, n_kept, clean_text); the
    comparison key is the raw line or its CCNet normalization, the
    OUTPUT always keeps the original line text of the first
    occurrence. The lines and key arrays are LET-BOUND to lambda
    variables (operators/hof.py) so the indexed filter reads
    attributes, never re-evaluates the producing expression per
    element (the HOF-recompute discipline, closed structurally).

    Cost bound: ``array_position`` scans the key prefix per element —
    O(L^2) key comparisons per document (shared by the DuckDB twin's
    list_position, so the differential stays honest). Page-sized
    documents (the C4/RefinedWeb unit, tens to hundreds of lines) are
    well inside the bound; for corpora that may carry degenerate
    multi-thousand-line documents, set ``max_lines`` to fail loudly
    in-plan (the max_bucket refusal discipline) and route such docs
    through the corpus-wide ``line_dedup`` (linear via explode +
    groupBy) instead."""
    if int(min_kept_lines) < 1:
        raise ValueError(
            f"min_kept_lines must be >= 1, got {min_kept_lines}")
    if max_lines is not None and int(max_lines) < 1:
        raise ValueError(f"max_lines must be >= 1, got {max_lines}")
    lc = F.col(lines_col) if isinstance(lines_col, str) else lines_col
    if max_lines is not None:
        guard = F.assert_true(
            F.size(lc) <= F.lit(int(max_lines)),
            F.concat(F.lit("within_doc_dedup: document exceeds "
                           f"max_lines={int(max_lines)} (O(L^2) "
                           "per-doc bound) — got "),
                     F.size(lc).cast("string"),
                     F.lit(" lines; use line_dedup for degenerate "
                           "documents")))
        # assert_true returns NULL on pass; folding it into the bound
        # value keeps it alive under column pruning (the budget 1-row
        # contract pattern, operators/budget_select.py)
        lc = F.when(guard.isNull(), lc)

    def _doc_struct(ls: Column) -> Column:
        # element i survives iff the FIRST occurrence of its key is
        # at i (filter's i is 0-based, [] indexing 0-based,
        # array_position 1-based first match — identical to the
        # DuckDB twin's list_position/list_filter with 1-based i)
        def _with_keys(ks: Column) -> Column:
            kept = F.filter(
                ls, lambda x, i:
                F.array_position(ks, ks[i]) == i + F.lit(1))
            return let(kept, lambda kp: F.struct(
                F.size(ls).cast("long").alias("n_lines"),
                F.size(kp).cast("long").alias("n_kept"),
                F.array_join(kp, "\n").alias("clean_text")))

        if normalize:
            return let(F.transform(ls, ccnet_normalize), _with_keys)
        return _with_keys(ls)

    out = (docs.withColumn("_s", let(lc, _doc_struct))
           .withColumn("n_lines", F.col("_s.n_lines"))
           .withColumn("n_kept", F.col("_s.n_kept"))
           .filter(F.col("n_kept") >= F.lit(int(min_kept_lines)))
           .withColumn("clean_text", F.col("_s.clean_text"))
           .drop("_s"))
    return out
