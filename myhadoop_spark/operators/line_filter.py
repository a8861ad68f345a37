"""Line-wise heuristic cleaning — the C4 / RefinedWeb curation stage
that filters WITHIN documents before any corpus-wide pass: each line
(paragraph) is kept or dropped by local rules, then the document
itself is kept or dropped by what survived.

Rules implemented (all public-paper semantics):

  per line   — C4 (Raffel et al. 2020, §2.2 "we only retained lines
               that ended in a terminal punctuation mark / contained
               at least 5 words / dropped lines with the word
               javascript"):
      * word count >= min_words_per_line
      * (optional) rtrim'd line ends in one of  . ! ? "
      * lowercased line contains NO line_drop_substrings entry
  per doc    — C4 page rules + RefinedWeb §3.1 line-wise correction
               ("if the corrections removed too large a fraction of
               the document, drop it"):
      * lowercased document contains NO doc_drop_substrings entry
        ("lorem ipsum", "{" in C4)
      * kept-line count >= min_kept_lines
      * (optional) removed-word fraction <= max_removed_frac, given
        as an integer rational (num, den) so the comparison is exact
        integer arithmetic on both engines — no float thresholds.

Everything is a narrow higher-order-function projection over a lines
array — no shuffle, no UDFs — so the pass costs one corpus scan at any
scale. HOF lambdas evaluate interpreted with no subexpression sharing,
so every array reused across consumers is LET-BOUND to a lambda
variable (operators/hof.py), never an alias a projection collapse can
inline back into per-element recompute (the r4 lesson, closed
structurally in r13).

The documents fixture has no newlines or punctuation, so the
registered differential derives lines deterministically with
``word_lines`` (fixed k-word chunks) and parameterizes rules that
discriminate on that corpus; the punctuation rule is exercised on
synthetic punctuated corpora in tests/test_line_filter.py.

Reference analog: none — §2.3 extension surface (text-curation
family, beside operators/boilerplate.py and operators/url_filter.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from myhadoop_spark.functions.text import tokens
from myhadoop_spark.operators.hof import let

_TERMINAL = (".", "!", "?", '"')


def split_lines(text_col: str | Column, delim: str = r"\n") -> Column:
    """array<string> of non-blank lines of a real (newline-bearing)
    text column, in order."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(F.split(col, delim),
                    lambda x: F.trim(x) != F.lit(""))


def word_lines(text_col: str | Column, k: int) -> Column:
    """array<string> of k-word chunks — the deterministic line shim
    for corpora without line structure (the fixtures). The final
    chunk is whatever remains (< k words).

    The token array is let-bound (operators/hof.py): the transform
    lambda slices it per produced chunk, and an unbound reference
    would re-split the full text per chunk — O(words * chunks)
    re-tokenization, measured 5x the whole pass at sf0.001."""
    if int(k) < 1:
        raise ValueError(f"words per line must be >= 1, got {k}")
    toks0 = tokens(text_col)

    # guard: sequence(1, 0) runs DESCENDING (the interval-join trap)
    def _chunks(toks: Column) -> Column:
        return F.when(
            F.size(toks) >= 1,
            F.transform(
                F.sequence(F.lit(1),
                           F.floor((F.size(toks) + F.lit(k - 1))
                                   / F.lit(k)).cast("int")),
                lambda i: F.array_join(
                    F.slice(toks, (i - F.lit(1)) * F.lit(k) + F.lit(1),
                            F.lit(k)), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return let(toks0, _chunks)


def _wc(line: Column) -> Column:
    """words on one line (str.split semantics)."""
    return F.size(tokens(line))


def line_keep(line: Column, *, min_words_per_line: int,
              require_terminal_punct: bool,
              line_drop_substrings: tuple[str, ...]) -> Column:
    """boolean: does one line survive the per-line rules?"""
    keep = _wc(line) >= F.lit(min_words_per_line)
    if require_terminal_punct:
        t = F.rtrim(line)
        last = t.substr(F.length(t), F.lit(1))
        keep = keep & last.isin(*_TERMINAL)
    low = F.lower(line)
    for s in line_drop_substrings:
        keep = keep & (F.instr(low, s.lower()) == F.lit(0))
    return keep


def clean_lines(docs: DataFrame, *, lines_col: str | Column,
                id_col: str = "doc_id",
                min_words_per_line: int = 5,
                require_terminal_punct: bool = False,
                line_drop_substrings: tuple[str, ...] = ("javascript",),
                doc_drop_substrings: tuple[str, ...] = ("lorem ipsum",
                                                        "{"),
                min_kept_lines: int = 3,
                max_removed_frac: tuple[int, int] | None = None,
                keep_lines: bool = False,
                ) -> DataFrame:
    """Surviving docs with (n_lines, n_kept, clean_text).

    ``lines_col`` is an array<string> column (split_lines /
    word_lines or the caller's own). ``max_removed_frac`` is an
    integer rational (num, den): drop the doc when
    removed_words * den > total_words * num — exact on both engines.
    Dropped documents are REMOVED from the result (this is the
    filter face); clean_text re-joins kept lines with newlines.
    ``keep_lines=True`` additionally carries the kept array as
    ``kept_lines`` so a downstream line stage (line_dedup) can chain
    on the array directly instead of re-splitting clean_text — the
    fused clean→dedup rebuild (r13; identical semantics since kept
    lines cannot contain the newline separator by construction).
    """
    if int(min_kept_lines) < 0:
        raise ValueError(f"min_kept_lines must be >= 0, "
                         f"got {min_kept_lines}")
    if max_removed_frac is not None:
        num, den = max_removed_frac
        if int(den) < 1 or int(num) < 0:
            raise ValueError(f"max_removed_frac must be a "
                             f"non-negative rational, got "
                             f"{max_removed_frac}")
    lc = F.col(lines_col) if isinstance(lines_col, str) else lines_col

    # one let-bound struct pass (operators/hof.py): the lines array
    # and the kept array are each evaluated ONCE per row — the kept
    # filter, both sizes, the doc-level substring scan, the word
    # sums, and the rebuild all read lambda variables, so neither a
    # caller-supplied word_lines expression nor the kept filter is
    # ever re-evaluated per consumer (the r4 HOF-recompute lesson,
    # closed structurally in r13)
    def _doc_struct(ls: Column) -> Column:
        kept = F.filter(
            ls,
            lambda x: line_keep(
                x, min_words_per_line=min_words_per_line,
                require_terminal_punct=require_terminal_punct,
                line_drop_substrings=line_drop_substrings))

        def _with_kept(kp: Column) -> Column:
            fields = [F.size(ls).cast("long").alias("n_lines"),
                      F.size(kp).cast("long").alias("n_kept"),
                      F.array_join(kp, "\n").alias("clean_text"),
                      kp.alias("kept_lines")]
            if doc_drop_substrings:
                fields.append(F.lower(F.array_join(ls, "\n"))
                              .alias("low_doc"))
            if max_removed_frac is not None:
                w = lambda c: F.aggregate(  # noqa: E731 — summing fold
                    c, F.lit(0).cast("long"),
                    lambda acc, x: acc + _wc(x).cast("long"))
                fields.append(w(ls).alias("w_all"))
                fields.append(w(kp).alias("w_kept"))
            return F.struct(*fields)

        return let(kept, _with_kept)

    out = docs.withColumn("_s", let(lc, _doc_struct))
    # doc-level drop rules --------------------------------------------
    keep_doc = F.col("_s.n_kept") >= F.lit(int(min_kept_lines))
    if doc_drop_substrings:
        for s in doc_drop_substrings:
            keep_doc = keep_doc & (F.instr(F.col("_s.low_doc"),
                                           s.lower()) == F.lit(0))
    if max_removed_frac is not None:
        num, den = int(max_removed_frac[0]), int(max_removed_frac[1])
        keep_doc = keep_doc & (
            (F.col("_s.w_all") - F.col("_s.w_kept")) * F.lit(den)
            <= F.col("_s.w_all") * F.lit(num))
    out = (out.filter(keep_doc)
           .withColumn("n_lines", F.col("_s.n_lines"))
           .withColumn("n_kept", F.col("_s.n_kept"))
           .withColumn("clean_text", F.col("_s.clean_text")))
    if keep_lines:
        out = out.withColumn("kept_lines", F.col("_s.kept_lines"))
    return out.drop("_s")
