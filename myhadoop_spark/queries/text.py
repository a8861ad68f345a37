"""Text-analysis operators over the ``documents`` table.

Extension surface (project brief; SURVEY.md §2.3): token counting,
quality scoring, language-ID heuristic, document fingerprinting, token
statistics. All are pure JVM-side expression pipelines (split /
higher-order array functions / regex / hash built-ins) — no Python
UDFs — so they run inside whole-stage codegen and scale linearly with
no shuffle at all (narrow, per-row).

All per-document metrics are declared as ONE battery query
(`doc_metrics`): that is also how a real curation pipeline runs them —
one pass over the corpus computing every per-doc feature, not five
separate scans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from myhadoop_spark.catalog import load_wide
from myhadoop_spark.functions.text import sql_tokens, tokens
from myhadoop_spark.registry import register

# stopword / marker lists (tiny, deterministic; shared with the SQL oracles)
STOPWORDS = ("the", "a", "of", "and", "to", "in")
LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "fr": ("le", "la", "les", "et", "est", "un"),
    "es": ("el", "la", "los", "y", "es", "un"),
}


def _hits(tokens: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(tokens, lambda t: t.isin(*words))).cast("bigint")


def _sql_hits(tokens: str, words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"CAST(len(list_filter({tokens}, t -> t IN ({lst}))) AS BIGINT)"


def _sql_lang_case() -> str:
    hits = {lang: f"h_{lang}" for lang in LANG_MARKERS}
    clauses = []
    langs = list(LANG_MARKERS)
    for i, lang in enumerate(langs):
        conds = [f"{hits[lang]} >= {hits[other]}" for other in langs[i + 1:]]
        conds = " AND ".join(conds) if conds else "TRUE"
        clauses.append(f"WHEN {conds} THEN '{lang}'")
    return "CASE " + " ".join(clauses) + " END"


# BPE-ish regex lexer: letter runs / digit runs / single punctuation
_BPE_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

# curation pattern counters — ASCII-only character classes so Java
# (Spark) and RE2 (DuckDB) regex semantics agree exactly
_URL_RE = r"https?://[^\s]+"
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# printable ASCII + tab/newline/CR; anything else is "non-clean"
_CLEAN_ASCII_RE = r"[\x09\x0A\x0D\x20-\x7E]"

# winnowing fingerprint (Schleimer/Wilkerson/Aiken, MOSS): polynomial
# k-gram hashes, then the minimum of every w-hash window.  Constants are
# shared verbatim with the SQL oracle; the polynomial keeps every
# intermediate < 2^63 (5 terms * 255 * 257^4 ~ 5.6e12) so no interim
# mod is needed and Spark/DuckDB BIGINT arithmetic agrees bitwise.
_WIN_K, _WIN_B, _WIN_M, _WIN_W = 5, 257, 2_147_483_647, 4
_WIN_POWERS = [_WIN_B ** (_WIN_K - 1 - j) for j in range(_WIN_K)]


def _kgram_hashes(codes: Column) -> Column:
    """Polynomial k-gram hashes over a materialized char-code column.

    ``codes`` MUST be a plain column reference (not an inline
    expression): it is read inside the per-position lambda, and an
    inline expression there would be re-evaluated per position —
    turning the O(n·k) chain quadratic.  Same discipline in the SQL
    oracle (staged CTE columns)."""
    n_grams = F.size(codes) - F.lit(_WIN_K - 1)
    return F.when(n_grams < 1, F.array().cast("array<bigint>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: sum(
                F.element_at(codes, (i + j).cast("int")).cast("bigint")
                * F.lit(p)
                for j, p in enumerate(_WIN_POWERS)) % F.lit(_WIN_M)))


def _window_mins(kh: Column) -> Column:
    """Winnowing selection: min of each w-window of the (materialized)
    k-gram hash column.  O(n·w) per row, narrow, no UDF."""
    n_windows = F.size(kh) - F.lit(_WIN_W - 1)
    return F.when(n_windows < 1, F.array().cast("array<bigint>")).otherwise(
        F.transform(F.sequence(F.lit(1), n_windows),
                    lambda i: F.array_min(F.slice(kh, i, _WIN_W))))


_SQL_WIN_POLY = " + ".join(
    f"CAST(codes[CAST(g + {j} AS INT)] AS BIGINT) * {p}"
    for j, p in enumerate(_WIN_POWERS))
# staged per-column expressions for the oracle CTE chain (codes → kh →
# winnow); each references the previous CTE's COLUMN so nothing is
# re-evaluated per lambda position
_SQL_WIN_CODES = ("list_transform(generate_series(1,"
                  " greatest(length(text), 0)),"
                  " i -> ascii(substr(text, CAST(i AS INT), 1)))")
_SQL_WIN_KH = (f"list_transform(generate_series(1, greatest(len(codes)"
               f" - {_WIN_K - 1}, 0)), g -> ({_SQL_WIN_POLY}) % {_WIN_M})")
_SQL_WIN_SEL = (f"list_transform(generate_series(1, greatest(len(kh)"
                f" - {_WIN_W - 1}, 0)),"
                f" i -> list_min(list_slice(kh, CAST(i AS INT),"
                f" CAST(i + {_WIN_W - 1} AS INT))))")


def _max_run(arr: Column) -> Column:
    """Longest run of equal ADJACENT elements — an O(n) higher-order
    fold (struct accumulator: previous element, current run, best run).
    Over a sorted array this is the maximum element multiplicity; over
    text in natural order it is the longest character repeat. Stays a
    narrow codegen expression — the shuffle-free way to get per-doc
    repetition statistics that would otherwise need an explode +
    groupBy."""
    zero = F.lit(0).cast("long")
    return F.aggregate(
        arr,
        F.struct(F.lit(None).cast("string").alias("prev"),
                 zero.alias("run"), zero.alias("best")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1).cast("long")).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1).cast("long"))).alias("best")),
        lambda acc: acc["best"])




@register(
    "doc_metrics",
    oracle=rf"""
    WITH t AS (SELECT doc_id, lang, source, text,
                      {sql_tokens('text')} AS toks
               FROM documents),
    h AS (SELECT *,
                 CAST(len(toks) AS BIGINT) AS n_tokens,
                 CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
                 {_sql_hits('toks', STOPWORDS)} AS stopword_hits,
                 {', '.join(f"{_sql_hits('toks', ws)} AS h_{lang}"
                            for lang, ws in LANG_MARKERS.items())}
          FROM t),
    tw AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_word_count
           FROM (SELECT doc_id, tok, COUNT(*) AS c
                 FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
                 GROUP BY doc_id, tok)
           GROUP BY doc_id),
    ch AS (SELECT doc_id, pos, substr(text, CAST(pos AS INT), 1) AS c
           FROM (SELECT doc_id, text,
                        unnest(generate_series(1, greatest(length(text), 0)))
                          AS pos
                 FROM t)),
    runs AS (SELECT doc_id, c,
                    pos - ROW_NUMBER() OVER (PARTITION BY doc_id, c
                                             ORDER BY pos) AS island
             FROM ch),
    cr AS (SELECT doc_id, CAST(MAX(run_len) AS BIGINT) AS max_char_run
           FROM (SELECT doc_id, COUNT(*) AS run_len
                 FROM runs GROUP BY doc_id, c, island)
           GROUP BY doc_id),
    wcod AS (SELECT doc_id, {_SQL_WIN_CODES} AS codes FROM t),
    wkh AS (SELECT doc_id, {_SQL_WIN_KH} AS kh FROM wcod),
    wsel AS (SELECT doc_id, {_SQL_WIN_SEL} AS sel FROM wkh),
    wfp AS (SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct(sel)), ','))
                     AS fp_winnow,
                   CAST(len(list_distinct(sel)) AS BIGINT) AS n_winnow_fp
            FROM wsel)
    SELECT doc_id, lang, source,
           CAST(length(text) AS BIGINT) AS n_chars_m,
           n_tokens, n_distinct,
           CAST(length(replace(text, ' ', '')) AS DOUBLE)
             / CAST(n_tokens AS DOUBLE) AS avg_token_len,
           CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr,
           stopword_hits,
           0.4 * least(1.0, CAST(n_tokens AS DOUBLE) / 50.0)
             + 0.3 * (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE))
             + 0.3 * (1.0 - CAST(stopword_hits AS DOUBLE)
                            / CAST(n_tokens AS DOUBLE)) AS quality,
           {_sql_lang_case()} AS predicted_lang,
           CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT)
             AS re_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens,
           md5(lower(trim(text))) AS fp_md5,
           md5(array_to_string(list_sort(list_distinct(
               {sql_tokens('lower(trim(text))')})), ' ')) AS fp_shingle,
           COALESCE(tw.top_word_count, 0) AS top_word_count,
           CAST(COALESCE(tw.top_word_count, 0) AS DOUBLE)
             / CAST(n_tokens AS DOUBLE) AS top_word_frac,
           COALESCE(cr.max_char_run, 0) AS max_char_run,
           wfp.fp_winnow, wfp.n_winnow_fp,
           CAST(len(regexp_extract_all(text, '{_URL_RE}')) AS BIGINT)
             AS n_urls,
           CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT)
             AS n_emails,
           CASE WHEN length(text) = 0 THEN 0.0
                ELSE CAST(length(regexp_replace(text,
                            '{_CLEAN_ASCII_RE}', '', 'g')) AS DOUBLE)
                     / CAST(length(text) AS DOUBLE) END AS nonascii_frac
    FROM h LEFT JOIN tw USING (doc_id) LEFT JOIN cr USING (doc_id)
         LEFT JOIN wfp USING (doc_id)
    """,
    gate=False,  # demoted r13 — the quality heuristic is stage 4 of the
    #              gated corpus_prep AND the teacher inside the gated
    #              curate_lines' oracle; the lang-marker hit machinery
    #              is pinned by the gated langid_predict; still a full
    #              ungated differential
    tags=("text", "extension"),
)
def doc_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document feature battery — the one-pass curation projection:

      * token statistics: counts, distinct count, type-token ratio,
        average token length, stopword hits;
      * quality heuristic in [0,1]: length saturation + lexical
        diversity + non-stopword density (deterministic double math);
      * language-ID: marker-word voting, ties broken by the fixed
        language order en > de > fr > es;
      * token counters: BPE-ish regex lexer count + chars/4 LLM-token
        estimate (whitespace count == n_tokens);
      * fingerprints: md5 of normalized text (exact) and of the sorted
        distinct token set (bag-of-words, token-order-invariant — the
        building block for near-dup detection).

    Zero UDFs and (on multi-split data) zero shuffles: one narrow
    whole-stage-codegen projection, embarrassingly parallel at any
    corpus size. The single-split fixture scan is widened round-robin
    first (catalog.load_wide) so the compute-dense winnowing/run folds
    use every core — a no-op at real scale."""
    docs = load_wide(spark, sf_dir, "documents")
    # winnowing stages as materialized columns — each is referenced
    # several times downstream (incl. inside lambdas), which both keeps
    # the chain O(n·k) and blocks CollapseProject from inlining them
    docs = (
        docs
        .withColumn("_codes", F.transform(
            F.filter(F.split(F.col("text"), ""),
                     lambda c: c != F.lit("")), F.ascii))
        .withColumn("_kh", _kgram_hashes(F.col("_codes")))
        .withColumn("_winnow", _window_mins(F.col("_kh"))))
    toks = tokens()
    n_tokens = F.size(toks).cast("bigint")
    n_distinct = F.size(F.array_distinct(toks)).cast("bigint")
    stop_hits = _hits(toks, STOPWORDS)
    quality = (
        F.lit(0.4) * F.least(F.lit(1.0),
                             n_tokens.cast("double") / F.lit(50.0))
        + F.lit(0.3) * (n_distinct.cast("double") / n_tokens.cast("double"))
        + F.lit(0.3) * (F.lit(1.0)
                        - stop_hits.cast("double") / n_tokens.cast("double"))
    )
    hits = {lang: _hits(toks, ws) for lang, ws in LANG_MARKERS.items()}
    langs = list(LANG_MARKERS)
    pred = None
    for i, lang in enumerate(langs):
        cond = F.lit(True)
        for other in langs[i + 1:]:
            cond = cond & (hits[lang] >= hits[other])
        pred = (F.when(cond, F.lit(lang)) if pred is None
                else pred.when(cond, F.lit(lang)))
    # max multiplicity of any token == longest run over the SORTED array —
    # repetition scoring without an explode+groupBy shuffle
    top_word = _max_run(F.array_sort(toks))
    winnow = F.col("_winnow")
    norm = F.lower(F.trim(F.col("text")))
    norm_toks = tokens(norm)
    return docs.select(
        "doc_id",
        "lang",
        "source",
        F.length("text").cast("bigint").alias("n_chars_m"),
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct"),
        (F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
         .cast("double") / n_tokens.cast("double")).alias("avg_token_len"),
        (n_distinct.cast("double") / n_tokens.cast("double")).alias("ttr"),
        stop_hits.alias("stopword_hits"),
        quality.alias("quality"),
        pred.alias("predicted_lang"),
        F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), 0))
        .cast("bigint").alias("re_tokens"),
        F.ceil(F.length("text") / F.lit(4.0)).cast("bigint")
        .alias("est_bpe_tokens"),
        F.md5(norm).alias("fp_md5"),
        F.md5(F.array_join(F.array_sort(F.array_distinct(norm_toks)), " "))
        .alias("fp_shingle"),
        top_word.alias("top_word_count"),
        (top_word.cast("double") / n_tokens.cast("double"))
        .alias("top_word_frac"),
        _max_run(F.filter(F.split(F.col("text"), ""),
                          lambda c: c != F.lit("")))
        .alias("max_char_run"),
        F.md5(F.array_join(
            F.transform(F.array_sort(F.array_distinct(winnow)),
                        lambda x: x.cast("string")), ","))
        .alias("fp_winnow"),
        F.size(F.array_distinct(winnow)).cast("bigint")
        .alias("n_winnow_fp"),
        F.regexp_count("text", F.lit(_URL_RE)).cast("bigint")
        .alias("n_urls"),
        F.regexp_count("text", F.lit(_EMAIL_RE)).cast("bigint")
        .alias("n_emails"),
        F.when(F.length("text") == 0, F.lit(0.0))
        .otherwise(
            F.length(F.regexp_replace("text", _CLEAN_ASCII_RE, ""))
            .cast("double") / F.length("text").cast("double"))
        .alias("nonascii_frac"),
    )


@register(
    "strip_boilerplate",
    oracle=f"""
    WITH t AS (SELECT doc_id, {sql_tokens()} AS toks FROM documents),
    sh AS (SELECT doc_id, i, array_to_string(toks[i:i+1], ' ') AS g
           FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)),
    bp AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS df
                          FROM sh GROUP BY g)
           WHERE df >= 40),
    cov AS (SELECT DISTINCT doc_id, p
            FROM sh JOIN bp USING (g),
                 unnest(generate_series(i, i + 1)) AS v(p)),
    cl AS (SELECT doc_id, list(p) AS lp FROM cov GROUP BY doc_id),
    k AS (SELECT t.doc_id, toks,
                 list_filter(generate_series(1, len(toks)),
                             p -> NOT list_contains(
                                    coalesce(lp, []), p)) AS keep
          FROM t LEFT JOIN cl USING (doc_id))
    SELECT doc_id,
           CAST(len(toks) - len(keep) AS BIGINT) AS n_removed,
           array_to_string(list_transform(keep, p -> toks[p]), ' ')
             AS clean_text
    FROM k ORDER BY doc_id
    """,
    gate=True,  # promoted into the driver gate window in r11 (VERDICT r10 #1)
    tags=("text", "curation", "extension"),
)
def strip_boilerplate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_removed, clean_text): corpus-wide boilerplate span
    removal (operators/boilerplate.py) — bigram shingles appearing in
    ≥ 40 distinct documents are boilerplate; every position they
    cover is stripped and the survivors re-joined. The rebuilt
    strings compare bitwise (integer positions + exact tokens)."""
    from myhadoop_spark.operators.boilerplate import strip_boilerplate

    docs = load_wide(spark, sf_dir, "documents")
    return (strip_boilerplate(docs, n=2, min_df=40)
            .select("doc_id", "n_removed", "clean_text")
            .orderBy("doc_id"))
