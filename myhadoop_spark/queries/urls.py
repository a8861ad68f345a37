"""URL/domain discipline differential (operators/url_dedup.py): derive
a deterministic messy URL per document (four variants exercising
scheme case, default ports, www./cdn. subdomains, fragments, tracking
params and case-sensitive paths), then URL-dedup + per-domain cap.

The oracle is deliberately NOT a re-implementation of the regexp
canonicalizer: it constructs the expected canonical form and domain
directly from the URL's constituent parts, so the differential pins
that the operator's parsing pipeline recovers the ground truth —
variant 0 (``https://www.b/P/k``) and variant 1
(``HTTP://b:80/P/k?utm_source=feed``) MUST collide after
canonicalization (same pid), variant 3 keeps its non-tracking
``id=`` param, and www./port/fragment/scheme all vanish. Survivor
choice and the per-domain cap are the (md5-rank, doc_id) prefix —
integer/string arithmetic only, bitwise across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myhadoop_spark.catalog import load_wide
from myhadoop_spark.functions.text import sql_hash_bucket, sql_tokens, tokens
from myhadoop_spark.operators.url_dedup import (
    canonical_url,
    domain_cap,
    host_of,
    registrable_domain,
    url_dedup,
)
from myhadoop_spark.operators.url_filter import url_filter
from myhadoop_spark.registry import register
from myhadoop_spark.materialize import materialize

_CAP = 15
# RefinedWeb §3.1 URL-filter fixture knobs (shared by url_filter_q and
# the curate_mix composition + both oracles): three blocklisted
# domains; '/a/' paths score 2 and '?id=' queries 1, so variant-3 URLs
# (both signals, score 3) are dropped at threshold 3 while variant-2
# ('/a/' only, score 2) survive
_BLOCKED = ("src3.com", "src7.com", "src15.com")
_KEYWORDS = (("/a/", 2), ("?id=", 1))
_KW_THRESHOLD = 3
_SQL_BLOCKED = ", ".join(f"'{d}'" for d in _BLOCKED)
_SQL_SCORE = ("CAST(CASE WHEN strpos(canon_url, '/a/') > 0 "
              "THEN 2 ELSE 0 END "
              "+ CASE WHEN strpos(canon_url, '?id=') > 0 "
              "THEN 1 ELSE 0 END AS BIGINT)")


def _url_expr() -> F.Column:
    b = F.concat(F.col("source"), F.lit(".com"))
    pid = F.expr("doc_id div 2").cast("string")
    qid = (F.col("doc_id") % 7).cast("string")
    v = F.col("doc_id") % 4
    url = (
        F.when(v == 0, F.concat(F.lit("https://www."), b,
                                F.lit("/P/"), pid))
        .when(v == 1, F.concat(F.lit("HTTP://"), b, F.lit(":80/P/"),
                               pid, F.lit("?utm_source=feed")))
        .when(v == 2, F.concat(F.lit("https://cdn."), b, F.lit("/a/"),
                               pid, F.lit("#frag")))
        .otherwise(F.concat(F.lit("https://"), b, F.lit("/a/"), pid,
                            F.lit("?id="), qid,
                            F.lit("&utm_campaign=x"))))
    return url


def _with_urls(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", _url_expr().alias("url"))


@register(
    "url_domain_cap",
    oracle=f"""
    WITH u AS (SELECT doc_id, source || '.com' AS b,
                      doc_id % 4 AS v,
                      CAST(doc_id // 2 AS VARCHAR) AS pid,
                      CAST(doc_id % 7 AS VARCHAR) AS qid,
                      {sql_hash_bucket('doc_id', 1000000)} AS r
               FROM documents),
    parts AS (SELECT doc_id, r, b AS domain,
                     CASE v
                       WHEN 0 THEN b || '/P/' || pid
                       WHEN 1 THEN b || '/P/' || pid
                       WHEN 2 THEN 'cdn.' || b || '/a/' || pid
                       ELSE b || '/a/' || pid || '?id=' || qid
                     END AS canon_url
              FROM u),
    dedup AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY canon_url
                                           ORDER BY r, doc_id) AS drn
              FROM parts),
    capped AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY domain
                                            ORDER BY r, doc_id) AS crn
               FROM dedup WHERE drn = 1)
    SELECT doc_id, domain, canon_url
    FROM capped WHERE crn <= {_CAP}
    ORDER BY doc_id
    """,
    gate=False,  # demoted r12 — the gated curate_mix composition embeds the
    #              domain-cap stage; still a full differential
    tags=("dedup", "curation", "extension"),
)
def url_domain_cap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, domain, canon_url): the per-domain capped survivors of
    URL-level dedup over the derived crawl URLs."""
    docs = _with_urls(load_wide(spark, sf_dir, "documents"))
    deduped = url_dedup(docs, url_col="url", id_col="doc_id")
    with_dom = deduped.withColumn(
        "domain", registrable_domain(host_of(F.col("url"))))
    capped = domain_cap(with_dom, domain_col="domain", cap=_CAP)
    return (capped.select("doc_id", "domain", "canon_url")
            .orderBy("doc_id"))


@register(
    "url_filter",
    oracle=f"""
    WITH u AS (SELECT doc_id, source || '.com' AS b,
                      doc_id % 4 AS v,
                      CAST(doc_id // 2 AS VARCHAR) AS pid,
                      CAST(doc_id % 7 AS VARCHAR) AS qid
               FROM documents),
    parts AS (SELECT doc_id, b AS domain,
                     CASE v
                       WHEN 0 THEN b || '/P/' || pid
                       WHEN 1 THEN b || '/P/' || pid
                       WHEN 2 THEN 'cdn.' || b || '/a/' || pid
                       ELSE b || '/a/' || pid || '?id=' || qid
                     END AS canon_url
              FROM u),
    scored AS (SELECT doc_id, domain, canon_url,
                      {_SQL_SCORE} AS url_score
               FROM parts
               WHERE domain NOT IN ({_SQL_BLOCKED}))
    SELECT doc_id, domain, canon_url, url_score
    FROM scored WHERE url_score < {_KW_THRESHOLD}
    ORDER BY doc_id
    """,
    gate=True,  # promoted r12 — RefinedWeb §3.1 stage one (VERDICT r11 #1)
    tags=("curation", "filter", "extension"),
)
def url_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, domain, canon_url, url_score): the RefinedWeb §3.1
    URL-filter survivors — blocklisted domains out (broadcast anti
    join), then keyword-scored canonical URLs at/above threshold out
    (one compiled presence-sum expression). The oracle constructs
    domain/canon from the URL parts, so the differential pins the
    whole parse→score→filter pipeline."""
    docs = _with_urls(load_wide(spark, sf_dir, "documents"))
    enriched = (docs
                .withColumn("domain",
                            registrable_domain(host_of(F.col("url"))))
                .withColumn("canon_url", canonical_url(F.col("url"))))
    bl = spark.createDataFrame([(d,) for d in _BLOCKED], "domain string")
    out = url_filter(enriched, blocked_domains=bl, keywords=_KEYWORDS,
                     threshold=_KW_THRESHOLD)
    # r13: the pipeline above is one NARROW pass (scan → URL parse →
    # blocklist anti-join → keyword score → filter), so the trailing
    # sort's range-partition sampling job re-executed ALL of it a
    # second time per invocation; materialize the narrow survivor
    # table once instead (guide §1.4/§3.3)
    return (out.select("doc_id", "domain", "canon_url", "url_score")
            .transform(materialize)
            .orderBy("doc_id"))


@register(
    "curate_mix",
    oracle=f"""
    WITH u AS (SELECT doc_id, source || '.com' AS b,
                      doc_id % 4 AS v,
                      CAST(doc_id // 2 AS VARCHAR) AS pid,
                      CAST(doc_id % 7 AS VARCHAR) AS qid,
                      {sql_hash_bucket('doc_id', 1000000)} AS r
               FROM documents),
    parts AS (SELECT doc_id, r, b AS domain,
                     CASE v
                       WHEN 0 THEN b || '/P/' || pid
                       WHEN 1 THEN b || '/P/' || pid
                       WHEN 2 THEN 'cdn.' || b || '/a/' || pid
                       ELSE b || '/a/' || pid || '?id=' || qid
                     END AS canon_url
              FROM u),
    dedup AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY canon_url
                                           ORDER BY r, doc_id) AS drn
              FROM parts
              WHERE domain NOT IN ({_SQL_BLOCKED})
                AND {_SQL_SCORE} < {_KW_THRESHOLD}),
    capped AS (SELECT doc_id FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY domain
                                              ORDER BY r, doc_id) AS crn
                 FROM dedup WHERE drn = 1)
               WHERE crn <= {_CAP}),
    dt AS (SELECT coalesce(d.lang, '') AS lang, d.doc_id,
                  CAST(len({sql_tokens('d.text')}) AS BIGINT) AS n_tokens
           FROM documents d JOIN capped USING (doc_id)),
    sz AS (SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS cap
           FROM dt GROUP BY lang),
    tot AS (SELECT CAST(CAST(SUM(n_tokens) AS BIGINT) * 1 // 2 AS BIGINT)
                     AS bb
            FROM dt),
    g AS (SELECT lang, cap,
                 ROW_NUMBER() OVER (ORDER BY cap, lang) AS i,
                 CAST(SUM(cap) OVER (ORDER BY cap, lang
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                 COUNT(*) OVER () AS k
          FROM sz),
    g2 AS (SELECT g.*, cum - cap AS prev, bb,
                  (cap * (k - i + 1) > bb - (cum - cap)) AS fail
           FROM g CROSS JOIN tot),
    g3 AS (SELECT *, MIN(CASE WHEN fail THEN i END) OVER () AS t,
                  MIN(CASE WHEN fail THEN prev END) OVER () AS tprev
           FROM g2),
    a AS (SELECT lang,
                 CAST(CASE WHEN t IS NULL OR i < t THEN cap
                           ELSE (bb - tprev) // (k - t + 1)
                                + (CASE WHEN (i - t + 1) >
                                        (k - t + 1)
                                        - (bb - tprev) % (k - t + 1)
                                   THEN 1 ELSE 0 END) END
                      AS BIGINT) AS alloc
          FROM g3),
    sel AS (SELECT lang, doc_id, n_tokens,
                   CAST(COALESCE(SUM(n_tokens) OVER (
                          PARTITION BY lang
                          ORDER BY {sql_hash_bucket('doc_id', 1000000)} ASC, doc_id ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS BIGINT) AS bfr
            FROM dt)
    SELECT sel.lang, sel.doc_id, sel.n_tokens, a.alloc AS lang_budget
    FROM sel JOIN a USING (lang)
    WHERE bfr < alloc
    ORDER BY lang, doc_id
    """,
    gate=True,  # promoted r11 — the four-family composition pin (VERDICT r10 #1)
    tags=("dedup", "mixing", "curation", "composition", "extension"),
)
def curate_mix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation composition over the r9–r11 operator
    families, one plan, in RefinedWeb §3.1 order: derive crawl URLs →
    URL blocklist + keyword filtering (broadcast anti join + compiled
    presence score) → URL-level dedup (canonical-form survivor) →
    per-domain frequency cap (banded exact prefix) → UniMax language
    balancing at a 50% token budget over what survives (banded prefix
    selection). Pins that the operators COMPOSE bitwise — the oracle
    chains the same five stages in ANSI SQL. Returns (lang, doc_id,
    n_tokens, lang_budget)."""
    from myhadoop_spark.operators.unimax import (
        unimax_allocate,
        unimax_select,
    )

    docs = load_wide(spark, sf_dir, "documents")
    # r13 (optimization): the URL is a deterministic expression of
    # (doc_id, source), so attach it as a column instead of the former
    # docs.join(_with_urls(docs), "doc_id") key self-join — that join
    # scanned documents twice and shuffled the text payload once for a
    # column derivable in place (guide §2.4: remove shuffles outright;
    # doc_id is the table key, so the inner self-join on it is a row-
    # preserving identity). Output bitwise unchanged.
    with_url = docs.withColumn("url", _url_expr())
    bl = spark.createDataFrame([(d,) for d in _BLOCKED], "domain string")
    filtered = url_filter(
        with_url.withColumn("domain",
                            registrable_domain(host_of(F.col("url"))))
        .withColumn("canon_url", canonical_url(F.col("url"))),
        blocked_domains=bl, keywords=_KEYWORDS,
        threshold=_KW_THRESHOLD, keep_score=False).drop("canon_url")
    # r13 second pass (guide §8: shuffle metadata, not payloads): the
    # token count is a pure function of text, so compute it in the
    # same narrow post-filter pass and DROP the text column before the
    # URL-dedup / domain-cap stages — their survivor semi-join and
    # count-join back then move ~16 bytes of metadata per doc instead
    # of the document payload (locally those joins broadcast, so this
    # measured a modest ~10%; at scale they shuffle, and this is the
    # §8 discipline). Same tokenizer expression, same rows → dt is
    # bitwise unchanged (symdiff 0 at sf0.1).
    narrow = (filtered.withColumn("n_tokens",
                                  F.size(tokens()).cast("long"))
              .drop("text"))
    deduped = url_dedup(narrow, url_col="url", id_col="doc_id")
    capped = domain_cap(deduped, domain_col="domain", cap=_CAP)
    # r13: dt is referenced by the allocation aggregate AND the banded
    # selection (offsets + within-band window + join), so the whole
    # URL-filter → dedup → cap chain above used to be planned and
    # executed once per reference; materialize the small per-doc token
    # table instead (the quality_budget/curate_lines discipline)
    dt = (capped.select(F.coalesce(F.col("lang"), F.lit("")).alias("lang"),
                        "doc_id", "n_tokens")
          .transform(materialize))
    alloc = unimax_allocate(dt, budget_ratio=(1, 2), epoch_cap=1)
    # r13: materialize the kept rows before the global sort — orderBy's
    # range-partition sampling job re-executes its child, which here is
    # the whole banded selection (band offsets window + broadcast join
    # + within-band window) from dt (guide §1.4/§3.3 — the
    # sampling-reruns-the-child class, see ppjoin_pairs)
    return (unimax_select(dt, alloc).transform(materialize)
            .orderBy("lang", "doc_id"))


# ---------------------------------------------------------------------------
# domain-level quality aggregation (r11): curation pipelines drop
# whole DOMAINS whose aggregate quality is poor (the RefinedWeb
# domain-discipline counterpart of per-document filtering — one bad
# page is noise, a bad domain is policy). Per registrable domain:
# doc count, integer score sum, positive-prediction count, and the
# keep verdict at an exact-rational positive-rate threshold — all
# integers, bitwise. The per-domain aggregation is partial-aggregable
# (count/sum), so the pass shuffles one row per domain.
# ---------------------------------------------------------------------------

_DQ_NUM, _DQ_DEN = 3, 5  # keep a domain iff n_pos/n_docs >= 3/5


def _domain_quality_oracle() -> str:
    from myhadoop_spark.queries.quality_checks import _qf_oracle

    return f"""
    WITH qf AS ({_qf_oracle()}),
    dd AS (SELECT doc_id, source || '.com' AS domain FROM documents),
    g AS (SELECT dd.domain,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(qf.score) AS BIGINT) AS sum_score,
                 CAST(sum(CASE WHEN qf.pred THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_pos
          FROM qf JOIN dd ON qf.doc_id = dd.doc_id
          GROUP BY dd.domain)
    SELECT domain, n_docs, sum_score, n_pos,
           n_pos * {_DQ_DEN} >= n_docs * {_DQ_NUM} AS kept
    FROM g ORDER BY domain
    """


@register(
    "domain_quality",
    oracle=_domain_quality_oracle(),
    gate=False,
    tags=("quality", "curation", "extension", "composition"),
)
def domain_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(domain, n_docs, sum_score, n_pos, kept): per-registrable-
    domain quality roll-up over the classifier predictions, with the
    keep verdict at an exact 3/5 positive-rate threshold — the
    domain-level drop stage (docs of a dropped domain leave the
    corpus regardless of their own score; the doc-level drop face is
    a semi-join on kept domains, pinned in tests/test_url_filter.py).
    The domain rides through host_of → registrable_domain off the
    deterministic URL, so the URL family and the quality family
    compose."""
    from myhadoop_spark.queries.quality_checks import qf_scores

    docs = load_wide(spark, sf_dir, "documents")
    # attach the deterministic URL in place (see curate_mix_q) — no
    # key self-join, one scan
    dom = (docs.withColumn("url", _url_expr())
           .withColumn("domain",
                       registrable_domain(host_of(F.col("url"))))
           .select("doc_id", "domain"))
    scores = qf_scores(docs.select("doc_id", "text"))
    return (scores.join(dom, "doc_id")
            .groupBy("domain")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("score").cast("long").alias("sum_score"),
                 F.sum(F.col("pred").cast("long")).cast("long")
                 .alias("n_pos"))
            .withColumn("kept",
                        F.col("n_pos") * F.lit(_DQ_DEN)
                        >= F.col("n_docs") * F.lit(_DQ_NUM))
            .orderBy("domain"))
