"""url_dedup (operators/url_dedup.py): canonicalization ground truths,
banded-cap ≡ window-cap bitwise parity, branch coverage (whole-keep /
whole-drop / boundary), hot-domain skew shape, and dedup invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

import pytest

from myhadoop_spark.operators.url_dedup import (
    canonical_url,
    domain_cap,
    domain_cap_window,
    host_of,
    registrable_domain,
    url_dedup,
)


def _canon(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "u string")
    return [r[0] for r in
            df.select(canonical_url(F.col("u"))).collect()]


def test_canonical_url_ground_truths(spark):
    cases = {
        # scheme / www / default port / fragment all vanish
        "https://www.Ex.COM/Path/X#frag": "ex.com/Path/X",
        "HTTP://ex.com:80/Path/X": "ex.com/Path/X",
        "https://ex.com:443/a": "ex.com/a",
        # non-default port survives (a different origin)
        "https://ex.com:8080/a": "ex.com:8080/a",
        # tracking params filtered, real params kept, order preserved
        "https://ex.com/p?utm_source=t&id=3&utm_campaign=c&q=2":
            "ex.com/p?id=3&q=2",
        "https://ex.com/p?utm_source=only": "ex.com/p",
        "https://ex.com/p?gclid=1&fbclid=2": "ex.com/p",
        # trailing slash trimmed; path CASE preserved; host lowered
        "https://EX.com/DiR/": "ex.com/DiR",
        # userinfo stripped
        "https://user:pw@ex.com/a": "ex.com/a",
        # schemeless input
        "www.ex.com/a?id=1": "ex.com/a?id=1",
        # r11 (ADVICE r10): VALUELESS tracking params stripped too —
        # but a non-tracking bare param (a flag) is kept
        "https://ex.com/p?gclid": "ex.com/p",
        "https://ex.com/p?utm_source&id=1": "ex.com/p?id=1",
        "https://ex.com/p?flag&id=1": "ex.com/p?flag&id=1",
        # r11 (ADVICE r10): kept params sorted — ?b&a ≡ ?a&b
        "https://ex.com/p?b=2&a=1": "ex.com/p?a=1&b=2",
        "https://ex.com/p?a=1&b=2": "ex.com/p?a=1&b=2",
        # utm-prefixed but not utm_* is NOT a tracking param
        "https://ex.com/p?utmx=1": "ex.com/p?utmx=1",
    }
    got = _canon(spark, list(cases))
    assert got == list(cases.values()), dict(zip(cases, got))


def test_host_and_registrable_domain(spark):
    df = spark.createDataFrame(
        [("https://a.b.example.com:8443/x?q=1#f",),
         ("HTTP://USER@WWW.Site.ORG/",),
         ("nohost",), (None,)],
        "u string")
    rows = df.select(
        host_of(F.col("u")).alias("h"),
        registrable_domain(host_of(F.col("u"))).alias("d")).collect()
    assert (rows[0]["h"], rows[0]["d"]) == ("a.b.example.com",
                                            "example.com")
    assert (rows[1]["h"], rows[1]["d"]) == ("www.site.org", "site.org")
    assert rows[2]["h"] == "nohost" and rows[2]["d"] == "nohost"
    assert rows[3]["h"] == "" and rows[3]["d"] == ""


def test_url_dedup_one_survivor_per_canon(spark):
    rows = [
        (1, "https://www.ex.com/a"),
        (2, "HTTP://ex.com:80/a"),          # same canon as 1
        (3, "https://ex.com/a?utm_source=x"),  # same canon as 1
        (4, "https://ex.com/b"),
        (5, "https://other.com/a"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = url_dedup(df).collect()
    canons = [r["canon_url"] for r in out]
    assert sorted(canons) == ["ex.com/a", "ex.com/b", "other.com/a"]
    # deterministic survivor: rerun + repartition give the same ids
    again = url_dedup(df.repartition(7)).collect()
    assert sorted(r["doc_id"] for r in out) == \
        sorted(r["doc_id"] for r in again)


def _skewed(spark, n_hot=4000, n_tail=50):
    rows = ([(i, "hot.com") for i in range(n_hot)]
            + [(10_000 + i, f"t{i % 7}.com") for i in range(n_tail)])
    return spark.createDataFrame(rows, "doc_id long, domain string")


@pytest.mark.slow  # r14: heavy parity battery (fast twin stays in the default tier)
def test_domain_cap_banded_equals_window(spark):
    df = _skewed(spark)
    for cap in (0, 3, 100, 1500, 10_000):
        want = sorted(r["doc_id"] for r in
                      domain_cap_window(df, cap=cap).collect())
        for bands in (1, 8, 64):
            got = sorted(r["doc_id"] for r in
                         domain_cap(df, cap=cap, bands=bands).collect())
            assert got == want, (cap, bands)
    # count contract: exactly min(cap, n) per domain
    out = domain_cap(df, cap=100).groupBy("domain").count().collect()
    by = {r["domain"]: r["count"] for r in out}
    assert by["hot.com"] == 100
    assert all(v <= 100 for v in by.values())


def test_domain_cap_branch_coverage(spark):
    """All three band labels fire: with 4000 hot docs, 64 bands and
    cap 1500, some bands are wholly kept (cum+n <= cap), some wholly
    dropped (cum >= cap), and exactly one is the boundary."""
    from myhadoop_spark.functions.text import hash_bucket
    from myhadoop_spark.operators.url_dedup import _HASH_BUCKETS
    from pyspark.sql import Window

    df, cap, bands = _skewed(spark), 1500, 64
    width = (_HASH_BUCKETS + bands - 1) // bands
    d = (df.filter(F.col("domain") == "hot.com")
         .withColumn("_h", hash_bucket(F.col("doc_id"), _HASH_BUCKETS))
         .withColumn("_band", F.expr(f"_h div {width}")))
    wb = (Window.partitionBy("domain").orderBy("_band")
          .rowsBetween(Window.unboundedPreceding, -1))
    lab = (d.groupBy("domain", "_band").agg(F.count("*").alias("n"))
           .withColumn("cum", F.coalesce(F.sum("n").over(wb), F.lit(0)))
           .select(
               F.when(F.col("cum") >= cap, "drop")
               .when(F.col("cum") + F.col("n") <= cap, "keep")
               .otherwise("boundary").alias("label")))
    counts = {r["label"]: r["count"] for r in
              lab.groupBy("label").count().collect()}
    assert counts.get("keep", 0) > 0
    assert counts.get("drop", 0) > 0
    assert counts.get("boundary", 0) == 1


def test_domain_cap_null_override_falls_back(spark):
    """A caps row PRESENT with a NULL cap value falls back to the
    scalar cap exactly like an absent row — the coalesce acts on the
    joined value itself, so a NULL override can never silently drop
    its whole domain (ADVICE r10)."""
    docs = spark.createDataFrame(
        [(i, "a.com") for i in range(10)]
        + [(100 + i, "b.com") for i in range(10)]
        + [(200 + i, "c.com") for i in range(10)],
        "doc_id long, domain string")
    caps = spark.createDataFrame(
        [("a.com", None), ("b.com", 5)], "domain string, cap int")
    by = {r["domain"]: r["count"] for r in
          domain_cap(docs, cap=3, caps=caps)
          .groupBy("domain").count().collect()}
    assert by == {"a.com": 3, "b.com": 5, "c.com": 3}


def test_domain_cap_rejects_bad_args(spark):
    import pytest

    df = _skewed(spark, 10, 5)
    with pytest.raises(ValueError):
        domain_cap(df, cap=-1)
    with pytest.raises(ValueError):
        domain_cap(df, cap=3, bands=0)


def test_registrable_domain_public_suffixes(spark):
    """PSL-lite: compound suffixes take eTLD+1, not the registry."""
    cases = {
        "shop.example.co.uk": "example.co.uk",
        "www.example.co.uk": "example.co.uk",
        "example.co.uk": "example.co.uk",
        "co.uk": "co.uk",                    # bare registry: unchanged
        "a.b.news.com.au": "news.com.au",
        "deep.sub.example.com": "example.com",
        "example.com": "example.com",
        "localhost": "localhost",
    }
    df = spark.createDataFrame([(h,) for h in cases], "h string")
    got = [r[0] for r in df.select(
        registrable_domain(F.col("h"))).collect()]
    assert got == list(cases.values()), dict(zip(cases, got))
