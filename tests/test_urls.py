"""URL host / registered-domain extraction + blocklist filter
(functions/urls.py): edge-case parity, subdomain coverage, plan pin."""

from pyspark.sql import functions as F


def _dom(spark, urls):
    from corpusama_spark.functions.urls import registered_domain, url_host

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return {
        r.url: (r.h, r.d)
        for r in df.select(
            "url",
            url_host(F.col("url")).alias("h"),
            registered_domain(F.col("url")).alias("d"),
        ).collect()
    }


def test_host_and_registered_domain_edges(spark):
    got = _dom(
        spark,
        [
            "https://news.bbc.co.uk/article?id=1",
            "http://user:pw@Ads.Example.COM:8080/x",
            "tracker.spam.net/p",               # schemeless
            "HTTPS://WWW.SITE.ORG/a#frag",
            "ftp://files.archive.org/pub",
            "https://localhost/admin",
            "https://deep.sub.shop.com.au/item",
            "svc+v2://api.vendor.io/q",          # exotic scheme chars
        ],
    )
    assert got["https://news.bbc.co.uk/article?id=1"] == (
        "news.bbc.co.uk", "bbc.co.uk")
    assert got["http://user:pw@Ads.Example.COM:8080/x"] == (
        "ads.example.com", "example.com")
    assert got["tracker.spam.net/p"] == ("tracker.spam.net", "spam.net")
    assert got["HTTPS://WWW.SITE.ORG/a#frag"] == ("www.site.org", "site.org")
    assert got["ftp://files.archive.org/pub"] == (
        "files.archive.org", "archive.org")
    assert got["https://localhost/admin"] == ("localhost", "localhost")
    assert got["https://deep.sub.shop.com.au/item"] == (
        "deep.sub.shop.com.au", "shop.com.au")
    assert got["svc+v2://api.vendor.io/q"] == ("api.vendor.io", "vendor.io")


def test_null_and_empty_urls(spark):
    from corpusama_spark.functions.urls import registered_domain, url_host

    df = spark.createDataFrame([(None,), ("",)], "url string")
    rows = df.select(
        url_host(F.col("url")).alias("h"),
        registered_domain(F.col("url")).alias("d"),
    ).collect()
    assert all(r.h is None and r.d is None for r in rows)


def test_blocklist_filter_drops_subdomains_and_audits(spark):
    from corpusama_spark.functions.urls import blocklist_filter

    docs = spark.createDataFrame(
        [
            (1, "https://ads.tracker.com/x"),
            (2, "https://sub.deep.tracker.com/y"),
            (3, "https://fine.example.org/z"),
            (4, "https://TRACKER.com/plain"),
        ],
        "doc_id long, url string",
    )
    bl = spark.createDataFrame([("Tracker.COM",)], "domain string")
    kept = blocklist_filter(docs, bl)
    assert [r.doc_id for r in kept.collect()] == [3]
    audit = blocklist_filter(docs, bl, keep_blocked=True)
    assert sorted(r.doc_id for r in audit.collect()) == [1, 2, 4]
    # the corpus side must not shuffle: the join is broadcast, and the only
    # hash exchange in the plan is the blocklist's own dedup (domain-only
    # projection), never the docs relation
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert exchanges and all("domain" in ln for ln in exchanges)
    assert not any("doc_id" in ln or "url" in ln for ln in exchanges)

def test_ip_literal_hosts_pass_through_whole(spark):
    """ADVICE r3: label-slicing an IP host produced '3.4' / '['; IP
    literals (dotted-quad, bracketed IPv6) must yield the full address as
    both host and registered domain so blocklists can match them."""
    got = _dom(
        spark,
        [
            "http://1.2.3.4/x",
            "https://10.0.0.1:8443/admin",
            "http://[::1]/",
            "https://[2001:db8::7]:8080/a?q=1",
            "http://user@[2001:db8::7]/p",
        ],
    )
    assert got["http://1.2.3.4/x"] == ("1.2.3.4", "1.2.3.4")
    assert got["https://10.0.0.1:8443/admin"] == ("10.0.0.1", "10.0.0.1")
    assert got["http://[::1]/"] == ("::1", "::1")
    assert got["https://[2001:db8::7]:8080/a?q=1"] == (
        "2001:db8::7", "2001:db8::7")
    assert got["http://user@[2001:db8::7]/p"] == (
        "2001:db8::7", "2001:db8::7")


_PSL_LINES = [
    "// ===BEGIN ICANN DOMAINS===",
    "com",
    "org",
    "uk",
    "co.uk",
    "jp",
    "*.kobe.jp",
    "!city.kobe.jp",
    "*.ck",
    "!www.ck",
    "// ===BEGIN PRIVATE DOMAINS===",
    "github.io",
    "s3.dualstack.ap-northeast-1.amazonaws.com",
    "",
]


def test_full_psl_algorithm(spark):
    """publicsuffix.org semantics over a real-list excerpt: exact rules,
    private registries (github.io), '*.' wildcards, '!' exceptions, the
    implicit '*' fallback for unknown TLDs, and host==suffix -> NULL."""
    from corpusama_spark.functions.urls import (
        psl_rules_df,
        with_registered_domain,
    )

    rules = psl_rules_df(spark, _PSL_LINES)
    cases = {
        "https://news.bbc.co.uk/a": "bbc.co.uk",
        "https://github.io/x": None,             # host IS the suffix
        "https://octocat.github.io/x": "octocat.github.io",
        "https://deep.octocat.github.io/x": "octocat.github.io",
        "http://a.b.kobe.jp/": "a.b.kobe.jp",    # *.kobe.jp
        "http://city.kobe.jp/": "city.kobe.jp",  # exception rule
        "http://x.city.kobe.jp/": "city.kobe.jp",
        "http://www.ck/": "www.ck",              # !www.ck
        "http://foo.bar.ck/": "foo.bar.ck",      # *.ck
        "http://example.nosuchtld/x": "example.nosuchtld",  # implicit *
        "http://sub.example.nosuchtld/x": "example.nosuchtld",
        "http://com/": None,                     # bare TLD
        "http://1.2.3.4/x": "1.2.3.4",           # IP passthrough
        "https://b.s3.dualstack.ap-northeast-1.amazonaws.com/o":
            "b.s3.dualstack.ap-northeast-1.amazonaws.com",  # depth-5 rule
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    out = with_registered_domain(df, rules)
    got = {r.url: r.domain for r in out.collect()}
    assert got == cases
    # corpus never shuffles: every join broadcast, no exchange carries url
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin") >= 5
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert not any("url" in ln for ln in exchanges)


def test_blocklist_filter_with_psl_rules(spark):
    from corpusama_spark.functions.urls import blocklist_filter, psl_rules_df

    rules = psl_rules_df(spark, _PSL_LINES)
    docs = spark.createDataFrame(
        [
            (1, "https://evil.github.io/x"),      # blocked private-registry
            (2, "https://good.github.io/x"),
            (3, "https://sub.evil.github.io/x"),  # subdomain of blocked
            (4, "https://evil.co.uk/x"),
        ],
        "doc_id long, url string",
    )
    bl = spark.createDataFrame([("evil.github.io",)], "domain string")
    kept = blocklist_filter(docs, bl, psl_rules=rules)
    assert sorted(r.doc_id for r in kept.collect()) == [2, 4]


def test_canonical_url_cases(spark):
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from corpusama_spark.functions.urls import canonical_url

    cases = [
        ("HTTP://Ex.COM:80/a?utm_source=x#f", "http://ex.com/a"),
        ("https://ex.com:443/a/", "https://ex.com/a"),
        ("http://ex.com/a?utm_source=x&id=2", "http://ex.com/a?id=2"),
        ("http://ex.com/a?id=2&fbclid=zz", "http://ex.com/a?id=2"),
        ("http://ex.com/a?utm_a=1&utm_b=2", "http://ex.com/a"),
        ("http://ex.com/", "http://ex.com"),
        ("http://ex.com:8080/a", "http://ex.com:8080/a"),  # non-default port kept
        ("ex.com/path/", "ex.com/path"),                   # schemeless passes through
        ("http://ex.com/A/B", "http://ex.com/A/B"),        # path case preserved
    ]
    df = spark.createDataFrame([Row(i=i, u=u) for i, (u, _) in enumerate(cases)])
    got = {
        r["i"]: r["c"]
        for r in df.select("i", canonical_url(F.col("u")).alias("c")).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, cases[i][0], got[i], want)


def test_three_label_suffix_keeps_four_labels(spark):
    """``s3.amazonaws.com`` is a three-label public suffix: each bucket
    host is its own registered domain, not ``amazonaws.com``."""
    got = _dom(
        spark,
        [
            "https://bucket.s3.amazonaws.com/a.jpg",
            "https://other.s3.amazonaws.com/b.jpg",
            "https://x.y.bucket.s3.amazonaws.com/c",
            "https://s3.amazonaws.com/d",
            "https://co.uk/e",
        ],
    )
    assert got["https://bucket.s3.amazonaws.com/a.jpg"][1] == (
        "bucket.s3.amazonaws.com")
    assert got["https://other.s3.amazonaws.com/b.jpg"][1] == (
        "other.s3.amazonaws.com")
    assert got["https://x.y.bucket.s3.amazonaws.com/c"][1] == (
        "bucket.s3.amazonaws.com")
    # a bare public suffix passes through whole
    assert got["https://s3.amazonaws.com/d"][1] == "s3.amazonaws.com"
    assert got["https://co.uk/e"][1] == "co.uk"
