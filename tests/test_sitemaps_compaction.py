"""Sitemap parsing and store compaction/pruning."""

import os
import shutil

import pytest

from crawler_spark.functions.sitemaps import parse_sitemap, urls_from_sitemaps

URLSET = """<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url><loc>http://A.test/page?b=2&amp;a=1</loc><lastmod>2024-01-01</lastmod></url>
  <url><loc> http://a.test/other#frag </loc></url>
  <url><loc>not a url</loc></url>
</urlset>"""

INDEX = """<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <sitemap><loc>http://a.test/sitemap-1.xml</loc></sitemap>
  <sitemap><loc>/sitemap-2.xml</loc></sitemap>
</sitemapindex>"""

PLAIN = "http://p.test/x\n# comment\nhttp://p.test/y\n"


def test_parse_urlset():
    pages, kids = parse_sitemap(URLSET)
    assert pages == [
        "http://A.test/page?b=2&a=1", "http://a.test/other#frag", "not a url"
    ]
    assert kids == []


def test_parse_index_and_plain():
    pages, kids = parse_sitemap(INDEX)
    assert pages == [] and kids == [
        "http://a.test/sitemap-1.xml", "/sitemap-2.xml"
    ]
    pages, kids = parse_sitemap(PLAIN)
    assert pages == ["http://p.test/x", "http://p.test/y"] and kids == []


def test_urls_from_sitemaps_canonicalizes(spark):
    df = spark.createDataFrame(
        [("http://a.test/sitemap.xml", URLSET),
         ("http://a.test/sitemap_index.xml", INDEX),
         ("http://p.test/urls.txt", PLAIN),
         ("http://z.test/empty.xml", None)],
        "url string, body string",
    )
    rows = urls_from_sitemaps(df).collect()
    pages = {r.url for r in rows if r.kind == "page"}
    kids = {r.url for r in rows if r.kind == "sitemap"}
    # canonicalized: host lowered, query sorted, fragment stripped;
    # scheme-less locs resolve against the sitemap url (browser-style
    # tolerance — junk resolves to a fetchable-but-404 path)
    assert pages == {
        "http://a.test/page?a=1&b=2", "http://a.test/other",
        "http://a.test/not%20a%20url",
        "http://p.test/x", "http://p.test/y",
    }
    # relative child resolved against the parent sitemap url
    assert kids == {
        "http://a.test/sitemap-1.xml", "http://a.test/sitemap-2.xml"
    }
    hosts = {r.host for r in rows}
    assert hosts == {"a.test", "p.test"}


@pytest.fixture(scope="module")
def crawled_store(spark, tmp_path_factory):
    """``crawled_store(max_rounds)`` -> (store, corpus, cfg, root): a
    fresh copy of the store a ``max_rounds`` crawl leaves. Each horizon
    is crawled once per module; every caller gets its own copy, since
    the tests compact, crash and resume it."""
    from crawler_spark.crawl.driver import run_crawl
    from crawler_spark.crawl.store import CrawlStore
    from crawler_spark.fixtures.doccorpus import corpus_from_documents, seed_urls
    from crawler_spark.oracle.crawloracle import CrawlConfig

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = corpus_from_documents(docs).cache()
    crawled: dict[int, str] = {}

    def make(max_rounds=4):
        cfg = CrawlConfig(budgets={"*": 8, "hot.docs.test": 16},
                          max_rounds=max_rounds)
        if max_rounds not in crawled:
            crawled[max_rounds] = str(
                tmp_path_factory.mktemp(f"crawled_{max_rounds}")
            )
            run_crawl(spark, corpus, seed_urls(2), cfg, crawled[max_rounds],
                      bloom_buckets=4, bloom_bits=1 << 14)
        root = str(tmp_path_factory.mktemp("compact_") / "store")
        shutil.copytree(crawled[max_rounds], root)
        return CrawlStore(spark, root), corpus, cfg, root

    yield make
    corpus.unpersist()


def test_compaction_preserves_reads_and_resume(spark, crawled_store):
    from crawler_spark.crawl.driver import run_crawl
    from crawler_spark.crawl.store import PAGES_FILE_SCHEMA, LINKS_SCHEMA

    store, corpus, cfg, root = crawled_store(max_rounds=3)
    before_pages = sorted(
        tuple(r) for r in store.read_pages().collect()
    )
    before_links = store.read_links().count()
    last = store.committed_rounds()[-1]

    n = store.compact("pages", PAGES_FILE_SCHEMA, upto_round=last)
    store.compact("links", LINKS_SCHEMA, upto_round=last)
    store.prune_snapshots(last)
    assert n == len(before_pages)
    # round dirs gone, reads identical
    pdir = os.path.join(root, "pages")
    assert not any(d.startswith("round=") for d in os.listdir(pdir))
    assert sorted(tuple(r) for r in store.read_pages().collect()) == before_pages
    assert store.read_links().count() == before_links

    # resume after compaction continues the crawl correctly
    from crawler_spark.oracle.crawloracle import CrawlConfig

    cfg5 = CrawlConfig(budgets=cfg.budgets, max_rounds=5)
    from crawler_spark.fixtures.doccorpus import seed_urls

    run_crawl(spark, corpus, seed_urls(2), cfg5, root, bloom_buckets=4,
              bloom_bits=1 << 14, resume=True)
    resumed = store.read_pages()
    # uninterrupted reference run
    store2, _, _, _ = crawled_store(max_rounds=5)
    want = sorted(tuple(r) for r in store2.read_pages().collect())
    assert sorted(tuple(r) for r in resumed.collect()) == want


def test_compaction_idempotent_second_pass(spark, crawled_store):
    from crawler_spark.crawl.store import PAGES_FILE_SCHEMA

    store, _, _, _ = crawled_store(max_rounds=4)
    rounds = store.committed_rounds()
    before = sorted(tuple(r) for r in store.read_pages().collect())
    store.compact("pages", PAGES_FILE_SCHEMA, upto_round=rounds[1])
    mid = sorted(tuple(r) for r in store.read_pages().collect())
    assert mid == before  # segment + remaining rounds
    store.compact("pages", PAGES_FILE_SCHEMA, upto_round=rounds[-1])
    assert sorted(tuple(r) for r in store.read_pages().collect()) == before


def test_unescape_no_double_pass():
    from crawler_spark.functions.sitemaps import _unescape

    # a URL whose query LITERALLY contains "&lt;b&gt;" is XML-escaped as
    # "&amp;lt;b&amp;gt;" — single-pass unescape must stop at "&lt;b&gt;"
    assert _unescape("http://a/?q=&amp;lt;b&amp;gt;") == "http://a/?q=&lt;b&gt;"
    assert _unescape("&amp;amp;") == "&amp;"


def test_compaction_watermark_crash_no_duplicates(spark, crawled_store):
    """Crash after segment swap but before round-dir sweep: the watermark
    makes lingering round dirs invisible; resume finishes the sweep."""
    import shutil as sh

    from crawler_spark.crawl.store import PAGES_FILE_SCHEMA, CrawlStore

    store, _, _, root = crawled_store(max_rounds=3)
    before = sorted(map(tuple, store.read_pages().collect()))
    last = store.committed_rounds()[-1]
    # simulate the crash: snapshot round dirs, compact, restore the dirs
    pdir = os.path.join(root, "pages")
    backup = os.path.join(root, "_backup")
    sh.copytree(pdir, backup)
    store.compact("pages", PAGES_FILE_SCHEMA, upto_round=last)
    for name in os.listdir(backup):
        if name.startswith("round="):
            sh.copytree(os.path.join(backup, name), os.path.join(pdir, name))
    # lingering round dirs + segment: reads must NOT double-count
    assert sorted(map(tuple, store.read_pages().collect())) == before
    # resume sweeps the leftovers
    store2 = CrawlStore(spark, root)
    store2.resume_round()
    assert not any(d.startswith("round=") for d in os.listdir(pdir))
    assert sorted(map(tuple, store2.read_pages().collect())) == before


def test_compaction_lower_watermark_clamped(spark, crawled_store):
    """A second compact with a LOWER upto_round must not lose the rows
    that only exist in the segment (watermark is clamped up)."""
    from crawler_spark.crawl.store import PAGES_FILE_SCHEMA

    store, _, _, _ = crawled_store(max_rounds=4)
    rounds = store.committed_rounds()
    before = sorted(map(tuple, store.read_pages().collect()))
    store.compact("pages", PAGES_FILE_SCHEMA, upto_round=rounds[-1])
    store.compact("pages", PAGES_FILE_SCHEMA, upto_round=rounds[0])
    assert sorted(map(tuple, store.read_pages().collect())) == before


def test_compact_discoveries_schema_without_round(spark, crawled_store):
    from crawler_spark.crawl.store import DISC_SCHEMA

    store, _, _, _ = crawled_store(max_rounds=3)
    before = sorted(map(tuple, store.read_discoveries().collect()))
    n = store.compact("discoveries", DISC_SCHEMA,
                      upto_round=store.committed_rounds()[-1])
    assert n == len(before)
    assert sorted(map(tuple, store.read_discoveries().collect())) == before


def test_compaction_crash_before_watermark_commit(spark, crawled_store):
    """Crash AFTER the new segment dir lands but BEFORE the watermark
    replace (the round-1 review's crash window): the watermark still
    names the old generation, so the new segment must be invisible to
    readers, resume must delete it, and a re-run of compact must not
    bake duplicates."""
    import json

    from crawler_spark.crawl.store import PAGES_FILE_SCHEMA, CrawlStore

    store, _, _, root = crawled_store(max_rounds=4)
    rounds = store.committed_rounds()
    before = sorted(map(tuple, store.read_pages().collect()))

    # first compaction commits generation 1 over the early rounds
    store.compact("pages", PAGES_FILE_SCHEMA, upto_round=rounds[1])
    assert sorted(map(tuple, store.read_pages().collect())) == before

    # simulate the crashed second compaction: build what compact() would
    # have renamed into place (a full segment for ALL rounds) WITHOUT
    # touching the watermark — i.e. crash one line before the commit
    pdir = os.path.join(root, "pages")
    df = store._read_all("pages", PAGES_FILE_SCHEMA).coalesce(2)
    orphan = os.path.join(pdir, "_compacted-g2")
    df.write.mode("overwrite").parquet(orphan)
    with open(os.path.join(root, "pages", "_compacted.json")) as f:
        assert json.load(f)["generation"] == 1  # watermark untouched

    # readers resolve through the watermark: no double-counting
    assert sorted(map(tuple, store.read_pages().collect())) == before

    # resume deletes the unreferenced generation and keeps reads exact
    store2 = CrawlStore(spark, root)
    store2.resume_round()
    assert not os.path.isdir(orphan)
    assert sorted(map(tuple, store2.read_pages().collect())) == before

    # and a re-run of the interrupted compaction converges cleanly
    n = store2.compact("pages", PAGES_FILE_SCHEMA, upto_round=rounds[-1])
    assert n == len(before)
    assert sorted(map(tuple, store2.read_pages().collect())) == before


def test_parse_entries_lastmod_paired_within_blocks():
    from crawler_spark.functions.sitemaps import parse_sitemap_entries

    body = (
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        "<url><loc>http://h.test/a</loc>"
        "<lastmod>2024-01-05</lastmod></url>"
        "<url><loc>http://h.test/b</loc></url>"  # no lastmod
        "<url><lastmod>2024-02-01</lastmod>"
        "<loc>http://h.test/c</loc></url>"  # order inside block free
        "</urlset>"
    )
    entries, children = parse_sitemap_entries(body)
    assert children == []
    assert entries == [
        ("http://h.test/a", "2024-01-05"),
        ("http://h.test/b", None),
        ("http://h.test/c", "2024-02-01"),
    ]
    # a missing <url> block's lastmod can never leak to a neighbor
    assert entries[1][1] is None


def test_parse_entries_index_plain_and_bare_locs():
    from crawler_spark.functions.sitemaps import parse_sitemap_entries

    idx = (
        "<sitemapindex><sitemap><loc>/s1.xml</loc>"
        "<lastmod>2024-01-01</lastmod></sitemap></sitemapindex>"
    )
    assert parse_sitemap_entries(idx) == ([], ["/s1.xml"])
    assert parse_sitemap_entries("http://h.test/x\n# c\n") == (
        [("http://h.test/x", None)],
        [],
    )
    # malformed urlset with bare locs degrades to lastmod-less entries
    bare = "<urlset><loc>http://h.test/y</loc></urlset>"
    assert parse_sitemap_entries(bare) == ([("http://h.test/y", None)], [])


def test_entries_from_sitemaps_and_refetch(spark):
    from crawler_spark.functions.sitemaps import entries_from_sitemaps
    from crawler_spark.operators.freshness import sitemap_refetch

    body = (
        '<urlset xmlns="x">'
        "<url><loc>http://H.test/new</loc>"
        "<lastmod>2024-02-10T12:30:00Z</lastmod></url>"
        "<url><loc>http://h.test/stale</loc>"
        "<lastmod>2024-02-10T12:30:00Z</lastmod></url>"
        "<url><loc>http://h.test/fresh</loc>"
        "<lastmod>2024-01-01</lastmod></url>"
        "<url><loc>http://h.test/none</loc></url>"
        "<url><loc>http://h.test/bad</loc>"
        "<lastmod>yesterday-ish</lastmod></url>"
        "</urlset>"
    )
    sitemaps = spark.createDataFrame(
        [("http://h.test/sitemap.xml", body)], ["url", "body"]
    )
    entries = entries_from_sitemaps(sitemaps)
    got = {r["url"]: r["lastmod"] for r in entries.collect()}
    # host canonicalized like link discovery
    assert got["http://h.test/new"] == "2024-02-10T12:30:00Z"

    crawled = spark.createDataFrame(
        [
            ("http://h.test/stale", "2024-02-01 00:00:00"),
            ("http://h.test/fresh", "2024-02-01 00:00:00"),
            ("http://h.test/none", "2024-02-01 00:00:00"),
            ("http://h.test/bad", "2024-02-01 00:00:00"),
        ],
        ["url", "f"],
    ).selectExpr("url", "CAST(f AS TIMESTAMP) AS fetched_ts")
    out = {
        r["url"]: (r["reason"], r["refetch"])
        for r in sitemap_refetch(entries, crawled).collect()
    }
    assert out["http://h.test/new"] == ("new", True)
    assert out["http://h.test/stale"] == ("stale", True)
    assert out["http://h.test/fresh"] == ("fresh", False)
    assert out["http://h.test/none"] == ("no_lastmod", False)
    # unparseable lastmod degrades to advisory-absent, never guesses
    assert out["http://h.test/bad"] == ("no_lastmod", False)


def test_parse_entries_keeps_bare_loc_stragglers():
    from crawler_spark.functions.sitemaps import (
        parse_sitemap,
        parse_sitemap_entries,
    )

    # one well-formed block + one bare loc (generator quirk /
    # truncated final block): both must survive, matching the URL set
    # the pre-lastmod parser returned
    body = (
        "<urlset><url><loc>http://h.test/a</loc>"
        "<lastmod>2024-01-01</lastmod></url>"
        "<loc>http://h.test/b</loc></urlset>"
    )
    entries, _ = parse_sitemap_entries(body)
    assert entries == [
        ("http://h.test/a", "2024-01-01"),
        ("http://h.test/b", None),
    ]
    assert parse_sitemap(body)[0] == ["http://h.test/a", "http://h.test/b"]


def test_refetch_judges_latest_fetch_and_rejects_offsets(spark):
    from crawler_spark.functions.sitemaps import entries_from_sitemaps
    from crawler_spark.operators.freshness import sitemap_refetch

    body = (
        "<urlset>"
        "<url><loc>http://h.test/p</loc>"
        "<lastmod>2024-02-10T12:30:00Z</lastmod></url>"
        "<url><loc>http://h.test/off</loc>"
        "<lastmod>2024-02-10T12:30:00+02:00</lastmod></url>"
        "</urlset>"
    )
    entries = entries_from_sitemaps(
        spark.createDataFrame([("http://h.test/s.xml", body)], ["url", "body"])
    )
    # /p fetched twice: the stale old fetch and a post-lastmod one —
    # the LATEST fetch decides, exactly one output row
    crawled = spark.createDataFrame(
        [
            ("http://h.test/p", "2024-02-01 00:00:00"),
            ("http://h.test/p", "2024-02-20 00:00:00"),
            ("http://h.test/off", "2024-02-01 00:00:00"),
        ],
        ["url", "f"],
    ).selectExpr("url", "CAST(f AS TIMESTAMP) AS fetched_ts")
    rows = sitemap_refetch(entries, crawled).collect()
    out = {r["url"]: (r["reason"], r["refetch"]) for r in rows}
    assert len(rows) == 2
    assert out["http://h.test/p"] == ("fresh", False)
    # explicit zone offsets would be session-timezone-relative ->
    # advisory-absent, never guessed
    assert out["http://h.test/off"] == ("no_lastmod", False)
