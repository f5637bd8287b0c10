"""Cuckoo-filter crawl integration: the deletable seen filter must drive
the IDENTICAL crawl as the bloom filter (the exact seen-log re-check is
the correctness authority; the filter only bounds what it reads), and its
delete unlocks the retraction → recrawl path bloom cannot serve.
"""

import shutil

import pytest
from pyspark.sql import functions as F

from crawler_spark.crawl.driver import retract_urls, run_crawl
from crawler_spark.crawl.store import CrawlStore
from crawler_spark.fixtures.webgen import generate
from crawler_spark.oracle.crawloracle import CrawlConfig
from tests.test_crawl_golden import _to_spark_corpus


@pytest.fixture(scope="module")
def web():
    return generate(seed=23, n_pages=100)


@pytest.fixture(scope="module")
def corpus(spark, web):
    return _to_spark_corpus(spark, web.pages)


@pytest.fixture(scope="module")
def bloom_root(spark, web, corpus, tmp_path_factory):
    """The full crawl under the bloom filter, shared read-only."""
    root = str(tmp_path_factory.mktemp("bloom"))
    run_crawl(spark, corpus, web.seeds.url.tolist(), _cfg(web), root,
              bloom_buckets=8, bloom_bits=1 << 16, seen_filter="bloom")
    return root


@pytest.fixture(scope="module")
def cuckoo_root(spark, web, corpus, tmp_path_factory):
    """The same crawl under the cuckoo filter; a test that changes it
    works on a copy."""
    root = str(tmp_path_factory.mktemp("cuckoo"))
    run_crawl(spark, corpus, web.seeds.url.tolist(), _cfg(web), root,
              bloom_buckets=8, cuckoo_entries=1 << 12, seen_filter="cuckoo")
    return root


def _cfg(w, max_rounds=60):
    return CrawlConfig(
        budgets={r.host: int(r.budget_per_round)
                 for r in w.politeness.itertuples()},
        robots=[(r.host, r.rule, bool(r.allow))
                for r in w.robots.itertuples()],
        max_rounds=max_rounds,
    )


def _pages(store):
    return sorted(
        map(
            tuple,
            store.read_pages()
            .toPandas()[["round", "seq", "url", "host", "status", "type"]]
            .itertuples(index=False),
        )
    )


def test_cuckoo_crawl_matches_bloom_golden(spark, bloom_root, cuckoo_root):
    assert _pages(CrawlStore(spark, cuckoo_root)) == _pages(
        CrawlStore(spark, bloom_root)
    )


def test_cuckoo_retract_then_recrawl(spark, web, corpus, cuckoo_root,
                                    tmp_path):
    """Full crawl → retract two crawled urls → resume: exactly those urls
    are fetched once more (via their original discovery records), then
    the crawl re-converges — retraction is one extra crawl per url, not
    a permanent hole."""
    seeds = web.seeds.url.tolist()
    root = str(tmp_path / "recrawl")
    shutil.copytree(cuckoo_root, root)
    store = CrawlStore(spark, root)
    before = _pages(store)
    crawled = [t[2] for t in before]
    victims = sorted(set(crawled))[:2]

    upto = retract_urls(spark, root, victims)
    assert upto == store.committed_rounds()[-1]

    run_crawl(spark, corpus, seeds, _cfg(web), root, bloom_buckets=8,
              cuckoo_entries=1 << 12, seen_filter="cuckoo", resume=True)
    after = _pages(store)

    counts = {}
    for t in after:
        counts[t[2]] = counts.get(t[2], 0) + 1
    for u in set(crawled):
        assert counts[u] == (2 if u in victims else 1), u
    # a further resume is a no-op AND retires the consumed retraction
    # records, restoring the frontier-snapshot fast path for good
    run_crawl(spark, corpus, seeds, _cfg(web), root, bloom_buckets=8,
              cuckoo_entries=1 << 12, seen_filter="cuckoo", resume=True)
    assert _pages(store) == after
    assert not store.has_retractions()


def test_bucketed_corpus_crawl_matches_plain(
    spark, web, corpus, bloom_root, tmp_path
):
    """The bucketed-corpus layout (shuffle-free fetch join) must be
    invisible to crawl semantics: identical pages table to the plain
    cached-DataFrame corpus path."""
    from crawler_spark.crawl.corpus import (
        drop_bucketed_corpus,
        read_bucketed_corpus,
        save_bucketed_corpus,
    )

    seeds = web.seeds.url.tolist()
    save_bucketed_corpus(
        corpus, "t_crawl_corpus_b", n_buckets=8,
        path=str(tmp_path / "corpus_b"),
    )
    try:
        cb = read_bucketed_corpus(spark, "t_crawl_corpus_b")
        root_b = str(tmp_path / "bucketed")
        run_crawl(spark, cb, seeds, _cfg(web), root_b, bloom_buckets=8,
                  bloom_bits=1 << 16)
        assert _pages(CrawlStore(spark, root_b)) == _pages(
            CrawlStore(spark, bloom_root)
        )
    finally:
        drop_bucketed_corpus(spark, "t_crawl_corpus_b")


def test_resume_with_wrong_filter_type_fails_clearly(
    spark, web, corpus, tmp_path
):
    """Resuming a bloom store with seen_filter='cuckoo' must raise a
    clear ValueError at load, not an opaque cogroup/schema error later:
    the filter_geometry.json validation names both geometries."""
    seeds = web.seeds.url.tolist()
    root = str(tmp_path / "mismatch")
    run_crawl(spark, corpus, seeds, _cfg(web, max_rounds=2), root,
              bloom_buckets=8, bloom_bits=1 << 16, seen_filter="bloom")
    with pytest.raises(ValueError, match="geometry mismatch"):
        run_crawl(spark, corpus, seeds, _cfg(web), root, bloom_buckets=8,
                  cuckoo_entries=1 << 12, seen_filter="cuckoo", resume=True)


def test_cuckoo_add_batch_dedupes(spark):
    """A retried/duplicated batch must insert each url once (n_items
    counts insertions; within-batch duplicates are deduped)."""
    from crawler_spark.operators.cuckoo import CuckooSeenSet

    urls = spark.range(100).selectExpr(
        "concat('http://h', id % 5, '.test/p/', id % 50) AS url"
    )  # every url appears twice in the batch
    cf = CuckooSeenSet.empty(spark, n_buckets=4, m_entries=1 << 10)
    cf = cf.add(urls)
    n = cf.tables.agg(F.sum("n_items")).collect()[0][0]
    assert n == 50
