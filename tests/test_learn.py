"""Learn-tier composition over a completed crawl store.

Key invariant: the block-level phases split the store's ``text`` column
(the crawl writes each page's ``extract_page`` text, its blocks joined
with ``"\\n"`` — crawl/driver.py ``run_crawl``), so the stored text must
split back to exactly the blocks ``extract_text_blocks`` re-extracts from
the corpus html.
"""

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from crawler_spark.analytics.learn import PHASES, learn_outputs
from crawler_spark.crawl.driver import run_crawl
from crawler_spark.crawl.store import CrawlStore
from crawler_spark.fixtures.webgen import generate
from crawler_spark.oracle.crawloracle import CrawlConfig
from tests.test_crawl_golden import _to_spark_corpus

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def crawled(spark, tmp_path_factory):
    w = generate(seed=11, n_pages=80)
    cfg = CrawlConfig(
        budgets={r.host: int(r.budget_per_round)
                 for r in w.politeness.itertuples()},
        robots=[(r.host, r.rule, bool(r.allow))
                for r in w.robots.itertuples()],
        max_rounds=8,
    )
    root = str(tmp_path_factory.mktemp("learnstore"))
    corpus = _to_spark_corpus(spark, w.pages)
    corpus_dir = str(tmp_path_factory.mktemp("learncorpus") / "corpus")
    corpus.write.parquet(corpus_dir)
    run_crawl(spark, corpus, w.seeds.url.tolist(), cfg, root,
              bloom_buckets=8, bloom_bits=1 << 16)
    return CrawlStore(spark, root), corpus, corpus_dir


def test_stored_text_splits_to_reextracted_blocks(crawled):
    from crawler_spark.functions.html import extract_text_blocks

    store, corpus, _ = crawled
    html_urls = {
        r.url for r in store.read_pages().where(F.col("type") == "html")
        .select("url").distinct().collect()
    }
    expected = {
        r.url: extract_text_blocks(bytes(r.html).decode("utf-8", "replace"))
        for r in corpus.select("url", "html").collect()
        if r.url in html_urls
    }
    assert len(expected) == len(html_urls)
    got: dict[str, list[tuple[int, str]]] = {}
    for r in learn_outputs(store, corpus, ["text"])["text"].collect():
        got.setdefault(r.url, []).append((r.block_idx, r.text))
    got_blocks = {u: [t for _i, t in sorted(b)] for u, b in got.items()}
    # a block-less page stores "" and has no text rows
    assert got_blocks == {u: b for u, b in expected.items() if b}


def test_phase_shapes_and_consistency(crawled):
    store, corpus, _ = crawled
    out = learn_outputs(store, corpus)
    assert set(out) == set(PHASES)

    html_urls = (
        store.read_pages().where(F.col("type") == "html")
        .select("url").distinct().count()
    )
    assert out["summaries"].count() == html_urls

    tags = out["tags"].toPandas()
    assert tags["rank"].max() <= 3
    term_urls = {r.url for r in out["terms"].select("url").distinct().collect()}
    assert set(tags["url"]) <= term_urls

    hosts = {
        r.host for r in store.read_pages().select("host").distinct().collect()
        if r.host
    }
    assert {r.name for r in out["sites"].collect()} == hosts

    n_links = store.read_links().count()
    total = out["links"].agg(F.sum("link_count")).first()[0]
    assert total == n_links

    with pytest.raises(ValueError):
        learn_outputs(store, corpus, ["text", "nope"])


def test_learn_cli_from_foreign_cwd(crawled, tmp_path):
    store, _, corpus_dir = crawled
    out_dir = str(tmp_path / "learn_out")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "8"
    proc = subprocess.run(
        [
            sys.executable, os.path.join(REPO, "scripts", "run_learn.py"),
            "--store", store.root, "--corpus", corpus_dir,
            "--out", out_dir, "--phases", "terms,tags,sites,links",
        ],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    counts = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(counts) == {"terms", "tags", "sites", "links"}
    assert all(v > 0 for v in counts.values())
    assert sorted(os.listdir(out_dir)) == ["links", "sites", "tags", "terms"]


def test_canonicals_phase(spark, crawled, tmp_path_factory):
    import pandas as pd

    store, corpus, _ = crawled
    # webgen pages declare no canonicals: every fetched page targets
    # itself, zero hops, no cycles
    out = learn_outputs(store, corpus, phases=["canonicals"])["canonicals"]
    rows = out.collect()
    assert rows and all(
        r["target"] == r["url"]
        and r["canonical_hops"] == 0
        and not r["canonical_cycle"]
        for r in rows
    )

    # a corpus that DOES declare canonicals: p2 declares p1
    pages = pd.DataFrame(
        [
            {
                "url": "http://c.test/",
                "warc_ts": None,
                "html": (
                    '<html><body><p>hub page here</p>'
                    '<a href="http://c.test/p1">one</a>'
                    '<a href="http://c.test/p2">two</a></body></html>'
                ).encode(),
                "text": None, "lang": "en",
                "content_type": "text/html", "status": 200,
                "retry_after": None,
            },
            {
                "url": "http://c.test/p1",
                "warc_ts": None,
                "html": "<html><body><p>page one body</p></body></html>".encode(),
                "text": None, "lang": "en",
                "content_type": "text/html", "status": 200,
                "retry_after": None,
            },
            {
                "url": "http://c.test/p2",
                "warc_ts": None,
                "html": (
                    '<html><head><link rel="canonical" '
                    'href="http://c.test/p1"></head>'
                    "<body><p>page two body</p></body></html>"
                ).encode(),
                "text": None, "lang": "en",
                "content_type": "text/html", "status": 200,
                "retry_after": None,
            },
        ]
    )
    corpus2 = _to_spark_corpus(spark, pages)
    root = str(tmp_path_factory.mktemp("canonstore"))
    run_crawl(
        spark, corpus2, ["http://c.test/"],
        CrawlConfig(budgets={"*": 10}, max_rounds=3), root,
        bloom_buckets=4, bloom_bits=1 << 14,
    )
    out2 = {
        r["url"]: (r["target"], r["canonical_hops"])
        for r in learn_outputs(
            CrawlStore(spark, root), corpus2, phases=["canonicals"]
        )["canonicals"].collect()
    }
    assert out2["http://c.test/p2"] == ("http://c.test/p1", 1)
    assert out2["http://c.test/p1"] == ("http://c.test/p1", 0)
