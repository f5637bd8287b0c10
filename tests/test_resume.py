"""Checkpoint/resume: interrupt after k rounds, resume, byte-equal result.

SURVEY.md §5.4 + north rule "resumable from checkpoint with per-partition
lineage". The interrupted run is simulated by capping ``max_rounds``; a
crashed (uncommitted) round is simulated by writing orphan table dirs with
no manifest — ``resume_round`` must discard them.
"""

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import types as T

from crawler_spark.crawl.driver import run_crawl
from crawler_spark.crawl.store import CrawlStore
from crawler_spark.fixtures.webgen import generate
from crawler_spark.oracle.crawloracle import CrawlConfig
from tests.test_crawl_golden import _to_spark_corpus


@pytest.fixture(scope="module")
def web():
    return generate(seed=11, n_pages=80)


def _cfg(w, max_rounds=60):
    return CrawlConfig(
        budgets={r.host: int(r.budget_per_round) for r in w.politeness.itertuples()},
        robots=[(r.host, r.rule, bool(r.allow)) for r in w.robots.itertuples()],
        max_rounds=max_rounds,
    )


def _final_state(store):
    pages = sorted(
        map(
            tuple,
            store.read_pages()
            .toPandas()[["round", "seq", "url", "host", "status", "type"]]
            .itertuples(index=False),
        )
    )
    text = sorted(
        map(tuple, store.read_page_text().toPandas()[["url", "text"]].itertuples(index=False))
    )
    return pages, text


@pytest.fixture(scope="module")
def uninterrupted(spark, web, tmp_path_factory):
    """(final state, committed rounds) of the uninterrupted crawl, with
    both snapshots written every round."""
    corpus = _to_spark_corpus(spark, web.pages)
    root = str(tmp_path_factory.mktemp("every1"))
    run_crawl(spark, corpus, web.seeds.url.tolist(), _cfg(web), root,
              bloom_buckets=4, bloom_bits=1 << 15)
    store = CrawlStore(spark, root)
    return _final_state(store), store.committed_rounds()


def test_interrupt_resume_byte_equal(spark, web, tmp_path, uninterrupted):
    corpus = _to_spark_corpus(spark, web.pages)
    seeds = web.seeds.url.tolist()

    # interrupted after 4 rounds …
    root_b = str(tmp_path / "resumed")
    run_crawl(spark, corpus, seeds, _cfg(web, max_rounds=4), root_b,
              bloom_buckets=4, bloom_bits=1 << 15)
    store_b = CrawlStore(spark, root_b)
    assert store_b.committed_rounds() == [0, 1, 2, 3]

    # … plus a crashed round 4: orphan dirs, NO manifest
    orphan = os.path.join(root_b, "pages", "round=4")
    os.makedirs(orphan, exist_ok=True)
    with open(os.path.join(orphan, "part-junk.parquet"), "w") as f:
        f.write("corrupt")

    # resume to completion
    run_crawl(spark, corpus, seeds, _cfg(web), root_b, bloom_buckets=4,
              bloom_bits=1 << 15, resume=True)

    assert _final_state(store_b) == uninterrupted[0]
    assert store_b.committed_rounds() == uninterrupted[1]


def test_merge_on_read_frontier_equals_snapshot(spark, web, tmp_path):
    """The scale-path frontier reconstruction (discoveries ⟕̸ pages) equals
    the per-round snapshot."""
    corpus = _to_spark_corpus(spark, web.pages)
    root = str(tmp_path / "mor")
    run_crawl(spark, corpus, web.seeds.url.tolist(), _cfg(web, max_rounds=5),
              root, bloom_buckets=4, bloom_bits=1 << 15)
    store = CrawlStore(spark, root)
    last = store.committed_rounds()[-1]
    from crawler_spark.crawl.store import DISC_SCHEMA

    snap = store.read_snapshot("frontier", last, DISC_SCHEMA).toPandas()
    mor = store.rebuild_frontier(last).toPandas()
    key = ["disc_round", "disc_seq", "url", "host"]
    assert sorted(map(tuple, snap[key].itertuples(index=False))) == sorted(
        map(tuple, mor[key].itertuples(index=False))
    )


def test_frontier_snapshot_interval_equal_and_resumable(
    spark, web, tmp_path, uninterrupted
):
    """frontier_snapshot_every=3, under both seen filters: the frontier
    and filter snapshots exist only on snapshot rounds, and a crawl
    killed one, two and zero rounds after a snapshot — then once more
    after losing every filter snapshot — resumes to the uninterrupted
    result by replaying the discovery log onto the newest snapshot."""
    corpus = _to_spark_corpus(spark, web.pages)
    seeds = web.seeds.url.tolist()
    for seen_filter in ("bloom", "cuckoo"):
        kw = dict(bloom_buckets=4, bloom_bits=1 << 15,
                  cuckoo_entries=1 << 12, seen_filter=seen_filter,
                  frontier_snapshot_every=3)
        root = str(tmp_path / seen_filter)
        store = CrawlStore(spark, root)
        # killed after rounds 4, 5 and 6: 1, 2 and 0 rounds past a snapshot
        for i, max_rounds in enumerate((5, 6, 7)):
            run_crawl(spark, corpus, seeds, _cfg(web, max_rounds=max_rounds),
                      root, resume=i > 0, **kw)
        assert store.committed_rounds() == list(range(7))
        for rnd in range(7):
            snap = rnd % 3 == 0
            for table in ("frontier", "bloom"):
                assert os.path.isdir(store.table_round_path(table, rnd)) == snap
                assert (store.read_manifest(rnd)["lineage"][table] != []) == snap

        # without any filter snapshot, resume replays the whole log onto
        # an empty filter
        shutil.rmtree(os.path.join(root, "bloom"))
        run_crawl(spark, corpus, seeds, _cfg(web), root, resume=True, **kw)
        assert _final_state(store) == uninterrupted[0], seen_filter
        assert store.committed_rounds() == uninterrupted[1]


def test_round_commit_abort_drains_writers_no_manifest(spark, tmp_path):
    """A round-body failure between begin() and finish() must DRAIN the
    in-flight fetch-side writers before the exception unwinds (otherwise
    a same-session resume races its orphan cleanup against live writers)
    — and must leave no manifest, so the round stays invisible."""
    import os

    from crawler_spark.crawl.driver import (
        _RoundCommit,
        _empty_links,
        _empty_pages,
    )
    from crawler_spark.crawl.store import CrawlStore

    store = CrawlStore(spark, str(tmp_path))
    rc = _RoundCommit(store, 0, spark, 8)
    rc.begin(_empty_pages(spark), _empty_links(spark))
    rc.abort()
    assert all(f.done() for f in rc._f.values())
    assert rc._pool._shutdown
    assert os.listdir(os.path.join(str(tmp_path), "manifests")) == []
