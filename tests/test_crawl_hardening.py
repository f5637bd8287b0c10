"""Hardening regressions: filter-geometry validation on resume (and
refusal of stores without it), fresh-crawl refusal over a used store,
no state snapshots on empty rounds, snapshot pruning that keeps the
newest EXISTING snapshot, bucket-sorted seen compaction, the cuckoo
entry/bucket hash decorrelation, the deterministic top-k salt, a
ceiling on one round's Spark jobs, and a run_crawl, learn_outputs and
curation chain that leave nothing persisted."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from crawler_spark import CrawlConfig, CrawlStore, run_crawl
from crawler_spark.analytics.learn import PHASES, learn_outputs
from crawler_spark.crawl.store import SEEN_SCHEMA
from crawler_spark.operators.dedup import near_dup_curation
from crawler_spark.operators.quality import gopher_quality_flags, language_id
from tests.test_crawl_golden import _to_spark_corpus


def _tiny_corpus(spark):
    pages = pd.DataFrame([
        {
            "url": "http://a.test/",
            "warc_ts": None,
            "html": b"rate limited",
            "text": None, "lang": "en",
            # non-html -> stored as type="error": the cooldown scan
            # (_hot_hosts_from_files) keys on (status=429, type=error)
            "content_type": "text/plain", "status": 429,
            "retry_after": 7200,  # 2 rounds at the default 3600 s/round
        },
        {
            "url": "http://a.test/p2",
            "warc_ts": None,
            "html": "<html><body><p>page two body</p></body></html>".encode(),
            "text": None, "lang": "en",
            "content_type": "text/html", "status": 200,
            "retry_after": None,
        },
    ])
    return _to_spark_corpus(spark, pages)


SEEDS = ["http://a.test/", "http://a.test/p2"]


def test_fresh_crawl_refuses_committed_store(spark, tmp_path):
    """resume=False over a store with committed rounds must refuse loudly:
    overwriting early rounds while later manifests linger would make a
    subsequent resume continue the OLD crawl's last round against the
    NEW crawl's tables."""
    corpus = _tiny_corpus(spark)
    root = str(tmp_path / "store")
    run_crawl(spark, corpus, ["http://a.test/p2"],
              CrawlConfig(budgets={"*": 10}, max_rounds=2), root,
              bloom_buckets=4, bloom_bits=1 << 14)
    with pytest.raises(ValueError, match="already holds committed"):
        run_crawl(spark, corpus, ["http://a.test/p2"],
                  CrawlConfig(budgets={"*": 10}, max_rounds=2), root,
                  bloom_buckets=4, bloom_bits=1 << 14)


def test_resume_rejects_geometry_mismatch(spark, tmp_path):
    """Filter geometry is not recoverable from the snapshot bytes, and a
    mismatched resume would probe at the wrong positions — false
    NEGATIVES that re-fetch already-crawled urls. The recorded geometry
    makes it loud."""
    corpus = _tiny_corpus(spark)
    root = str(tmp_path / "store")
    run_crawl(spark, corpus, ["http://a.test/p2"],
              CrawlConfig(budgets={"*": 10}, max_rounds=2), root,
              bloom_buckets=4, bloom_bits=1 << 14)
    with pytest.raises(ValueError, match="geometry mismatch"):
        run_crawl(spark, corpus, ["http://a.test/p2"],
                  CrawlConfig(budgets={"*": 10}, max_rounds=4), root,
                  bloom_buckets=4, bloom_bits=1 << 15, resume=True)
    with pytest.raises(ValueError, match="geometry mismatch"):
        run_crawl(spark, corpus, ["http://a.test/p2"],
                  CrawlConfig(budgets={"*": 10}, max_rounds=4), root,
                  bloom_buckets=8, bloom_bits=1 << 14, resume=True)
    # the matching geometry still resumes fine
    run_crawl(spark, corpus, ["http://a.test/p2"],
              CrawlConfig(budgets={"*": 10}, max_rounds=4), root,
              bloom_buckets=4, bloom_bits=1 << 14, resume=True)


def test_empty_rounds_skip_bloom_checkpoint_and_resume(spark, tmp_path):
    """Cooldown (empty) rounds change neither the seen filter nor the
    frontier, so they write neither snapshot (the filter is GBs at
    scale); a resume whose LAST committed round is such a round starts
    from the newest written snapshots and continues identically to an
    uninterrupted run."""
    corpus = _tiny_corpus(spark)
    cfg = dict(budgets={"*": 1})
    # round 0 fetches the 429 seed -> host cools for rounds 1-2 (empty);
    # round 3 fetches p2. max_rounds=3 ends INSIDE the cooldown stretch.
    root = str(tmp_path / "interrupted")
    run_crawl(spark, corpus, SEEDS, CrawlConfig(max_rounds=3, **cfg),
              root, bloom_buckets=4, bloom_bits=1 << 14)
    store = CrawlStore(spark, root)
    assert store.committed_rounds() == [0, 1, 2]
    assert store.read_manifest(0)["lineage"]["bloom"] == ["bloom.parquet"]
    for rnd in (1, 2):
        for table in ("bloom", "frontier"):
            assert store.read_manifest(rnd)["lineage"][table] == []
            assert not os.path.isdir(store.table_round_path(table, rnd))
    assert store.latest_snapshot_round("bloom", 2) == 0
    assert store.latest_snapshot_round("frontier", 2) == 0

    run_crawl(spark, corpus, SEEDS, CrawlConfig(max_rounds=6, **cfg),
              root, bloom_buckets=4, bloom_bits=1 << 14, resume=True)

    full = str(tmp_path / "uninterrupted")
    run_crawl(spark, corpus, SEEDS, CrawlConfig(max_rounds=6, **cfg),
              full, bloom_buckets=4, bloom_bits=1 << 14)

    cols = ["round", "seq", "url", "status", "type"]
    got = (
        store.read_pages().toPandas()
        .sort_values(["round", "seq"]).reset_index(drop=True)
    )
    want = (
        CrawlStore(spark, full).read_pages().toPandas()
        .sort_values(["round", "seq"]).reset_index(drop=True)
    )
    assert list(map(tuple, got[cols].itertuples(index=False))) == list(
        map(tuple, want[cols].itertuples(index=False))
    )
    # both urls crawled exactly once despite the interrupted cooldown
    assert sorted(got.url) == sorted(SEEDS)


def test_resume_refuses_store_without_filter_geometry(spark, tmp_path):
    """A store without filter_geometry.json predates geometry recording
    (and the seen log and compaction layout resume relies on): resume
    refuses it with a clear error instead of upgrading it."""
    corpus = _tiny_corpus(spark)
    root = str(tmp_path / "store")
    run_crawl(spark, corpus, ["http://a.test/p2"],
              CrawlConfig(budgets={"*": 10}, max_rounds=1), root,
              bloom_buckets=4, bloom_bits=1 << 14)
    os.remove(os.path.join(root, "filter_geometry.json"))
    with pytest.raises(ValueError, match="no filter_geometry.json"):
        run_crawl(spark, corpus, ["http://a.test/p2"],
                  CrawlConfig(budgets={"*": 10}, max_rounds=2), root,
                  bloom_buckets=4, bloom_bits=1 << 14, resume=True)


def test_run_crawl_leaves_nothing_persisted(spark, tmp_path):
    """A long-lived driver may call run_crawl many times: each call must
    release every frame it persisted (the frontier, the round frames
    including the frozen schedule and discoveries, a priority_df feed),
    so two calls, then a learn_outputs run over the second store and
    the curation chain of ``scripts/run_curate.py``, add no persisted
    RDD. Each call
    also hands back the caller's job group, and a round manifest's
    ``spark_jobs`` counts that round's jobs only, though the second
    crawl reuses the first one's ``crawl-round-<r>`` group names."""
    import gc
    import time

    corpus = _tiny_corpus(spark)
    sc = spark.sparkContext
    jsc = sc._jsc
    tracker = sc.statusTracker()
    groups = [f"crawl-round-{r}" for r in range(2)]

    def persisted():
        return set(jsc.getPersistentRDDs().keys())

    def live_ids():
        # the SparkContext's weak-valued registry, read as a string: the
        # map getPersistentRDDs returns holds its RDDs strongly, so
        # polling with it would keep them alive through every GC
        keys = jsc.sc().persistentRdds().keys().mkString(",")
        return {int(k) for k in str(keys).split(",") if k}

    before = persisted()
    prio = spark.createDataFrame(
        [("a.test", 1.0)], "host string, priority double"
    )
    try:
        for i, kw in enumerate(({}, {"priority_df": prio})):
            sc.setJobGroup(f"caller-{i}", "run_crawl caller")
            ids = {g: set(tracker.getJobIdsForGroup(g)) for g in groups}
            run_crawl(spark, corpus, SEEDS,
                      CrawlConfig(budgets={"*": 1}, max_rounds=2),
                      str(tmp_path / f"s{i}"), bloom_buckets=4,
                      bloom_bits=1 << 14, **kw)
            assert sc.getLocalProperty("spark.jobGroup.id") == f"caller-{i}"
            new = {g: set(tracker.getJobIdsForGroup(g)) - ids[g]
                   for g in groups}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    store = CrawlStore(spark, str(tmp_path / "s1"))
    assert store.committed_rounds() == [0, 1]
    for r in store.committed_rounds():
        jobs = store.read_manifest(r)["metrics"]["spark_jobs"]
        assert jobs == len(new[groups[r]]) > 0, (r, jobs, new)
    # the post-crawl learn tier, every phase run to completion, must
    # release what it persisted too
    outputs = learn_outputs(store, corpus)
    assert set(outputs) == set(PHASES)
    for df in outputs.values():
        df.write.format("noop").mode("overwrite").save()
    # and so must curation: language ID, the Gopher gate and the guarded
    # near-dup chain (the crawl above fetched no html, so the documents
    # are given: two identical, one distinct)
    text = "the quick brown fox jumps over the lazy dog near the river bank"
    base = spark.createDataFrame(
        [(1, text), (2, text), (3, "a completely different page about "
                                   "gardening tools and seasonal planting")],
        "doc_id long, text string",
    )
    docs = base.join(language_id(base), "doc_id")
    docs = docs.join(gopher_quality_flags(docs, min_words=1)
                     .where("keep").select("doc_id"), "doc_id", "left_semi")
    curated = near_dup_curation(docs)
    assert sorted(r["doc_id"] for r in curated.collect()) == [1, 3]
    curated.write.format("noop").mode("overwrite").save()
    del outputs, df, base, docs, curated
    # localCheckpoint blocks are released by the ContextCleaner once the
    # JVM collects their datasets
    for _ in range(30):
        gc.collect()
        spark._jvm.System.gc()
        if live_ids() <= before:
            break
        time.sleep(1)
    assert persisted() - before == set()


# the Spark jobs of test_one_round_job_ceiling's round, scheduler to
# commit: 38 measured (45 while the driver's tables were list-built
# PythonRDDs and the schedule was frozen twice)
ROUND_JOB_CEILING = 38


def test_one_round_job_ceiling(spark, tmp_path):
    """The jobs of one crawl round, as its manifest counts them, stay at
    or under the count measured when the driver's tables became Arrow
    relations and each round frame was frozen once: a job that creeps
    back into the round's critical path fails here first. The same
    crawl run again into a fresh store compiles no class (the
    generated-class cache holds the round's working set) and runs the
    same jobs."""
    html = (b'<html><body><p>page two body</p><a href="/p3">three</a>'
            b'<a href="/private/x">no</a><a href="http://b.test/">b</a>'
            b'</body></html>')
    pages = pd.DataFrame([
        {"url": u, "warc_ts": None, "html": h, "text": None, "lang": "en",
         "content_type": "text/html", "status": 200, "retry_after": None}
        for u, h in [("http://a.test/p2", html), ("http://b.test/", html),
                     ("http://a.test/p3", html)]
    ])
    corpus = _to_spark_corpus(spark, pages)
    config = CrawlConfig(budgets={"*": 10}, global_budget=2, max_rounds=1,
                         robots=[("a.test", "/private", False)])

    def crawl(name):
        root = str(tmp_path / name)
        run_crawl(spark, corpus, ["http://a.test/p2", "http://b.test/"],
                  config, root, bloom_buckets=4, seen_filter="cuckoo",
                  cuckoo_entries=1 << 10)
        return CrawlStore(spark, root).read_manifest(0)["metrics"]

    m = crawl("store")
    assert m["scheduled"] == 2 and m["frontier_size"] == 3, m
    assert 0 < m["spark_jobs"] <= ROUND_JOB_CEILING, m["spark_jobs"]
    # every phase the benchmark reads from a manifest is recorded
    from perfbench.workloads import MANIFEST_TIMINGS

    assert set(MANIFEST_TIMINGS) <= set(m["timings_sec"]), m["timings_sec"]
    # a warm repeat reuses every generated class (at Spark's default
    # cache of 100 entries it recompiled 103 classes here)
    again = crawl("store2")
    assert again["codegen_compiles"] == 0, again["codegen_compiles"]
    assert again["spark_jobs"] == m["spark_jobs"], (again, m)


def test_prune_snapshots_keeps_newest_existing(spark, tmp_path):
    """prune_snapshots(last) must keep each table's newest snapshot AT OR
    BELOW last, not blindly delete everything < last: off-cadence and
    empty rounds legitimately have no frontier or filter snapshot, and
    deleting the newest earlier one would make resume replay more of
    the log."""
    corpus = _tiny_corpus(spark)
    root = str(tmp_path / "store")
    run_crawl(spark, corpus, SEEDS, CrawlConfig(max_rounds=3,
                                                budgets={"*": 1}),
              root, bloom_buckets=4, bloom_bits=1 << 14)
    store = CrawlStore(spark, root)
    # rounds 1-2 are empty: bloom snapshot exists only at round 0
    assert store.latest_snapshot_round("bloom", 2) == 0
    store.prune_snapshots(2)
    assert store.latest_snapshot_round("bloom", 2) == 0  # survived
    # and the pruned store still resumes to the same final state
    run_crawl(spark, corpus, SEEDS, CrawlConfig(max_rounds=6,
                                                budgets={"*": 1}),
              root, bloom_buckets=4, bloom_bits=1 << 14, resume=True)
    got = store.read_pages().toPandas()
    assert sorted(got.url) == sorted(SEEDS)


def test_compacted_seen_rowgroups_stay_bucket_pruned(spark, tmp_path):
    """compact('seen', ...) must re-sort by bucket: the per-round seen
    files are bucket-sorted so read_seen's `bucket IN` prunes at
    row-group level, and a compaction that interleaves the sorted runs
    would silently reopen the whole seen history to every round."""
    import pyarrow.parquet as pq

    from crawler_spark.fixtures.webgen import generate

    web = generate(seed=7, n_pages=120)
    corpus = _to_spark_corpus(spark, web.pages)
    root = str(tmp_path / "store")
    run_crawl(spark, corpus, web.seeds.url.tolist(),
              CrawlConfig(budgets={"*": 30}, max_rounds=4), root,
              bloom_buckets=8, bloom_bits=1 << 16)
    store = CrawlStore(spark, root)
    last = store.committed_rounds()[-1]
    n = store.compact("seen", SEEN_SCHEMA, upto_round=last)
    assert n > 0
    seg = store._segment_dir("seen", store._compaction_state("seen")[1])
    files = [f for f in os.listdir(seg) if f.endswith(".parquet")]
    assert files
    for fname in files:
        md = pq.ParquetFile(os.path.join(seg, fname)).metadata
        prev_max = None
        for rg in range(md.num_row_groups):
            cols = {
                md.row_group(rg).column(i).path_in_schema:
                    md.row_group(rg).column(i).statistics
                for i in range(md.row_group(rg).num_columns)
            }
            st = cols["bucket"]
            assert st is not None and st.has_min_max
            if prev_max is not None:
                # sorted within the file -> row-group ranges never
                # interleave, which is what `bucket IN` pruning needs
                assert st.min >= prev_max
            prev_max = st.max


def test_cuckoo_survives_bucket_correlated_fill(spark):
    """The cuckoo primary entry must decorrelate from the bucket id:
    bucket = pmod(h, B) fixes h's low bits within a bucket, so an
    unmixed h % m (both powers of two) confines every key of the bucket
    to m/B of the entry range and overflows at a few percent load. At
    ~50% nominal load the mixed entry must insert cleanly."""
    from crawler_spark.operators.cuckoo import CuckooSeenSet

    n = 32_000  # 16 buckets x (1<<10 entries x 4 slots) = 65,536 slots
    urls = spark.range(n).select(
        F.concat(F.lit("http://h"), F.pmod("id", F.lit(97)),
                 F.lit(".test/p"), F.col("id")).alias("url")
    )
    filt = CuckooSeenSet.empty(spark, n_buckets=16, m_entries=1 << 10)
    filt = filt.add(urls)  # pre-fix: RuntimeError 'over capacity'
    probed = filt.probe(urls).where("maybe_seen").count()
    assert probed == n  # no false negatives


def test_topk_salt_is_deterministic_expression(spark):
    """The phase-1 shard salt feeds a lossy filter through a shuffle; a
    nondeterministic salt (monotonically_increasing_id) lets a task
    retry re-assign shards mid-job and drop/duplicate survivors. Pin
    that the plan carries no nondeterministic id."""
    from pyspark.sql import Window

    from crawler_spark.operators.topk import topk_per_group

    df = spark.range(1000).select(
        F.pmod("id", F.lit(7)).alias("g"),
        F.col("id").alias("v"),
    )
    out = topk_per_group(df, ["g"], ["v"], 3, salt=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "monotonically" not in plan.lower()
    got = {(r["g"], r["v"]) for r in out.select("g", "v").collect()}
    want = {
        (r["g"], r["v"])
        for r in df.withColumn(
            "_r",
            F.row_number().over(Window.partitionBy("g").orderBy("v")),
        ).where("_r <= 3").select("g", "v").collect()
    }
    assert got == want


def test_webgen_total_over_seed_space():
    """`fixtures.webgen.generate` must be total over (seed, n_pages):
    the seed list indexes three specific hosts' page lists, and the
    random host assignment can miss any of them at small n_pages
    (regression: KeyError 'slow-a.test' at seed=2004). The guard
    claims the tail slots only when a required host is missing, so
    committed fixture seeds are byte-identical to the pre-guard
    generator (hash-checked when the fix landed)."""
    from crawler_spark.fixtures.webgen import generate

    for s in range(2000, 2040):  # several of these crashed pre-guard
        w = generate(seed=s, n_pages=60)
        assert len(w.seeds) == 3
        hosts = set(u.split("/")[2] for u in w.pages.url)
        assert set(u.split("/")[2] for u in w.seeds.url) <= hosts

    with pytest.raises(ValueError):
        generate(seed=2004, n_pages=2)
