#!/usr/bin/env python
"""Benchmark harness for the PySpark crawl engine.

Default mode (what the driver runs per round): executes the headline query
suite from ``__spark_entry__.queries()`` at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` plus an end-to-end
crawl over the documents-derived mini-web, and prints ONE JSON line::

    {"metric": "headline_suite_sec", "value": N, "unit": "sec",
     "queries": {...}, "sf": 0.1, "crawl": {...}, "cpus": 32}

``--scaling`` mode (evidence for the BASELINE.json north rule's N→4N
executor criterion, sandbox substitute per BASELINE.md): re-runs the
fetch+extract pipeline — the per-round inner work of the crawl, which is
what dominates at 10^10-frontier scale — in TWO fresh subprocess JVMs at
``local[8]`` and ``local[32]`` on the same input and reports pages/sec at
both plus scaling efficiency = (T32/T8)/4.

``--pipeline-only`` / ``--crawl-only`` are the subprocess entrypoints; each
prints its own one-line JSON.

Other modes: ``--snapshot-sweep`` (frontier snapshot-interval trade),
``--maintenance`` (log compaction + snapshot pruning hygiene),
``--curation-scale`` (guarded near-dup chain at 1x vs 8x corpus —
training-tier amortization evidence), ``--scaling-curation`` (the
interleaved-pair N vs 4N protocol applied to the curation chain),
``--frontier-scale`` (per-URL round cost at n vs 4n frontier URLs).

Both scaling modes append two CONTROLS to their JSON: a pure-ALU JVM
codegen pair (the single-JVM thread-scaling ceiling of the box) and an
OS-process fixed-work pair (the machine ceiling, ~1.0 when quiet).
``plan_relative_efficiency`` = median efficiency / JVM control — how
much scaling the PLAN loses beyond the substrate, which is the number
that transfers to a real multi-node cluster.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# headline subset of __spark_entry__.queries(): every operator family —
# anti/semi joins, salted top-k, global seq, hash aggs, broadcast dim chain,
# windows, TF/trigrams, dedup sketches, quality, ANN.
HEADLINE = [
    "url_seen_anti_join",
    "cooldown_anti_join",
    "politeness_topk",
    "global_crawl_order",
    "pricing_summary",
    "region_revenue",
    "tags_topk_events",
    "first_event_dedup",
    "doc_term_frequency",
    "doc_trigram_tf",
    "doc_tags_top3",
    "doc_quality",
    "doc_token_stats",
    "minhash_near_dups",
    "simhash_sigs",
    "knn_bruteforce",
    "knn_join",
    "embedding_cosine_pairs",
    "ivf_ann",
    "doc_language_id",
    # round-2 additions
    "doc_winnow_fingerprints",
    "doc_repetition",
    "doc_categories",
    "combine_images",
    # round-3 additions: the production winnow hash path (xxhash64) next
    # to the oracle-portable md5 one, the zero-shuffle portable simhash,
    # and the flagship guarded near-dup chain (exact dedup → capped-bucket
    # minhash-LSH → connected components → survivors) as ONE plan
    "doc_winnow_production",
    "simhash_portable",
    "corpus_near_dedup",
    # SemDeDup semantic dedup over embeddings (cell-confined pairs)
    "semantic_dedup_ann",
    # this session: iterative link-graph PageRank (the scheduler's
    # priority signal), CCNet-style unigram cross-entropy, and the
    # SURT-keyed CDX capture index
    "link_pagerank",
    "doc_unigram_xent",
    "cdx_index",
    # this session: redirect pointer-jumping + HITS (both iterative),
    # repeated-passage removal, mirror hosts, shard packing, retrieval
    "redirect_resolution",
    "hits_scores",
    "chunk_dedup",
    "host_mirrors",
    "training_shards",
    "term_search",
    "temperature_mix",
    "dup_span_stats",
    "doc_normalize",
    "embedding_quantization",
    # this session: corpus-wide repeated-line removal (RefinedWeb),
    # C4 cleaning rules (zero-shuffle), smoothed bigram cross-entropy,
    # snapshot CDC between crawls
    "line_dedup",
    "c4_filters",
    "doc_bigram_xent",
    "snapshot_diff",
    # this session: fair-share budget apportionment (the scheduler's
    # global-budget mode on event-derived hosts) and soft dedup weights
    "budget_allocation",
    "dedup_soft_weights",
    # round 4: host-scoped template stripping and DUST rule mining +
    # broadcast frontier canonicalization
    "host_boilerplate",
    "dust_rules",
    "dust_canonicalize",
    "canonical_collapse",
    "sitemap_recrawl",
    "soft_404",
    "keyword_blocklist",
    # round 5: trained-codebook clustering (Lloyd's k-means over the
    # embedding column — the IVF/SemDeDup centroid trainer, D4-style),
    # cluster-balanced sampling over the trained cells, and the
    # per-round incremental semantic dedup (recurring-crawl shape)
    "kmeans_ivf",
    "cluster_sample_portable",
    "incremental_semantic_portable",
]

# timed twice, min reported (+ both in "query_runs"): the heavy queries
# whose round-over-round deltas would otherwise be host-noise artifacts
# (shared host, >25% observed wall spread)
HEAVY = {
    "minhash_near_dups",
    "doc_winnow_fingerprints",
    "doc_winnow_production",
    "doc_repetition",
    "corpus_near_dedup",
    "semantic_dedup_ann",
    "link_pagerank",  # iterative: job-count-bound, noisiest of the set
    "redirect_resolution",  # iterative (pointer jumping)
    "hits_scores",  # iterative (12 shuffles)
    "line_dedup",  # two corpus shuffles + text-carrying rebuild
    "doc_bigram_xent",  # two corpus shuffles (gram counts + prob join)
}


def _median(values: list[float], ndigits: int = 2) -> float:
    v = sorted(values)
    return round((v[(len(v) - 1) // 2] + v[len(v) // 2]) / 2, ndigits)


def _sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _materialize(df) -> None:
    """Force full execution without driver-side collect cost."""
    df.write.mode("overwrite").format("noop").save()


def _spark(cpus: int):
    from crawler_spark.session import get_spark

    return get_spark("bench", master=f"local[{cpus}]")


def _bench_queries(spark) -> tuple[dict[str, float], dict[str, list[float]]]:
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    out: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    # EVERY query now runs twice with the MIN reported (both observations
    # in query_runs): the shared host showed up to 9× single-run spread on
    # arbitrary queries this round (e.g. 2.2 s vs 19.3 s for the same
    # zero-shuffle plan), so a min-of-1 for "light" queries was noise,
    # not measurement. HEAVY remains as documentation of which queries
    # dominate the suite.
    for name in HEADLINE:
        fn = qs[name]
        times = []
        for _ in range(2):
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            df.write.mode("overwrite").format("noop").save()
            times.append(round(time.perf_counter() - t0, 3))
        out[name] = min(times)
        runs[name] = times
    return out, runs


def _bench_crawl(spark, replicate: int = 8, snapshot_every: int = 1,
                 priority_df=None, priority_dict=None) -> dict:
    """End-to-end crawl (budgets, robots, bloom seen-set, checkpoints) over
    the documents-derived mini-web, replicated to ~40k pages so per-round
    fixed overhead is amortized as it would be at production round sizes."""
    from pyspark.sql import functions as F

    from crawler_spark.crawl.driver import run_crawl
    from crawler_spark.fixtures.doccorpus import corpus_from_documents, seed_urls
    from crawler_spark.oracle.crawloracle import CrawlConfig

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    if replicate > 1:
        docs = docs.crossJoin(
            spark.range(replicate).withColumnRenamed("id", "_rep")
        ).withColumn(
            "doc_id", F.col("doc_id") * replicate + F.col("_rep")
        ).drop("_rep")
    # the source is ONE small parquet file → 1-2 input partitions; without
    # an explicit repartition the whole corpus lands on 1-2 cores. Hash on
    # url (the join key downstream). Fixed count → identical work at any
    # parallelism level.
    corpus = corpus_from_documents(docs).repartition(64, "url").cache()
    corpus.count()  # exclude corpus synthesis from crawl timing
    cfg = CrawlConfig(
        budgets={"*": 1500 * replicate, "hot.docs.test": 6000 * replicate},
        max_rounds=5,
        priority=priority_dict or {},
    )
    root = tempfile.mkdtemp(prefix="bench_crawl_")
    t0 = time.perf_counter()
    stats = run_crawl(spark, corpus, seed_urls(64 * replicate), cfg, root,
                      bloom_buckets=16, bloom_bits=1 << 22,
                      frontier_snapshot_every=snapshot_every,
                      priority_df=priority_df)
    dt = time.perf_counter() - t0
    corpus.unpersist()
    return {
        "sec": round(dt, 3),
        "rounds": stats.rounds,
        "pages": stats.pages,
        "links": stats.links,
        "pages_per_sec": round(stats.pages / dt, 2),
        "rounds_per_sec": round(stats.rounds / dt, 4),
    }


def _bench_skew_crawl(spark, n_hot: int = 20000, budget: int = 4000) -> dict:
    """Fair-share scheduler at ADVERSARIAL host skew: a frontier that is
    ~99.99% ONE host (a hub page linking every leaf), crawled under one
    global round budget. The worry this measures away: `granted =
    least(alloc, pending)` rolls unconsumed cold-host units forward — at
    total skew the demand-weighted Hamilton grant must still FILL every
    round (fill_ratio ~1.0) and per-round cost must stay flat.
    Golden twin (driver == serial oracle on the same shape):
    tests/test_crawl_golden.py::test_global_budget_skew_fills_rounds_golden."""
    from crawler_spark.crawl.driver import run_crawl
    from crawler_spark.fixtures.webgen import skew_web
    from crawler_spark.oracle.crawloracle import CrawlConfig

    pdf, seeds = skew_web(n_hot)  # SAME shape the golden test pins
    corpus = spark.createDataFrame(
        pdf[["url", "html", "content_type", "status", "retry_after"]],
        "url string, html binary, content_type string, status int, "
        "retry_after int",
    ).repartition(64, "url").cache()
    corpus.count()  # exclude corpus synthesis from crawl timing
    max_rounds = 2 + (n_hot + len(seeds)) // budget + 2
    cfg = CrawlConfig(budgets={}, robots=[], max_rounds=max_rounds,
                      global_budget=budget)
    root = tempfile.mkdtemp(prefix="bench_skew_")
    t0 = time.perf_counter()
    stats = run_crawl(spark, corpus, seeds, cfg, root,
                      bloom_buckets=16, bloom_bits=1 << 22)
    dt = time.perf_counter() - t0
    corpus.unpersist()
    # rounds after the seed round can consume `budget` each; fill_ratio
    # is what they actually scheduled over that capacity (drain round
    # excluded from the denominator distortion by using pages directly)
    capacity = len(seeds) + budget * (stats.rounds - 1)
    return {
        "sec": round(dt, 3),
        "n_hot": n_hot,
        "global_budget": budget,
        "rounds": stats.rounds,
        "pages": stats.pages,
        "pages_per_sec": round(stats.pages / dt, 2),
        "rounds_per_sec": round(stats.rounds / dt, 4),
        "fill_ratio": round(stats.pages / capacity, 4),
    }


def _bench_pipeline(spark, replicate: int = 48) -> dict:
    """The per-round inner work at scale: fetch (corpus join) + link
    extraction + text extraction + canonical dedup over a replicated corpus.
    This is the compute that dominates a 10^10-URL crawl round; used for the
    two-parallelism scaling evidence."""
    from pyspark.sql import functions as F

    from crawler_spark.fixtures.doccorpus import corpus_from_documents

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    if replicate > 1:
        docs = docs.crossJoin(
            spark.range(replicate).withColumnRenamed("id", "_rep")
        ).withColumn(
            "doc_id", F.col("doc_id") * replicate + F.col("_rep")
        ).drop("_rep")
    # fixed 128 partitions: same work at every parallelism level; a single
    # small parquet input would otherwise pin the UDFs to 1-2 cores
    corpus = corpus_from_documents(docs).repartition(128, "url").cache()
    n_pages = corpus.count()  # synthesis excluded from timing

    from crawler_spark.functions.html import extract_page_udf

    # warmup: run the same UDF over ~2% of pages (spread over all cached
    # partitions) so python-worker spawn + Arrow/codegen JIT happen before
    # the timed window — we measure steady-state throughput, which is what
    # governs a multi-hour 100 TB run.
    warm = corpus.where(F.pmod(F.xxhash64("url"), F.lit(50)) == 0)
    _materialize(
        warm.select(F.size(extract_page_udf("html", "url").links).alias("n"))
    )

    # the crawl's extraction: one parse per page, cached, feeds the links
    # and the text
    t0 = time.perf_counter()
    pages = corpus.select(
        "url", extract_page_udf("html", "url").alias("x")
    ).cache()
    links = pages.select(
        F.col("url").alias("source"), F.explode("x.links").alias("l")
    ).select("source", "l.url", "l.host")
    uniq = links.groupBy("url", "host").agg(F.count("*").alias("n_in"))
    _materialize(uniq)
    _materialize(pages.select("url", F.col("x.text").alias("text")))
    dt = time.perf_counter() - t0
    pages.unpersist()
    corpus.unpersist()
    return {
        "sec": round(dt, 3),
        "pages": n_pages,
        "pages_per_sec": round(n_pages / dt, 2),
    }


def _bench_curation(spark, replicate: int | None = None) -> dict:
    """The guarded near-dup chain over a replicated near-identical corpus
    (the data-bound configuration measured by ``--curation-scale``) — the
    per-batch inner work of a 100 TB curation pass; used for the
    two-parallelism scaling evidence of the training tier.

    Replicate defaults to 32 (≈160k docs at sf0.1): at 8x the chain's
    per-job fixed costs (CC iterations, shuffle task launch) still eat
    ~1/3 of the high-parallelism wall and the efficiency measures
    overhead, not the engine — scaling is a large-batch claim, measured
    at a large batch. Override with ``$SPARK_GRAFT_CURATION_REP``."""
    if replicate is None:
        replicate = int(os.environ.get("SPARK_GRAFT_CURATION_REP", "32"))
    from pyspark.sql import functions as F

    from crawler_spark.operators.dedup import near_dup_curation

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    if replicate > 1:
        docs = docs.crossJoin(
            spark.range(replicate).withColumnRenamed("id", "_rep")
        ).withColumn(
            "doc_id", F.col("doc_id") * replicate + F.col("_rep")
        ).withColumn(
            "text", F.concat("text", F.lit(" rep"), F.col("_rep")),
        ).drop("_rep")
    # fixed partition count -> identical work at every parallelism level
    docs = docs.repartition(128, "doc_id").cache()
    n = docs.count()  # synthesis + cache fill excluded from timing
    # warmup: the full chain over ~2% of docs so codegen/JIT/broadcast
    # machinery spin up outside the timed window (steady-state is what
    # governs a multi-hour curation pass)
    _materialize(
        near_dup_curation(
            docs.where(F.pmod("doc_id", F.lit(50)) == 0),
            threshold=0.4, max_bucket_size=10000,
        ).select("doc_id")
    )
    t0 = time.perf_counter()
    _materialize(
        near_dup_curation(
            docs, threshold=0.4, max_bucket_size=10000
        ).select("doc_id", "lang", "n_chars")
    )
    dt = time.perf_counter() - t0
    docs.unpersist()
    return {
        "sec": round(dt, 3),
        "docs": n,
        "docs_per_sec": round(n / dt, 2),
    }


def _bench_frontier(spark, n_urls: int) -> dict:
    """One crawl round's FRONTIER-side operators over a synthetic n-URL
    frontier: cooldown filter + per-host budget join → top-k (salted) →
    global crawl order → bloom-prefiltered discovery dedup → frontier
    merge (min-struct first-occurrence). No fetch/extract — this
    isolates the work whose cost is governed by frontier SIZE, which is
    what the north rule's 10^10-URL figure is about. ``--frontier-scale``
    runs it at two sizes in one JVM and compares per-URL cost: a flat
    per-URL cost means the frontier ops are data-bound (linear), so a
    10^10-row frontier is an executor-count problem, not an algorithmic
    one. Uses the same operators the driver round loop calls
    (``eligible_frontier``, ``topk_per_group``, ``with_global_seq``,
    ``BloomSeenSet.filter_unseen``).

    URL universe: id → ``http://h{hash(id)%n_hosts}.frontier.test/p{id}``
    with a hot host taking ~10% of ids (the skew the salted top-k
    exists for). Frontier = ids [0, n); previously-crawled = ids
    [n, 1.25n) (the bloom build side, built outside the timed window
    like the carried-over filter it models); this round's discoveries =
    ids [n, 1.5n) with the first half already seen, plus a second copy
    of the UNSEEN band [1.25n, 1.375n) — duplicates that survive the
    seen filter, so the merge's min-struct dedup aggregates real
    multi-row groups."""
    from pyspark.sql import functions as F

    from crawler_spark.crawl.driver import budget_table, eligible_frontier
    from crawler_spark.operators.seen import BloomSeenSet
    from crawler_spark.operators.topk import topk_per_group, with_global_seq
    from crawler_spark.oracle.crawloracle import CrawlConfig

    n_hosts = max(64, n_urls // 256)

    def urls_of(ids, seq_offset: int = 0):
        host = F.concat(
            F.lit("h"),
            F.when(F.pmod("id", F.lit(10)) == 0, F.lit(0))
            .otherwise(F.pmod(F.xxhash64("id"), F.lit(n_hosts))),
            F.lit(".frontier.test"),
        )
        return ids.select(
            F.concat(F.lit("http://"), host, F.lit("/p"), F.col("id"))
            .alias("url"),
            host.alias("host"),
            (F.col("id") % 5).cast("int").alias("disc_round"),
            (F.col("id") + seq_offset).cast("long").alias("disc_seq"),
        )

    frontier = (
        urls_of(spark.range(n_urls)).repartition(128, "url").cache()
    )
    n_frontier = frontier.count()  # synthesis excluded from timing

    seen = (
        urls_of(spark.range(n_urls, n_urls + n_urls // 4))
        .select("url").repartition(64, "url").cache()
    )
    seen.count()
    # the seen filter is carried over from prior rounds in a real crawl,
    # so its build cost is rightly outside the timed round
    bloom = BloomSeenSet.build(seen, n_buckets=64, m_bits=1 << 21)
    bloom.blooms.persist().count()

    disc_ids = spark.range(n_urls, n_urls + n_urls // 2).unionAll(
        # re-discoveries drawn from the UNSEEN band: both copies pass
        # the seen filter and meet in the merge dedup (ids in the seen
        # band would be dropped before the merge and exercise nothing)
        spark.range(n_urls + n_urls // 4, n_urls + n_urls * 3 // 8)
    )
    discoveries = urls_of(disc_ids, seq_offset=n_urls).repartition(
        128, "url"
    ).cache()
    n_disc = discoveries.count()

    # five hosts cooling this round; the hot host gets a larger budget
    cooldown = {f"h{i}.frontier.test": 0 for i in range(1, 6)}
    config = CrawlConfig(budgets={"*": 64, "h0.frontier.test": 2048})
    budgets = budget_table(spark, config)  # built once per crawl

    t0 = time.perf_counter()
    eligible = eligible_frontier(frontier, config, cooldown, 0, budgets)
    scheduled = topk_per_group(
        eligible, ["host"], ["disc_round", "disc_seq"], F.col("_k"), salt=8
    ).drop("_k", "_rank")
    scheduled, n_sched = with_global_seq(
        scheduled, ["disc_round", "disc_seq"], out="seq", return_count=True
    )
    # consume the seq column with an aggregate, as the fetch phase
    # consumes the ordered batch: merged below only reads `url`, and
    # without this Catalyst prunes the global-order window out of the
    # timed plan entirely
    seq_hi = scheduled.agg(F.max("seq")).collect()[0][0]
    fresh = bloom.filter_unseen(discoveries, lambda _b: seen)
    merged = (
        frontier.join(scheduled.select("url"), "url", "left_anti")
        .unionByName(fresh)
        .groupBy("url")
        .agg(F.min(F.struct("disc_round", "disc_seq", "host")).alias("s"))
        .select("url", "s.*")
    )
    n_merged = merged.count()
    dt = time.perf_counter() - t0

    frontier.unpersist()
    seen.unpersist()
    discoveries.unpersist()
    bloom.blooms.unpersist()
    scheduled.unpersist()  # with_global_seq's return_count cache
    rows = n_frontier + n_disc
    return {
        "sec": round(dt, 3),
        "frontier": n_frontier,
        "discoveries": n_disc,
        "rows": rows,
        "scheduled": n_sched,
        "seq_hi": seq_hi,
        "merged_frontier": n_merged,
        "urls_per_sec": round(rows / dt, 1),
        "us_per_url": round(dt / rows * 1e6, 3),
    }


def _bench_compute_control(spark) -> dict:
    """Pure-ALU codegen control: ``bit_xor(xxhash64(...))`` over a range
    — zero shuffle, zero python, zero I/O, embarrassingly parallel. Its
    N→4N efficiency is the single-JVM THREAD-scaling ceiling of this box
    (measured ~0.55-0.8 depending on window, while the same box scales
    separate OS processes at ~1.0 — see ``_process_ceiling``): a chain
    whose efficiency matches this control loses nothing to its own plan
    (shuffles, barriers, skew); the gap to 1.0 is the virtualized
    single-JVM substrate, which a real multi-node cluster (one JVM per
    node on its own silicon) does not share."""
    from pyspark.sql import functions as F

    def q(df):
        return df.select(
            F.bit_xor(
                F.xxhash64(F.col("id"), F.col("id") + 1, F.col("id") + 2)
            )
        )

    n = 1_500_000_000
    # warm with the IDENTICAL expression (small range, same generated
    # code → codegen cache hit) so neither timed run pays compilation
    q(spark.range(0, 10_000_000, 1, 128)).collect()
    t0 = time.perf_counter()
    q(spark.range(0, n, 1, 128)).collect()
    dt = time.perf_counter() - t0
    return {"sec": round(dt, 3), "rows": n}


def _burn_fixed_work(q) -> None:
    """Fixed-work loop for :func:`_process_ceiling` (module-level so the
    target is picklable under spawn/forkserver start methods)."""
    t0 = time.perf_counter()
    x = 0
    for i in range(30_000_000):
        x ^= i * 2654435761
    q.put(time.perf_counter() - t0)


def _process_ceiling(lo: int, hi: int) -> dict:
    """OS-process scaling control: ``hi`` identical fixed-work python
    processes vs ``lo`` of them. Per-process slowdown at the high level
    is the machine-level ceiling (co-tenant load, bandwidth) shared by
    ANY parallelism; ~1.0 here + a lower JVM control = the gap is
    JVM-thread-specific, not machine saturation."""
    import multiprocessing

    per = {}
    for n in (lo, hi):
        q = multiprocessing.Queue()
        ps = [
            multiprocessing.Process(target=_burn_fixed_work, args=(q,))
            for _ in range(n)
        ]
        for p in ps:
            p.start()
        times = []
        for p in ps:
            # bounded drain BEFORE join: a killed child (OOM) leaves
            # fewer queue items than processes; never block forever
            try:
                times.append(q.get(timeout=300))
            except Exception:
                break
        for p in ps:
            p.join(timeout=30)
        if not times:
            return {"per_proc_sec": {}, "ceiling": None}
        per[n] = sum(times) / len(times)
    return {
        "per_proc_sec": {str(n): round(t, 3) for n, t in per.items()},
        "ceiling": round(per[lo] / per[hi], 3),
    }


def _latest_scaling_record() -> dict | None:
    """Compact summary of the newest committed ``--scaling`` record.

    The default bench line is what the round recorder keeps, and the
    north rule's two-parallelism criterion should be visible there, not
    only in BASELINE.md: throughput at both core counts plus the
    efficiencies. Picks the newest ``*_scaling.json`` under
    ``bench_records/`` by (round number in the filename, mtime)."""
    import glob
    import re

    cands = []
    for p in glob.glob(os.path.join(REPO, "bench_records", "*_scaling.json")):
        if p.endswith("last_bench_full.json"):
            continue
        m = re.match(r"r(\d+)", os.path.basename(p))
        rnd = int(m.group(1)) if m else -1
        cands.append((rnd, os.path.getmtime(p), p))
    for _, _, path in sorted(cands, reverse=True):
        try:
            with open(path) as f:
                d = json.load(f)
            lo, hi = d["low"], d["high"]
            return {
                "cpus": [lo["cpus"], hi["cpus"]],
                "pages_per_sec": [lo["pages_per_sec"], hi["pages_per_sec"]],
                "efficiency": d["value"],
                "median_pair": d.get("median_pair"),
                "plan_relative": d.get("plan_relative_efficiency"),
                "record": os.path.basename(path),
            }
        except Exception:
            continue  # malformed record: fall back to the next-newest
    return None


def _run_sub(mode: str, cpus: int) -> dict:
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), mode],
        capture_output=True, text=True, env=env, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else ""

    if mode in ("--scaling", "--scaling-curation"):
        # Default pair local[4] vs local[16]: a pandas-UDF task keeps ~2
        # cores busy (JVM producer + python worker), so demand is 2p cores;
        # 2*16=32 fits this box exactly, while local[32] would demand 64
        # cores and measure machine saturation, not engine scaling.
        # Each level runs `reps` times and reports the BEST run: the
        # sandbox shares its host (observed run-to-run wall spread >25%),
        # and min-wall is the standard noise-rejecting estimator for a
        # fixed deterministic workload.
        # --scaling-curation applies the identical protocol to the guarded
        # near-dup chain (the training tier's inner work) instead of the
        # crawl's fetch+extract pipeline.
        if mode == "--scaling":
            submode, rate = "--pipeline-only", "pages_per_sec"
            metric = "scaling_efficiency"
        else:
            submode, rate = "--curation-only", "docs_per_sec"
            metric = "curation_scaling_efficiency"
        lo = int(sys.argv[2]) if len(sys.argv) > 2 else 4
        hi = int(sys.argv[3]) if len(sys.argv) > 3 else 16
        reps = int(sys.argv[4]) if len(sys.argv) > 4 else 3
        # INTERLEAVED pairs: each rep runs lo then hi back-to-back, so
        # both levels of a pair sample the same host-load window — the
        # per-pair efficiency is immune to the cross-window bias where
        # a quiet lo window + a loaded hi window (or vice versa) skews
        # the ratio in either direction
        runs_lo, runs_hi, pair_eff = [], [], []
        for _ in range(reps):
            rl = _run_sub(submode, lo)
            rh = _run_sub(submode, hi)
            runs_lo.append(rl)
            runs_hi.append(rh)
            pair_eff.append((rh[rate] / rl[rate]) / (hi / lo))
        # controls (same session, right after the measured pairs): the
        # JVM thread-scaling ceiling and the OS-process ceiling of this
        # box, so the headline efficiency can be read against what ANY
        # plan could have achieved here (see _bench_compute_control).
        # Control pairs get the SAME replication protocol as the
        # measured pairs — interleaved lo/hi per rep, median pair
        # reported — so the normalizer is no noisier than the numerator
        ctl_pairs, ctl_lo_secs, ctl_hi_secs = [], [], []
        for _ in range(reps):
            ctl_lo = _run_sub("--compute-control", lo)
            ctl_hi = _run_sub("--compute-control", hi)
            ctl_lo_secs.append(ctl_lo["sec"])
            ctl_hi_secs.append(ctl_hi["sec"])
            ctl_pairs.append((ctl_lo["sec"] / ctl_hi["sec"]) / (hi / lo))
        control_eff = _median(ctl_pairs, 4)
        proc_ceiling = _process_ceiling(lo, hi)
        r_lo = max(runs_lo, key=lambda r: r[rate])
        r_hi = max(runs_hi, key=lambda r: r[rate])
        eff = (r_hi[rate] / r_lo[rate]) / (hi / lo)

        eff_med = (
            _median([r[rate] for r in runs_hi])
            / _median([r[rate] for r in runs_lo])
        ) / (hi / lo)
        print(json.dumps({
            "metric": f"{metric}_{lo}_to_{hi}",
            "value": round(eff, 3),
            "unit": "ratio",
            "median_value": round(eff_med, 3),
            "pair_efficiencies": [round(e, 3) for e in pair_eff],
            "best_pair": round(max(pair_eff), 3),
            "median_pair": _median(pair_eff, 3),
            "jvm_control_efficiency": round(control_eff, 3),
            "jvm_control_pairs": [round(e, 3) for e in ctl_pairs],
            "jvm_control_sec": {str(lo): ctl_lo_secs,
                                str(hi): ctl_hi_secs},
            "plan_relative_efficiency": round(eff_med / control_eff, 3)
            if control_eff else None,
            "process_ceiling": proc_ceiling,
            "reps": reps,
            "low": {"cpus": lo, **r_lo,
                    f"all_{rate}": [r[rate] for r in runs_lo]},
            "high": {"cpus": hi, **r_hi,
                     f"all_{rate}": [r[rate] for r in runs_hi]},
            "sf": _sf_of(SF_DIR),
        }))
        return

    if mode == "--maintenance":
        # long-crawl store hygiene: crawl many small rounds, then compact
        # the append-only logs + prune old snapshots; report file counts
        # before/after and that reads are preserved. At 10^10 scale this
        # is what bounds the store's file count over thousands of rounds.
        import glob

        from crawler_spark.crawl.store import (
            DISC_SCHEMA,
            LINKS_SCHEMA,
            PAGES_FILE_SCHEMA,
            SEEN_SCHEMA,
            CrawlStore,
        )

        spark = _spark(CPUS)
        try:
            from pyspark.sql import functions as F

            from crawler_spark.crawl.driver import run_crawl
            from crawler_spark.fixtures.doccorpus import (
                corpus_from_documents,
                seed_urls,
            )
            from crawler_spark.oracle.crawloracle import CrawlConfig

            docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
            corpus = corpus_from_documents(docs).repartition(32, "url").cache()
            corpus.count()
            root = tempfile.mkdtemp(prefix="bench_maint_")
            # small budgets → many rounds (the file-count stressor)
            run_crawl(spark, corpus, seed_urls(32),
                      CrawlConfig(budgets={"*": 40}, max_rounds=12), root,
                      bloom_buckets=16, bloom_bits=1 << 20)
            store = CrawlStore(spark, root)

            def nfiles():
                return len([p for p in glob.glob(f"{root}/**/*.parquet",
                                                 recursive=True)])

            def pages_digest():
                # order-insensitive CONTENT check, not just a row count —
                # a compaction that dropped one round while double-reading
                # another would keep the count identical
                row = store.read_pages().agg(
                    F.count("*").alias("n"),
                    F.bit_xor(
                        F.xxhash64("round", "seq", "url", "status", "type")
                    ).alias("h"),
                ).collect()[0]
                return int(row["n"]), int(row["h"] or 0)

            before_files = nfiles()
            before_pages = pages_digest()
            last = store.committed_rounds()[-1]
            t0 = time.perf_counter()
            store.compact("pages", PAGES_FILE_SCHEMA, upto_round=last)
            store.compact("links", LINKS_SCHEMA, upto_round=last)
            store.compact("discoveries", DISC_SCHEMA, upto_round=last)
            store.compact("seen", SEEN_SCHEMA, upto_round=last)
            store.prune_snapshots(last)
            dt = round(time.perf_counter() - t0, 3)
            after_files = nfiles()
            after_pages = pages_digest()
            corpus.unpersist()
            print(json.dumps({
                "metric": "store_maintenance",
                "value": dt,
                "unit": "sec",
                "rounds": last + 1,
                "files_before": before_files,
                "files_after": after_files,
                "pages_before": before_pages[0],
                "pages_after": after_pages[0],
                "reads_preserved": before_pages == after_pages,
                "sf": _sf_of(SF_DIR),
            }))
        finally:
            spark.stop()
        return

    if mode == "--curation-scale":
        # training-tier amortization evidence (the curation analogue of
        # BASELINE.md's crawl round-size table): the guarded near-dup
        # chain over 1x/8x/32x the corpus, PLUS SemDeDup over 1x/8x/32x
        # the embeddings. Replicated docs get a short per-replicate text
        # suffix so they are NEAR- but not byte-identical — exact dedup
        # keeps them all, and the minhash/banding/cluster stages do the
        # full replicated work (then find the cross-replicate near-dup
        # cliques, the realistic boilerplate shape). Replicated
        # embeddings are EXACT vector copies under new ids — the worst
        # case for cell skew. docs/sec rising with corpus size = the
        # chain is data-bound, not per-job fixed-cost bound. NOTE the
        # cap counters are EXPECTED to read 0 here even at 32x: the
        # identical-signature / identical-embedding collapse absorbs
        # the replicate cliques BEFORE the banding join and cell
        # compare ever see them (see BASELINE.md round-5 notes) — that
        # zero is the evidence the collapse works, not that the guards
        # do; the guards actually tripping (counter > 0 plus the
        # logged drop) is pinned by tests/test_training_ops.py on a
        # constructed mega-bucket the collapse cannot absorb.
        import numpy as np
        from pyspark.sql import functions as F

        from crawler_spark.operators.dedup import near_dup_curation
        from crawler_spark.operators.similarity import (
            _centroids,
            semantic_dedup,
        )

        levels = tuple(
            int(x) for x in (sys.argv[2:] or ["1", "8", "32"])
        )
        spark = _spark(CPUS)
        try:
            out = {}
            for replicate in levels:
                docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
                if replicate > 1:
                    docs = docs.crossJoin(
                        spark.range(replicate).withColumnRenamed("id", "_rep")
                    ).withColumn(
                        "doc_id", F.col("doc_id") * replicate + F.col("_rep")
                    ).withColumn(
                        "text",
                        F.concat("text", F.lit(" rep"), F.col("_rep")),
                    ).drop("_rep")
                docs = docs.repartition(128, "doc_id").cache()
                n = docs.count()  # synthesis + cache fill excluded
                runs = []
                caps = {}
                for i in range(2):
                    t0 = time.perf_counter()
                    _materialize(
                        near_dup_curation(
                            docs, threshold=0.4, max_bucket_size=10000,
                            cap_stats=caps if i == 0 else None,
                        ).select("doc_id", "lang", "n_chars")
                    )
                    runs.append(round(time.perf_counter() - t0, 3))
                docs.unpersist()
                out[str(replicate)] = {
                    "docs": n,
                    "sec": min(runs),
                    "docs_per_sec": round(n / min(runs), 1),
                    "all_sec": runs,
                    "cap_hits": caps,
                }
            sem = {}
            for replicate in levels:
                emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
                if replicate > 1:
                    emb = emb.crossJoin(
                        spark.range(replicate).withColumnRenamed("id", "_rep")
                    ).withColumn(
                        "vec_id", F.col("vec_id") * replicate + F.col("_rep")
                    ).drop("_rep")
                emb = emb.repartition(128, "vec_id").cache()
                n = emb.count()
                cents = _centroids(
                    spark.read.parquet(f"{SF_DIR}/embeddings.parquet"),
                    16, "vec_id", "embedding",
                )
                runs = []
                caps = {}
                for i in range(2):
                    t0 = time.perf_counter()
                    _materialize(semantic_dedup(
                        emb, threshold=0.95, centroids=cents,
                        max_cell_size=max(2000, (2 * n) // 16),
                        cap_stats=caps if i == 0 else None,
                    ))
                    runs.append(round(time.perf_counter() - t0, 3))
                emb.unpersist()
                sem[str(replicate)] = {
                    "vecs": n,
                    "sec": min(runs),
                    "vecs_per_sec": round(n / min(runs), 1),
                    "all_sec": runs,
                    "cap_hits": caps,
                }
            hi, lo = str(max(levels)), str(min(levels))
            ratio = out[hi]["docs_per_sec"] / out[lo]["docs_per_sec"]
            print(json.dumps({
                "metric": f"curation_amortization_{hi}x",
                "value": round(ratio, 2),
                "unit": "throughput_ratio",
                "levels": out,
                "semantic_levels": sem,
                "sf": _sf_of(SF_DIR),
                "cpus": CPUS,
            }))
        finally:
            spark.stop()
        return

    if mode == "--frontier-scale":
        # frontier-SIZE scaling: the same round ops at n and 4n URLs in
        # one JVM; per-URL cost ratio ≥ ~1 means the frontier operators
        # are linear in frontier size — the property that lets the
        # 10^10-URL frontier claim reduce to executor count. Each size
        # runs twice (min reported, both emitted) under host noise.
        n_lo = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
        factor = int(sys.argv[3]) if len(sys.argv) > 3 else 4
        spark = _spark(CPUS)
        try:
            _bench_frontier(spark, max(20_000, n_lo // 32))  # warmup
            levels = {}
            for n in (n_lo, n_lo * factor):
                runs = [_bench_frontier(spark, n) for _ in range(2)]
                best = min(runs, key=lambda r: r["sec"])
                best["all_sec"] = [r["sec"] for r in runs]
                levels[str(n)] = best
            lo, hi = levels[str(n_lo)], levels[str(n_lo * factor)]
            ratio = lo["us_per_url"] / hi["us_per_url"]
            print(json.dumps({
                "metric": f"frontier_per_url_cost_ratio_{factor}x",
                "value": round(ratio, 3),
                "unit": "ratio_lo_over_hi",
                "levels": levels,
                "sf": _sf_of(SF_DIR),
                "cpus": CPUS,
            }))
        finally:
            spark.stop()
        return

    if mode == "--snapshot-sweep":
        # frontier_snapshot_every trade: each interval crawls the same
        # mini-web twice (best-of-2 under host noise); in between
        # snapshots the frontier is merge-on-read from the logs. Guides
        # the 10^10-frontier default (BASELINE.md records the table).
        spark = _spark(CPUS)
        try:
            out = {}
            for interval in (1, 2, 4):
                runs = [_bench_crawl(spark, snapshot_every=interval)
                        for _ in range(2)]
                best = max(runs, key=lambda r: r["pages_per_sec"])
                best["all_pages_per_sec"] = [
                    r["pages_per_sec"] for r in runs
                ]
                out[str(interval)] = best
            print(json.dumps({
                "metric": "snapshot_interval_sweep",
                "unit": "pages_per_sec",
                "value": out["1"]["pages_per_sec"],
                "intervals": out,
                "sf": _sf_of(SF_DIR),
                "cpus": CPUS,
            }))
        finally:
            spark.stop()
        return

    spark = _spark(CPUS)
    try:
        if mode == "--pipeline-only":
            print(json.dumps(_bench_pipeline(spark)))
            return
        if mode == "--curation-only":
            print(json.dumps(_bench_curation(spark)))
            return
        if mode == "--compute-control":
            print(json.dumps(_bench_compute_control(spark)))
            return
        if mode == "--crawl-only":
            print(json.dumps(_bench_crawl(spark)))
            return
        if mode == "--priority-scale":
            # evidence for the round-5 fix of r4's one scale defect: the
            # host-priority feed as a PARQUET-BACKED DataFrame at a
            # 10^6-host universe (999x larger than the corpus's real
            # host set — the shape where a collect()-into-dict feed
            # would serialize the universe through driver memory).
            # Reported: pages/sec with the feed off, with the mined-size
            # dict feed, and with the mega parquet feed — the parquet
            # overhead bound IS the claim "priority costs one ordinary
            # AQE-sized join per round".
            import tempfile as _tf

            from pyspark.sql import functions as F

            n_pad = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
            docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
            from crawler_spark.fixtures.doccorpus import (
                corpus_from_documents,
            )

            real = (
                corpus_from_documents(docs)
                .select(F.parse_url("url", F.lit("HOST")).alias("host"))
                .distinct()
            )
            rank = F.pmod(F.xxhash64("host"), F.lit(1000)) / F.lit(1000.0)
            pad = spark.range(n_pad).select(
                F.concat(F.lit("pad"), F.col("id"), F.lit(".test"))
                .alias("host")
            )
            pq = _tf.mkdtemp(prefix="bench_prio_") + "/ranks.parquet"
            real.unionByName(pad).select(
                "host", rank.alias("priority")
            ).repartition(32).write.parquet(pq)
            n_ranks = spark.read.parquet(pq).count()
            small = {
                r["host"]: float(r["priority"])
                for r in real.select("host", rank.alias("priority"))
                .collect()
            }
            out = {}
            for name, kw in (
                ("bfs", {}),
                ("dict_feed", {"priority_df": None}),
                ("parquet_1m", {"priority_df": pq}),
            ):
                if name == "dict_feed":
                    kw = {"priority_dict": small}
                runs = [_bench_crawl(spark, **kw) for _ in range(2)]
                best = max(runs, key=lambda r: r["pages_per_sec"])
                best["all_pages_per_sec"] = [
                    r["pages_per_sec"] for r in runs
                ]
                out[name] = best
            print(json.dumps({
                "metric": "priority_feed_overhead",
                "value": round(
                    out["parquet_1m"]["pages_per_sec"]
                    / out["bfs"]["pages_per_sec"], 3,
                ),
                "unit": "throughput_ratio_vs_bfs",
                "n_rank_rows": n_ranks,
                "levels": out,
                "sf": _sf_of(SF_DIR),
                "cpus": CPUS,
            }))
            return
        if mode == "--skew-crawl":
            n_hot = int(sys.argv[2]) if len(sys.argv) > 2 else 20000
            budget = int(sys.argv[3]) if len(sys.argv) > 3 else 4000
            print(json.dumps(_bench_skew_crawl(spark, n_hot, budget)))
            return

        # absorb JVM/codegen/python-worker warmup outside per-query timings
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet").limit(1000).groupBy(
            "l_returnflag"
        ).count().write.mode("overwrite").format("noop").save()

        queries, query_runs = _bench_queries(spark)
        # best-of-N (default 3): the shared host shows >25% wall spread on
        # identical crawls (r3's official window caught a 1.5x spread in 2
        # runs); the headline number should reflect the engine, not the
        # neighbor. All runs AND the median are reported so downstream
        # comparisons are not anchored to the optimistic tail.
        crawl_reps = int(os.environ.get("SPARK_GRAFT_CRAWL_REPS", "3"))
        crawl_runs = [_bench_crawl(spark) for _ in range(crawl_reps)]
        crawl = max(crawl_runs, key=lambda r: r["pages_per_sec"])
        crawl["all_pages_per_sec"] = [
            r["pages_per_sec"] for r in crawl_runs
        ]
        crawl["median_pages_per_sec"] = _median(
            [r["pages_per_sec"] for r in crawl_runs]
        )
        total = round(sum(queries.values()) + crawl["sec"], 3)
        payload = {
            "metric": "headline_suite_sec",
            "value": total,
            "unit": "sec",
            "queries": queries,
            "query_runs": query_runs,
            "sf": _sf_of(SF_DIR),
            "cpus": CPUS,
            "crawl": crawl,
        }
        # The round driver keeps only the LAST 2000 chars of stdout and
        # json-parses them (r3's line outgrew that and recorded
        # parsed=null), so the printed line must stay compact: per-run
        # detail goes to a file, query secs are 2-dp, separators tight.
        os.makedirs(os.path.join(REPO, "bench_records"), exist_ok=True)
        full_path = os.path.join(REPO, "bench_records", "last_bench_full.json")
        with open(full_path, "w") as f:
            json.dump(payload, f)
        compact = dict(payload)
        del compact["query_runs"]
        compact["queries"] = {k: round(v, 2) for k, v in queries.items()}
        compact["crawl"] = {
            k: (round(v, 2) if isinstance(v, float) else v)
            for k, v in crawl.items()
            if k != "all_pages_per_sec"
        }
        compact["runs"] = full_path
        scaling = _latest_scaling_record()
        if scaling is not None:
            compact["scaling"] = scaling
        line = json.dumps(compact, separators=(",", ":"))
        if len(line) > 1900:  # stay under the driver's 2000-char window
            compact["queries"] = {
                k: round(v, 2)
                for k, v in sorted(
                    queries.items(), key=lambda kv: -kv[1]
                )[:40]
            }
            line = json.dumps(compact, separators=(",", ":"))
        print(line)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
