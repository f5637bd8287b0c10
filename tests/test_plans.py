"""Plan-shape assertions: the scale contract as tests.

Every headline operator must produce the plan we would want on a
1000-executor cluster: predicate pushdown + column pruning at the scan,
broadcast joins for dimension-sized sides, partial aggregation before
shuffles, and no cartesian products anywhere.
"""

import pytest
from pyspark.sql import functions as F

from crawler_spark.plans.inspect import (
    codegen_stage_count,
    has_broadcast_join,
    has_cartesian,
    partial_aggregation_present,
    pushed_filters,
    scan_columns,
)

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def li(spark):
    return spark.read.parquet(f"{SF}/lineitem.parquet")


def test_filter_pushdown_reaches_scan(spark, li):
    df = li.where(F.col("l_quantity") > 30).select("l_orderkey")
    pushed = pushed_filters(df)
    assert any("l_quantity" in p for p in pushed), pushed


def test_column_pruning_reaches_scan(spark, li):
    df = li.where(F.col("l_quantity") > 30).select("l_orderkey")
    cols = scan_columns(df)
    assert cols and cols[0] <= {"l_orderkey", "l_quantity"}, cols


def test_dimension_join_broadcasts(spark, li):
    import __spark_entry__ as em

    df = em.q_region_revenue(spark, SF)
    assert has_broadcast_join(df)
    assert not has_cartesian(df)


def test_seen_anti_join_not_cartesian(spark):
    import __spark_entry__ as em

    df = em.q_url_seen_anti_join(spark, SF)
    assert not has_cartesian(df)


def test_agg_is_partial_then_final(spark):
    import __spark_entry__ as em

    df = em.q_pricing_summary(spark, SF)
    assert partial_aggregation_present(df)


def test_tf_pipeline_plan(spark):
    """Trigram TF: partial agg before shuffle, no cartesian, codegen on."""
    import __spark_entry__ as em

    df = em.q_doc_trigram_tf(spark, SF)
    assert partial_aggregation_present(df)
    assert not has_cartesian(df)
    assert codegen_stage_count(df) >= 1


def test_minhash_banding_no_cartesian(spark):
    """The LSH band join must be an equi hash join on (band, bhash)."""
    import __spark_entry__ as em

    df = em.q_minhash_near_dups(spark, SF)
    assert not has_cartesian(df)


def test_crawl_budget_topk_no_cartesian(spark):
    import __spark_entry__ as em

    df = em.q_politeness_topk(spark, SF)
    assert not has_cartesian(df)


def test_repetition_flags_zero_shuffle(spark):
    """Gopher repetition rules are per-row array algebra: the plan must
    contain NO exchange (the old explode → groupBy² shape moved a
    corpus-sized gram table twice)."""
    from crawler_spark.operators.quality import gopher_repetition_flags
    from crawler_spark.plans.inspect import exchange_count

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = gopher_repetition_flags(docs)
    assert exchange_count(df) == 0


def test_winnow_fingerprints_zero_shuffle(spark):
    """The winnowing sketch is a per-row fold over the gram-hash array:
    no exchange (the old shape exploded every gram and double-windowed a
    corpus-sized (id, pos, hash) table)."""
    from crawler_spark.operators.quality import fingerprints
    from crawler_spark.plans.inspect import exchange_count

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert exchange_count(fingerprints(docs)) == 0


def test_corpus_curation_plan(spark):
    """The flagship composed pipeline must never shuffle KEYED by text
    (id/content-key exchanges only — full rows may move keyed by the
    uniform doc_id) and must not degrade to a cartesian product."""
    import __spark_entry__ as em
    from crawler_spark.plans.inspect import exchange_partition_keys

    df = em.q_corpus_curation(spark, SF)
    assert not has_cartesian(df)
    keys = exchange_partition_keys(df)
    assert keys, "expected exchanges in the curation plan"
    for cols in keys:
        assert "text" not in cols, cols


def test_semantic_dedup_cell_confined_plan(spark):
    """SemDeDup's pairwise compare must be a cell-KEYED equi-join (the
    Σc² confinement — at test SF the small side broadcasts, at corpus
    scale it hash-partitions on cell; either way the join KEY is cell),
    never a cartesian/nested-loop over the corpus. The compare stage is
    inspected directly (`semantic_cell_pairs`): the end-to-end query
    hides it behind `dedup_clusters`' checkpoint boundary."""
    import re

    import numpy as np

    from crawler_spark.operators.similarity import (
        ivf_assign,
        semantic_cell_pairs,
    )
    from crawler_spark.plans.inspect import simple_plan

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = np.array(
        [r.embedding for r in emb.where("vec_id < 16").collect()],
        dtype="float64",
    )
    cents /= np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    pairs = semantic_cell_pairs(ivf_assign(emb, cents), threshold=0.35)
    assert not has_cartesian(pairs)
    plan = simple_plan(pairs)
    assert re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[cell#", plan
    ), plan


def test_incremental_semantic_plan(spark):
    """The incremental SemDeDup round must stay cell-confined like the
    full run: the compare is a cell-KEYED equi-join (never a cartesian)
    and the corpus state is pruned to touched cells by a cell-keyed
    semi-join BEFORE the pair join — the per-round-cost-∝-round
    contract (with cell-partitioned state the semi-join becomes scan
    partition pruning)."""
    import re

    import numpy as np

    from crawler_spark.operators.similarity import (
        ivf_assign,
        semantic_dedup_incremental,
    )
    from crawler_spark.plans.inspect import simple_plan

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = np.array(
        [r.embedding for r in emb.where("vec_id < 16").collect()],
        dtype="float64",
    )
    cents /= np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    old = ivf_assign(emb.where("vec_id % 3 != 0"), cents)
    new_assigned = ivf_assign(emb.where("vec_id % 3 = 0"), cents)
    pairs, _ = semantic_dedup_incremental(
        emb.where("vec_id % 3 = 0"), old, cents, threshold=0.35
    )
    assert not has_cartesian(pairs)
    plan = simple_plan(pairs)
    assert re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[cell#", plan
    ), plan
    # the state prune (hidden from the pair plan by the checkpoint
    # boundary): a cell-keyed LeftSemi against the touched-cell set
    from crawler_spark.operators.similarity import _incremental_compare_set

    prune_plan = simple_plan(
        _incremental_compare_set(new_assigned, old, "vec_id", "embedding")
    )
    assert re.search(r"LeftSemi", prune_plan), prune_plan
    assert re.search(r"Join \[cell#|Join.*\[cell#", prune_plan) or re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[cell#",
        prune_plan,
    ), prune_plan


def test_bucketed_fetch_join_one_sided(spark, tmp_path):
    """With the corpus persisted bucketed by url, the per-round fetch
    join must NOT exchange the corpus (the 100 TB side): the scan says
    Bucketed: true and the only Exchange in the join is the round-sized
    scheduled slice shuffling into the bucket distribution."""
    from crawler_spark.crawl.corpus import (
        drop_bucketed_corpus,
        read_bucketed_corpus,
        save_bucketed_corpus,
    )
    from crawler_spark.plans.inspect import exchange_count, formatted_plan

    corpus = spark.range(20000).selectExpr(
        "concat('http://h', id % 20, '.test/p/', id) AS url",
        "cast(id as string) AS html",
    )
    save_bucketed_corpus(
        corpus, "t_corpus_bucketed", n_buckets=8, path=str(tmp_path / "cb")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the test exercises the sort-merge path the
        # 10^7-row scheduled slice would force at scale
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        cb = read_bucketed_corpus(spark, "t_corpus_bucketed")
        sched = spark.range(500).selectExpr(
            "concat('http://h', id % 20, '.test/p/', id * 3) AS url"
        )
        j = sched.join(cb, "url", "left")
        assert "Bucketed: true" in formatted_plan(j)
        assert exchange_count(j) == 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        drop_bucketed_corpus(spark, "t_corpus_bucketed")


def test_exact_dedup_never_shuffles_text(spark):
    """The exact-dedup exchange must carry (content key, id), never the
    document bytes — at 100 TB a text-keyed shuffle moves the corpus."""
    from crawler_spark.operators.dedup import exact_duplicates
    from crawler_spark.plans.inspect import exchange_payload_columns

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = exact_duplicates(docs)
    payloads = exchange_payload_columns(df)
    assert payloads, "expected at least one exchange in the dedup plan"
    for cols in payloads:
        assert "text" not in cols, cols


def test_chunk_dedup_never_shuffles_text(spark):
    """Repeated-passage removal hashes chunks BEFORE the exchange: the
    shuffle carries (chunk_hash, ids, n_words), never chunk or doc
    text — the dedup_exact contract applied at passage granularity."""
    from crawler_spark.operators.passages import repeated_chunk_filter
    from crawler_spark.plans.inspect import exchange_payload_columns

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = repeated_chunk_filter(docs, chunk_words=3)
    payloads = exchange_payload_columns(df)
    assert payloads, "expected exchanges in the chunk-dedup plan"
    for cols in payloads:
        assert "text" not in cols and "_c" not in cols, cols


def test_host_mirrors_plan(spark):
    """Mirror detection: the pair join is an equi join on chunk hash
    (never cartesian), the size tables broadcast, and no exchange is
    keyed by raw text."""
    from crawler_spark.operators.passages import host_mirror_pairs
    from crawler_spark.plans.inspect import (
        exchange_partition_keys,
        has_broadcast_join,
        has_cartesian,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = host_mirror_pairs(docs, chunk_words=2)
    assert not has_cartesian(df)
    assert has_broadcast_join(df)
    for cols in exchange_partition_keys(df):
        assert "text" not in cols, cols


def test_pack_shards_no_global_sort(spark):
    """Shard packing must stay range-partitioned: no SinglePartition
    exchange anywhere (the per-language window anti-plan collapses the
    corpus into one task per language)."""
    from crawler_spark.operators.packing import pack_shards
    from crawler_spark.plans.inspect import simple_plan

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = pack_shards(docs, budget=500, num_partitions=8)
    plan = simple_plan(df)
    assert "SinglePartition" not in plan, plan
    assert "RangePartitioning" in plan or "_pid" in plan, plan


def test_term_search_broadcasts_query(spark):
    """Retrieval must broadcast the query-term list (semi-join shrinks
    postings before any shuffle) and never form a cartesian product."""
    from crawler_spark.analytics.search import tfidf_topk
    from crawler_spark.plans.inspect import has_broadcast_join, has_cartesian

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = tfidf_topk(docs, ["spark", "join"], k=10)
    assert has_broadcast_join(df)
    assert not has_cartesian(df)


def test_redirect_resolution_plan(spark):
    """Pointer jumping is equi self-joins on the current pointer —
    no cartesian, and every exchange keyed by node/cur ids."""
    from crawler_spark.operators.redirects import resolve_redirects
    from crawler_spark.plans.inspect import has_cartesian

    edges = spark.range(200).selectExpr(
        "id AS src", "CASE WHEN id % 8 = 0 THEN id ELSE id - 1 END AS dst"
    ).where("src != dst")
    df = resolve_redirects(edges, max_hops=16)
    assert not has_cartesian(df)


def test_snapshot_diff_exchanges_hashes_not_text(spark):
    """The CDC full-outer join must exchange (id, 8-byte content hash):
    no Exchange in the production plan carries or keys on the text
    column (the hash projection happens BEFORE the shuffle)."""
    from crawler_spark.operators.freshness import snapshot_diff
    from crawler_spark.plans.inspect import (
        exchange_partition_keys,
        exchange_payload_columns,
    )

    old = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    new = old.where(F.col("doc_id") % 2 == 0)
    df = snapshot_diff(old, new, id_col="doc_id")
    payloads = exchange_payload_columns(df)
    assert payloads, "expected exchanges in the CDC plan"
    for cols in payloads:
        assert "text" not in cols, cols
    for cols in exchange_partition_keys(df):
        assert "text" not in cols, cols


def test_bigram_xent_hash_keyed_and_broadcast_side_tables(spark):
    """Production bigram cross-entropy must broadcast the context-total
    table (zipfian-small) and never key an exchange on gram text: the
    hash mode's exchanged keys are the 8-byte xxhash64 columns."""
    from crawler_spark.operators.quality import bigram_cross_entropy
    from crawler_spark.plans.inspect import exchange_partition_keys

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = bigram_cross_entropy(docs, hash_grams=True)
    assert has_broadcast_join(df)
    keys = exchange_partition_keys(df)
    assert keys, "expected exchanges in the bigram-xent plan"
    for cols in keys:
        assert "text" not in cols, cols


def test_anchor_topk_partial_agg_no_cartesian(spark):
    """Anchor aggregation: map-side combine before the vote shuffle,
    equi-joins only; the top-k window runs on the AGGREGATED relation
    (windows never see the raw edge table — asserted by the window
    sitting above the final HashAggregate in the plan text)."""
    import __spark_entry__ as em

    df = em.q_anchor_topk(spark, SF)
    assert partial_aggregation_present(df)
    assert not has_cartesian(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    # the window's child chain must contain the final aggregate —
    # i.e. Window appears ABOVE (before, in toString order) the agg
    assert plan.index("Window") < plan.index("HashAggregate")


def test_decontaminate_spans_broadcast_probe(spark):
    """The benchmark gram probe must be a BROADCAST semi-join: the
    corpus gram table never shuffles for contamination matching."""
    import __spark_entry__ as em

    df = em.q_decontaminate_spans(spark, SF)
    assert has_broadcast_join(df)
    assert not has_cartesian(df)


def test_host_reputation_shuffles_keys_not_text(spark):
    """Host rollup: partial aggregation before every exchange, and the
    two distinct-agg exchanges (by (host, text-hash), then by host) are
    keyed by fixed-width columns — the text itself never shuffles."""
    from crawler_spark.operators.quality import host_reputation
    from crawler_spark.plans.inspect import (
        exchange_count,
        exchange_partition_keys,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = host_reputation(docs)
    assert partial_aggregation_present(df)
    # count(distinct) plans as two aggregate phases -> exactly 2
    assert exchange_count(df) == 2
    for cols in exchange_partition_keys(df):
        assert "text" not in cols, cols


def test_eligible_frontier_filters_cooldowns_and_joins_budgets(spark):
    """The scheduler's eligibility stage drops cooling hosts with a
    hash-set filter, not a join, and reads per-host budgets through one
    broadcast hash join — no shuffle — matching the serial spec
    (``CrawlConfig.budget_at``) on a periodic host's on- and off-rounds."""
    from crawler_spark.crawl.driver import budget_table, eligible_frontier
    from crawler_spark.crawl.store import DISC_SCHEMA
    from crawler_spark.oracle.crawloracle import CrawlConfig
    from crawler_spark.plans.inspect import formatted_plan

    hosts = ["a.test", "b.test", "p.test", "c0.test", "c7.test",
             "old.test", "", "z.test"]
    # cached, so the optimizer cannot fold the filter into local rows
    frontier = spark.createDataFrame(
        [(0, i, f"http://{h or 'x'}/{i}", h) for i, h in enumerate(hosts)],
        DISC_SCHEMA,
    ).cache()
    config = CrawlConfig(budgets={"*": 5, "a.test": 2, "p.test": 3},
                         budget_periods={"p.test": 3, "b.test": 2})
    # twelve hosts cooling through round 4; old.test expired by round 3
    cooldown = {f"c{i}.test": 4 for i in range(12)} | {"old.test": 2}
    for rnd in (3, 4):  # on- then off-round of p.test (b.test: off, on)
        df = eligible_frontier(frontier, config, cooldown, rnd,
                               budget_table(spark, config, rnd))
        plan = formatted_plan(df)
        assert "INSET" in plan and "LeftAnti" not in plan, plan
        assert plan.count("BroadcastHashJoin LeftOuter") == 1, plan
        assert plan.count("Exchange") == plan.count("BroadcastExchange"), plan
        got = {r["host"]: r["_k"] for r in df.collect()}
        assert set(got) == set(hosts) - {"c0.test", "c7.test"}
        assert got == {h: config.budget_at(h, rnd) for h in got}
    assert {config.budget_at("p.test", 3), config.budget_at("p.test", 4)} == {3, 0}

    # without a '*' entry every unlisted host defaults to 1 << 30
    config = CrawlConfig(budgets={"a.test": 2})
    df = eligible_frontier(frontier, config, {}, 0, budget_table(spark, config))
    got = {r["host"]: r["_k"] for r in df.collect()}
    assert got == {h: 2 if h == "a.test" else 1 << 30 for h in hosts}
    frontier.unpersist()


def _python_rdd(df) -> bool:
    """Whether reading ``df`` runs a Python worker in its RDD lineage."""
    return "PythonRDD" in df._jdf.queryExecution().toRdd().toDebugString()


def test_driver_tables_build_from_arrow_batches(spark):
    """Every table the crawl builds on the driver is a JVM local relation:
    reading the budgets, the small-path Hamilton grants, the seeds or an
    empty seen filter starts no Python worker. A list handed to
    ``createDataFrame`` is a ``PythonRDD`` that each reading query re-runs
    through Python."""
    from crawler_spark.crawl.driver import budget_table, seed_discoveries
    from crawler_spark.operators.allocate import allocate_budget
    from crawler_spark.operators.cuckoo import CuckooSeenSet
    from crawler_spark.operators.seen import BloomSeenSet
    from crawler_spark.oracle.crawloracle import CrawlConfig

    listed = spark.createDataFrame([("a.test", 2)], "host string, _bk int")
    assert _python_rdd(listed)

    config = CrawlConfig(budgets={"*": 5, "a.test": 2},
                         budget_periods={"p.test": 3})
    budgets = budget_table(spark, config)
    demand = spark.createDataFrame(
        [("a.test", 4), ("b.test", 1)], "host string, n_pending long"
    )
    grants = allocate_budget(demand, 3, small_hint=2)
    seeds, n_seeds = seed_discoveries(
        spark, ["http://a.test/", "http://b.test/x", "http://a.test/"], config
    )
    frames = {
        "budgets": budgets, "grants": grants, "seeds": seeds,
        "bloom": BloomSeenSet.empty(spark, n_buckets=4, m_bits=1 << 10).blooms,
        "cuckoo": CuckooSeenSet.empty(spark, n_buckets=4,
                                      m_entries=1 << 10).tables,
    }
    assert [n for n, df in frames.items() if _python_rdd(df)] == []
    assert sorted(map(tuple, budgets.collect())) == [("a.test", 2), ("p.test", 5)]
    assert {r["host"]: r["granted"] for r in grants.collect()} == {
        "a.test": 2, "b.test": 1}
    assert n_seeds == seeds.count() == 2


@pytest.mark.parametrize("rows, ddl", [
    ([("a", 1, None), (None, None, 7)], "host string, n int, m long"),
    ([], "disc_round int, disc_seq long, url string, host string"),
    ([("a.test", [("/x", "/y"), ("/z", "/")]), ("b.test", []),
      ("c.test", None)],
     "_rhost string, _rules array<struct<f:string,t:string>>"),
])
def test_driver_frame_equals_list_built(spark, rows, ddl):
    """``driver_frame`` gives the rows and schema ``createDataFrame``
    gives for the same list: nulls, no rows, and nested DUST rules."""
    from crawler_spark.session import driver_frame

    got = driver_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
