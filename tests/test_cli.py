"""The spark-submit CLI (scripts/run_crawl.py) is the production entry
point (north rule: "runs via spark-submit --py-files"). It must work when
launched from ANY working directory: the driver process fixes its own
sys.path, but executor python workers resolve imports from PYTHONPATH —
the script exports the repo root there before the session starts (on a
real cluster --py-files supersedes this). Regression: before that export,
the first pandas-UDF stage died with ModuleNotFoundError when the script
was run from outside the repo root.
"""

import json
import os
import subprocess
import sys

import duckdb
import pytest

from crawler_spark.fixtures.webgen import generate
from tests.test_crawl_golden import _to_spark_corpus

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_cli_crawl_from_foreign_cwd(spark, tmp_path):
    web = generate(seed=31, n_pages=80)
    corpus_dir = str(tmp_path / "corpus")
    _to_spark_corpus(spark, web.pages).write.parquet(corpus_dir)
    seeds_file = tmp_path / "seeds.txt"
    seeds_file.write_text("\n".join(web.seeds.url.tolist()) + "\n")
    store = str(tmp_path / "store")

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "8"
    proc = subprocess.run(
        [
            sys.executable, os.path.join(REPO, "scripts", "run_crawl.py"),
            "--corpus", corpus_dir, "--seeds", str(seeds_file),
            "--store", store, "--max-rounds", "2", "--budget", "*=50",
        ],
        cwd=str(tmp_path),  # NOT the repo root — that is the point
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    stats = json.loads(proc.stdout.strip().splitlines()[-1])
    assert stats["rounds"] == 2
    assert stats["pages"] > 0
    assert stats["committed_rounds"] == [0, 1]

    n = duckdb.sql(
        f"select count(*) from read_parquet('{store}/pages/**/*.parquet')"
    ).fetchone()[0]
    assert n == stats["pages"]


def test_cli_curate_from_foreign_cwd(tmp_path):
    """The curation-tier CLI (scripts/run_curate.py) drives quality →
    guarded near-dedup → deterministic sample → shard export as one
    job, from any cwd; the printed JSON line's counts must agree with
    what actually landed on disk (curated parquet rows, shard manifest
    vs the jsonl lines)."""
    out = str(tmp_path / "cur")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "8"
    proc = subprocess.run(
        [
            sys.executable, os.path.join(REPO, "scripts", "run_curate.py"),
            "--docs", "/root/testdata/sf0.001/documents.parquet",
            "--out", out, "--min-words", "10", "--sample-rate", "50",
            "--shard-tokens", "20000", "--format", "jsonl",
        ],
        cwd=str(tmp_path),
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    assert (
        line["input_docs"]
        >= line["after_quality"]
        >= line["after_near_dedup"]
        >= line["after_sample"]
        == line["curated_docs"]
        > 0
    )
    assert line["cap_hits"]["buckets_over_cap"] == 0
    n_curated = duckdb.sql(
        f"select count(*) from read_parquet('{out}/curated/*.parquet')"
    ).fetchone()[0]
    assert n_curated == line["curated_docs"]
    n_jsonl, n_shards = duckdb.sql(
        "select count(*), count(distinct regexp_extract(filename, "
        "'(lang=[^/]+/shard_id=[0-9]+)', 1)) from read_json("
        f"'{out}/shards/lang=*/shard_id=*/part-*', "
        "format='newline_delimited', filename=true)"
    ).fetchone()
    assert n_jsonl == line["shards"]["n_docs"]
    assert n_shards == line["shards"]["n_shards"]


def test_cli_curate_semantic_stages(tmp_path):
    """--embeddings unlocks SemDeDup + D4-style cluster balancing in the
    curate CLI: both stages run, both only ever REMOVE docs, docs
    without an embedding row survive untouched, and the stage counts
    agree with the curated parquet on disk."""
    import pyarrow.parquet as pq

    out = str(tmp_path / "cur")
    # keep only half the embeddings so the no-embedding-keeps-doc rule
    # is actually exercised
    emb_half = str(tmp_path / "emb_half")
    t = pq.read_table("/root/testdata/sf0.001/embeddings.parquet")
    pq.write_table(t.slice(0, 250), os.path.join(emb_half + ".parquet"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "8"
    proc = subprocess.run(
        [
            sys.executable, os.path.join(REPO, "scripts", "run_curate.py"),
            "--docs", "/root/testdata/sf0.001/documents.parquet",
            "--out", out, "--no-quality", "--no-near-dedup",
            "--embeddings", emb_half + ".parquet",
            "--semantic-threshold", "0.35",
            "--cluster-alpha", "0.5", "--cluster-k", "8",
        ],
        cwd=str(tmp_path),
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    assert (
        line["input_docs"]
        >= line["after_semantic"]
        >= line["after_cluster_balance"]
        == line["curated_docs"]
        > 0
    )
    # the semantic stage must have removed something at this threshold
    assert line["after_semantic"] < line["input_docs"]
    n_curated, n_unembedded = duckdb.sql(
        f"select count(*), count(*) filter (doc_id >= 250) "
        f"from read_parquet('{out}/curated/*.parquet')"
    ).fetchone()
    assert n_curated == line["curated_docs"]
    assert n_unembedded == 250  # embedding-less docs all survive


def test_cli_curate_store_with_refetched_urls(spark, tmp_path):
    """--store input must stay one-row-per-url when the store carries
    REFETCHES (retract → resume writes a second pages row per victim):
    doc_id = xxhash64(url) is only unique if the reader takes
    latest-round-wins first. Regression: the raw read_page_text join
    row-multiplied refetched urls (and cross-paired old text with new
    lang rows) straight into the curated output. Learn's block phases
    read the same ``CrawlStore.latest_page_text``."""
    from crawler_spark import CrawlConfig, CrawlStore, retract_urls, run_crawl
    from crawler_spark.analytics.learn import learn_outputs
    from crawler_spark.fixtures.doccorpus import corpus_from_documents

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = corpus_from_documents(docs).cache()
    seeds = [
        r.url for r in corpus.select("url").orderBy("url").limit(2).collect()
    ]
    store = str(tmp_path / "store")
    cfg = dict(budgets={"*": 50})
    run_crawl(spark, corpus, seeds, CrawlConfig(max_rounds=2, **cfg),
              store, bloom_buckets=8, bloom_bits=1 << 16)
    st = CrawlStore(spark, store)
    victims = sorted(
        r.url for r in st.read_pages().select("url").distinct()
        .orderBy("url").limit(2).collect()
    )
    retract_urls(spark, store, victims)
    run_crawl(spark, corpus, seeds, CrawlConfig(max_rounds=4, **cfg),
              store, bloom_buckets=8, bloom_bits=1 << 16, resume=True)
    # precondition: the store genuinely holds >1 pages row per victim
    dup_rows = st.read_page_text().groupBy("url").count().where(
        "count > 1"
    ).count()
    assert dup_rows >= len(victims)
    n_urls = (
        st.read_page_text().where("text is not null")
        .select("url").distinct().count()
    )
    # learn reads the same latest-fetch-wins text: one page per url
    learned = learn_outputs(st, corpus, ["text", "summaries"])
    assert learned["text"].groupBy("url", "block_idx").count().where(
        "count > 1"
    ).count() == 0
    summaries = learned["summaries"]
    assert summaries.count() == summaries.select("url").distinct().count() \
        == n_urls

    out = str(tmp_path / "cur")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "8"
    proc = subprocess.run(
        [
            sys.executable, os.path.join(REPO, "scripts", "run_curate.py"),
            "--store", store, "--out", out,
            "--no-quality", "--no-near-dedup",
        ],
        cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    assert line["input_docs"] == line["curated_docs"] == n_urls
    n_rows, n_ids = duckdb.sql(
        "select count(*), count(distinct doc_id) "
        f"from read_parquet('{out}/curated/*.parquet')"
    ).fetchone()
    assert n_rows == n_ids == n_urls


def test_bench_scaling_summary_contract():
    """The default bench line embeds the newest committed --scaling
    record (the north rule's two-parallelism evidence); pin the summary
    keys so a record-format change cannot silently drop them."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench_mod", os.path.join(REPO, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    s = bench._latest_scaling_record()
    assert s is not None, "no *_scaling.json under bench_records/"
    assert len(s["cpus"]) == 2 and s["cpus"][0] < s["cpus"][1]
    assert len(s["pages_per_sec"]) == 2
    assert 0.0 < s["efficiency"] <= 1.5
    assert s["record"].endswith("_scaling.json")


def test_cli_crawl_identical_across_parallelism(spark, tmp_path):
    """The SAME crawl at local[4] and local[16] (different executor and
    shuffle parallelism — ``get_spark`` derives shuffle partitions from
    the master) must produce BYTE-IDENTICAL stores: same pages rows
    (crawl order `seq`, status, extracted text), same links rows.

    This is the determinism leg of the north rule's two-cluster-size
    criterion: the scaling sessions (BASELINE.md) evidence THROUGHPUT at
    two parallelism levels; this pins that the RESULT does not depend on
    the level — no partition-order-dependent aggregate, first(), or
    nondeterministic salt anywhere in the crawl path. The golden tests
    prove oracle-parity at one level; combined with this test the crawl
    is oracle-exact at every level."""
    web = generate(seed=47, n_pages=120)
    corpus_dir = str(tmp_path / "corpus")
    _to_spark_corpus(spark, web.pages).write.parquet(corpus_dir)
    seeds_file = tmp_path / "seeds.txt"
    seeds_file.write_text("\n".join(web.seeds.url.tolist()) + "\n")

    stores = {}
    for cpus in ("4", "16"):
        store = str(tmp_path / f"store{cpus}")
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        env["SPARK_GRAFT_CPUS"] = cpus
        proc = subprocess.run(
            [
                sys.executable, os.path.join(REPO, "scripts", "run_crawl.py"),
                "--corpus", corpus_dir, "--seeds", str(seeds_file),
                "--store", store, "--max-rounds", "3", "--budget", "*=40",
            ],
            cwd=str(tmp_path),
            env=env, capture_output=True, text=True, timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        stats = json.loads(proc.stdout.strip().splitlines()[-1])
        assert stats["pages"] > 0
        stores[cpus] = store

    for table, order in (
        ("pages", "round, seq, url"),
        ("links", "round, source, url, link_pos"),
    ):
        a = duckdb.sql(
            f"select * from read_parquet('{stores['4']}/{table}/**/*.parquet')"
            f" order by {order}"
        ).fetchall()
        b = duckdb.sql(
            f"select * from read_parquet('{stores['16']}/{table}/**/*.parquet')"
            f" order by {order}"
        ).fetchall()
        assert len(a) > 0
        assert a == b, f"{table} differs between local[4] and local[16]"
