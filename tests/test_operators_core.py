"""Tests for the scheduler primitives: top-k per group, global seq, and
the bucketed seen filters (bloom and cuckoo)."""

import hashlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from crawler_spark.operators.cuckoo import CuckooSeenSet
from crawler_spark.operators.seen import BloomSeenSet
from crawler_spark.operators.topk import topk_per_group, with_global_seq


def test_topk_per_group_matches_exact(spark):
    pdf = pd.DataFrame(
        {
            "host": [f"h{i % 5}" for i in range(200)],
            "pri": [((i * 37) % 200) for i in range(200)],
            "url": [f"u{i}" for i in range(200)],
        }
    )
    df = spark.createDataFrame(pdf)
    got = (
        topk_per_group(df, ["host"], ["pri"], 3, salt=4)
        .orderBy("host", "pri")
        .toPandas()
    )
    want = (
        pdf.sort_values(["host", "pri"]).groupby("host").head(3).reset_index(drop=True)
    )
    assert got[["host", "pri", "url"]].reset_index(drop=True).equals(want)
    assert (got.groupby("host").size() == 3).all()
    assert list(got.groupby("host")["_rank"].apply(list)) == [[1, 2, 3]] * 5


def test_topk_per_group_variable_k(spark):
    pdf = pd.DataFrame(
        {"host": ["a"] * 10 + ["b"] * 10, "pri": list(range(10)) * 2}
    )
    df = spark.createDataFrame(pdf).withColumn(
        "k", F.when(F.col("host") == "a", 2).otherwise(5)
    )
    got = topk_per_group(df, ["host"], ["pri"], F.col("k"), salt=2).toPandas()
    sizes = got.groupby("host").size().to_dict()
    assert sizes == {"a": 2, "b": 5}


def test_with_global_seq_dense_and_ordered(spark):
    pdf = pd.DataFrame(
        {"a": [(i * 13) % 97 for i in range(97)], "b": list(range(97))}
    )
    df = spark.createDataFrame(pdf).repartition(7)
    got = with_global_seq(df, ["a"], out="seq", num_partitions=5).toPandas()
    got = got.sort_values("a").reset_index(drop=True)
    assert got["seq"].tolist() == list(range(97))
    # start offset
    got2 = with_global_seq(df, ["a"], out="seq", start=100).toPandas()
    assert sorted(got2["seq"]) == list(range(100, 197))


def test_bloom_no_false_negatives_and_fp_bound(spark):
    seen_urls = [f"http://h{i % 17}.test/p/{i}" for i in range(5000)]
    probe_seen = seen_urls[::5]
    probe_new = [f"http://new{i % 13}.test/q/{i}" for i in range(5000)]

    seen_df = spark.createDataFrame([(u,) for u in seen_urls], "url string")
    bloom = BloomSeenSet.build(seen_df, n_buckets=16, m_bits=1 << 17)

    probed = bloom.probe(
        spark.createDataFrame(
            [(u,) for u in probe_seen + probe_new], "url string"
        )
    ).toPandas()
    by_url = dict(zip(probed.url, probed.maybe_seen))
    # zero false negatives
    assert all(by_url[u] for u in probe_seen)
    # FP rate bounded (m/n ≈ 26 bits/item here → well under 1%)
    fp = sum(by_url[u] for u in probe_new) / len(probe_new)
    assert fp < 0.02, fp


# each filter class with a geometry sized for the tests below
SEEN_FILTERS = [
    pytest.param(BloomSeenSet, {"m_bits": 1 << 16}, id="bloom"),
    pytest.param(CuckooSeenSet, {"m_entries": 1 << 10}, id="cuckoo"),
]


@pytest.mark.parametrize("cls, geo", SEEN_FILTERS)
def test_bloom_incremental_add_and_filter_unseen(spark, cls, geo):
    batch1 = [(f"http://a.test/{i}",) for i in range(1000)]
    batch2 = [(f"http://b.test/{i}",) for i in range(1000)]
    df1 = spark.createDataFrame(batch1, "url string")
    df2 = spark.createDataFrame(batch2, "url string")

    filt = cls.build(df1, n_buckets=8, **geo)
    filt = filt.add(df2)

    seen = df1.unionByName(df2)
    cands = spark.createDataFrame(
        batch1[:50] + [(f"http://c.test/{i}",) for i in range(50)], "url string"
    )
    out = filt.filter_unseen(cands, lambda _b: seen).toPandas()
    assert sorted(out.url) == sorted(f"http://c.test/{i}" for i in range(50))
    # the probe's bucket is the seen log's: pmod(xxhash64(url), n_buckets)
    got = filt.probe(cands, keep_bucket=True).select("url", "bucket")
    want = cands.select(
        "url", F.pmod(F.xxhash64("url"), F.lit(8)).cast("int").alias("bucket")
    )
    assert sorted(got.collect()) == sorted(want.collect())


@pytest.mark.parametrize("cls, geo", SEEN_FILTERS)
def test_bloom_checkpoint_roundtrip(spark, tmp_path, cls, geo):
    df = spark.createDataFrame([(f"u{i}",) for i in range(100)], "url string")
    filt = cls.build(df, n_buckets=4, **geo)
    p = str(tmp_path / "filter")
    filt.checkpoint(p)
    loaded = cls.load(spark, p, n_buckets=4, **geo)
    probed = loaded.probe(df).toPandas()
    assert probed.maybe_seen.all()


# sha1 of each filter's sorted (bucket, payload, n_items) rows after the
# sequence in test_stored_state_bytes_pinned, as the filters wrote them
# before they shared one update layer: a store written then must resume
# to the same filter state
PINNED_STATE_SHA1 = {
    "bloom": "fa7815ec5ec84b885a3a4520ac655bd7c3ea6e56",
    "cuckoo": "f950f74cbfd2c1e3708158b17f94e72e48953844",
}


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_stored_state_bytes_pinned(spark, kind):
    def urls(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "concat('http://h', id % 7, '.test/p/', id) AS url"
        )

    first = urls(0, 400).unionAll(urls(0, 40))  # duplicate rows in a batch
    if kind == "bloom":
        filt = BloomSeenSet.empty(spark, n_buckets=4, m_bits=1 << 12)
        state = filt.add(first).add(urls(300, 700)).blooms
        n_items = 840  # bloom counts every added row
    else:
        filt = CuckooSeenSet.empty(spark, n_buckets=4, m_entries=1 << 10)
        state = (
            filt.add(first).add(urls(300, 700)).delete(urls(100, 200)).tables
        )
        n_items = 700  # one insertion per distinct url and batch
    rows = sorted(tuple(r) for r in state.collect())
    assert sum(r[2] for r in rows) == n_items
    digest = hashlib.sha1()
    for bucket, payload, n in rows:
        digest.update(f"{bucket}:{n}:".encode())
        digest.update(bytes(payload))
    assert digest.hexdigest() == PINNED_STATE_SHA1[kind]
