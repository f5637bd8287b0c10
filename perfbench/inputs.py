"""Seeded benchmark inputs and the checks on the engine's outputs.

Everything here is a pure function of the workload seed: the same seed
gives byte-identical documents, mini-webs, seed lists and configs. The
engine only ever sees the generated tables, never the seed.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field

import pandas as pd

CORPUS_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string, "
    "content_type string, status int, retry_after int"
)

# English-looking vocabulary: the function words make the language-ID
# operator answer "en", the content words give the Gopher rules and the
# minhash shingles real text to work on
_FUNCTION = "the and of to in is that for with was".split()
_CONTENT = (
    "crawler frontier round budget host politeness seed page link anchor "
    "extract parse schedule commit snapshot filter bloom cuckoo bucket "
    "manifest resume shuffle partition executor driver cluster replica "
    "latency throughput storage parquet column vector batch stream window "
    "market river garden winter summer mountain village harbor library "
    "museum theatre kitchen bakery orchard meadow forest valley island "
    "engine signal circuit sensor module network protocol packet router"
).split()


def documents(seed: int, n_docs: int) -> pd.DataFrame:
    """``documents(doc_id, text, lang)`` with near-duplicate families.

    Docs are grouped into families of one to three members that share a
    base text and differ in a couple of substituted words, so the
    near-dup chain has real clusters to merge. Lengths straddle the
    Gopher 50-word floor, so the quality gate keeps some docs and drops
    others. Family membership and texts are permuted by ``seed``; the
    doc-id link graph built on top (``fixtures.doccorpus``) is not."""
    rng = random.Random(seed)
    texts: list[str] = []
    while len(texts) < n_docs:
        n_words = rng.randrange(24, 140)
        base = [
            rng.choice(_FUNCTION) if rng.random() < 0.35 else rng.choice(_CONTENT)
            for _ in range(n_words)
        ]
        for _ in range(rng.choice((1, 1, 2, 3))):
            words = list(base)
            for _ in range(rng.randrange(0, 3)):
                words[rng.randrange(n_words)] = rng.choice(_CONTENT)
            texts.append(" ".join(words))
    texts = texts[:n_docs]
    rng.shuffle(texts)
    return pd.DataFrame(
        {"doc_id": range(n_docs), "text": texts, "lang": ["en"] * n_docs}
    )


def spark_corpus(spark, pages: pd.DataFrame):
    """Corpus-schema pandas table → Spark DataFrame (nullable ints kept)."""
    pdf = pages.copy()
    pdf["retry_after"] = pdf["retry_after"].astype(object).where(
        pdf["retry_after"].notna(), None
    )
    return spark.createDataFrame(pdf, CORPUS_SCHEMA)


@dataclass
class CrawlInputs:
    """What one crawl workload hands the engine."""

    seeds: list[str]
    config: object  # crawler_spark.oracle.crawloracle.CrawlConfig
    # (max_rounds, resume) per run_crawl call of one job
    legs: list[tuple[int, bool]]
    crawl_kw: dict = field(default_factory=dict)
    pages: pd.DataFrame | None = None  # corpus rows, when generated in pandas
    docs: pd.DataFrame | None = None  # documents, when the corpus is derived


def docweb_inputs(seed: int, n_docs: int, n_seeds: int, budget: int,
                  rounds: int) -> CrawlInputs:
    """The documents-derived mini-web under per-host budgets, bloom filter."""
    from crawler_spark.fixtures.doccorpus import HOT, seed_urls
    from crawler_spark.oracle.crawloracle import CrawlConfig

    return CrawlInputs(
        seeds=seed_urls(n_seeds),
        config=CrawlConfig(
            budgets={"*": budget, HOT: 4 * budget}, max_rounds=rounds
        ),
        legs=[(rounds, False)],
        crawl_kw=dict(bloom_buckets=16, bloom_bits=1 << 18,
                      seen_filter="bloom"),
        docs=documents(seed, n_docs),
    )


def churnweb_inputs(seed: int, n_pages: int, global_budget: int,
                    rounds: int) -> CrawlInputs:
    """``fixtures.webgen`` web: robots rules, 429 hosts, fair-share budget,
    cuckoo filter, and a stop + resume partway through the horizon.

    The seed list adds the first two pages of every host to webgen's
    three seeds, so every round (round 0 included) has more eligible
    demand than the global budget: each round then schedules exactly
    ``global_budget`` pages whatever the seed, and the page count per
    job does not depend on it."""
    from crawler_spark.fixtures.webgen import generate
    from crawler_spark.functions.urls import get_hostname
    from crawler_spark.oracle.crawloracle import CrawlConfig

    web = generate(seed, n_pages)
    seeds = list(web.seeds.url)
    per_host: dict[str, int] = {}
    for url in web.pages.url:
        host = get_hostname(url)
        if per_host.get(host, 0) < 2 and url not in seeds:
            per_host[host] = per_host.get(host, 0) + 1
            seeds.append(url)
    return CrawlInputs(
        seeds=seeds,
        config=CrawlConfig(
            budgets={r.host: int(r.budget_per_round)
                     for r in web.politeness.itertuples()},
            robots=[(r.host, r.rule, bool(r.allow))
                    for r in web.robots.itertuples()],
            global_budget=global_budget,
            max_rounds=rounds,
        ),
        legs=[(rounds // 2, False), (rounds, True)],
        crawl_kw=dict(bloom_buckets=8, cuckoo_entries=1 << 12,
                      seen_filter="cuckoo"),
        pages=web.pages,
    )


# -- output checks ---------------------------------------------------------


def text_digest(text) -> str:
    return hashlib.sha1((text or "").encode("utf-8")).hexdigest()


@dataclass
class CrawlExpectation:
    """The serial oracle's answer, reduced to what the checks compare."""

    order: list[tuple]  # (round, seq, url, host, status, type), sorted
    seen: list[str]  # sorted crawled urls
    text: dict[str, str]  # url -> digest of extracted text


def crawl_expectation(corpus_pdf: pd.DataFrame, inputs: CrawlInputs
                      ) -> CrawlExpectation:
    """Run ``crawl_oracle`` once over the generated inputs."""
    from crawler_spark.oracle.crawloracle import crawl_oracle

    res = crawl_oracle(corpus_pdf, inputs.seeds, inputs.config)
    cols = ["round", "seq", "url", "host", "status", "type"]
    return CrawlExpectation(
        order=sorted(map(tuple, res.crawl_order[cols].itertuples(index=False))),
        seen=list(res.seen.canon_url),
        text={u: text_digest(t) for u, t in zip(res.text.url, res.text.text)},
    )


def crawl_mismatches(store, want: CrawlExpectation) -> list[str]:
    """Compare a committed store with the oracle: crawl order (pages
    table), seen set (seen table) and per-url extracted-text digests.
    Returns what differs."""
    pages = store.read_pages().toPandas()
    cols = ["round", "seq", "url", "host", "status", "type"]
    order = sorted(
        (int(r), int(s), u, h, int(st), t)
        for r, s, u, h, st, t in pages[cols].itertuples(index=False)
    )
    bad = []
    if order != want.order:
        bad.append(f"crawl order: {len(order)} rows vs oracle {len(want.order)}")
    seen = sorted(r["url"] for r in store.read_seen().select("url").collect())
    if seen != want.seen:
        bad.append(f"seen set: {len(seen)} urls vs oracle {len(want.seen)}")
    text = {
        r["url"]: text_digest(r["text"])
        for r in store.read_page_text().collect()
    }
    if text != want.text:
        bad.append(f"text digests: {len(text)} urls vs oracle {len(want.text)}")
    return bad
