#!/usr/bin/env python
"""Randomized differential sweep: Spark crawl ≡ serial oracle under
randomly COMPOSED configs.

Each trial generates a fresh mini-web (``fixtures.webgen``) and a
random combination of every scheduler knob the engine exposes —
priority ranks, round capacity, global Hamilton budget, periodic
budgets, DUST rewrite rules, ``limit_to`` host gates, non-default
``round_seconds`` (cooldown TTL conversion), bloom vs cuckoo seen
filter, a mid-crawl kill + resume, and the state-snapshot cadence
``frontier_snapshot_every`` in {1, 2, 3} (drawn last, so adding it
left every earlier trial's composition unchanged) — then runs the Spark crawl and
the pure-Python oracle and requires EXACT equality of (a) the crawl
order table (round, seq, url, host, status, type), (b) the seen set,
(c) per-url extracted text bytes, and (d) the links table.

The per-knob golden tests (tests/test_crawl_golden.py) pin each signal
alone and tests/test_pipeline_e2e.py pins one full composition; this
sweep searches the composition SPACE. It found the webgen totality bug
(seed list indexing a host the random draw missed). Deterministic in
(N, BASE): the round-5 evidence run was 68 trials over bases
9000/17000/15000/21000, i.e. the default 16 trials on three bases and
20 on one (the record does not say which) — 0 failures.

Usage:  python scripts/diff_sweep.py [N_TRIALS] [SEED_BASE]
Each trial's crawl store lives in a temporary directory that is removed
when the trial ends.
Exits non-zero on any divergence.
"""
import os
import random
import shutil
import sys
import tempfile

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from crawler_spark import get_spark  # noqa: E402
from crawler_spark.crawl.driver import run_crawl  # noqa: E402
from crawler_spark.crawl.store import CrawlStore  # noqa: E402
from crawler_spark.fixtures.webgen import generate  # noqa: E402
from crawler_spark.oracle.crawloracle import (  # noqa: E402
    CrawlConfig,
    crawl_oracle,
)


def random_trial_config(w, rng):
    """One random knob composition over mini-web ``w``. Returns
    (CrawlConfig kwargs, run_crawl kwargs, resume_at_round, mode tags)."""
    hosts = sorted(set(w.pages.url.map(lambda u: u.split("/")[2])))
    budgets = {
        r.host: int(r.budget_per_round) for r in w.politeness.itertuples()
    }
    budgets["*"] = rng.randint(3, 20)
    kw = dict(
        budgets=budgets,
        robots=[(r.host, r.rule, bool(r.allow)) for r in w.robots.itertuples()],
        max_rounds=rng.randint(25, 50),
    )
    mode = []
    if rng.random() < 0.5:
        segs = sorted(
            {s for u in w.pages.url for s in u.split("/")[3:]
             if s and not s.isdigit()}
        )
        if segs:
            kw["dust_rules"] = [
                (rng.choice(hosts), rng.choice(segs), rng.choice(segs + ["x"]))
                for _ in range(rng.randint(1, 3))
            ]
            mode.append(f"dust{len(kw['dust_rules'])}")
    if rng.random() < 0.25:
        # a seed host, so the gated crawl is non-vacuous
        kw["limit_to"] = rng.choice(
            sorted(set(u.split("/")[2] for u in w.seeds.url))
        )
        mode.append("limit")
    if rng.random() < 0.3:
        kw["round_seconds"] = rng.choice([600, 1800, 7200])
        mode.append(f"rs={kw['round_seconds']}")
    if rng.random() < 0.5:
        kw["priority"] = {
            h: float(rng.randint(-2, 6))
            for h in rng.sample(hosts, min(4, len(hosts)))
        }
        mode.append("prio")
    r = rng.random()
    if r < 0.25:
        kw["round_capacity"] = rng.randint(5, 25)
        mode.append(f"cap={kw['round_capacity']}")
    elif r < 0.5:
        kw["global_budget"] = rng.randint(8, 30)
        mode.append("gb")
    if rng.random() < 0.25:
        kw["budget_periods"] = {
            h: rng.choice([2, 3]) for h in rng.sample(hosts, min(2, len(hosts)))
        }
        mode.append("periods")
    sf = rng.choice(["bloom", "bloom", "cuckoo"])
    if sf == "cuckoo":
        mode.append("cuckoo")
    resume_at = rng.randint(1, 4) if rng.random() < 0.35 else 0
    if resume_at:
        mode.append(f"kill@{resume_at}")
    every = rng.choice([1, 2, 3])
    if every > 1:
        mode.append(f"snap/{every}")
    crawl_kw = dict(bloom_buckets=8, bloom_bits=1 << 16, seen_filter=sf,
                    frontier_snapshot_every=every)
    return kw, crawl_kw, resume_at, mode


def run_trial(spark, i, base, root_dir=None):
    """Run trial ``i`` of seed base ``base`` in a fresh store under
    ``root_dir`` (the system temp dir by default); the store is removed
    when the trial ends. Returns (checks, mode tags, pages crawled)."""
    rng = random.Random(base * 3 + i)
    w = generate(seed=base + i, n_pages=rng.randint(50, 140))
    kw, crawl_kw, resume_at, mode = random_trial_config(w, rng)
    root = tempfile.mkdtemp(prefix=f"diffsweep_{base}_{i}_", dir=root_dir)
    try:
        checks, pages = _check_trial(spark, w, kw, crawl_kw, resume_at, root)
        return checks, mode, pages
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _check_trial(spark, w, kw, crawl_kw, resume_at, root):
    from tests.test_crawl_golden import _to_spark_corpus

    cfg = CrawlConfig(**kw)
    seeds = w.seeds.url.tolist()
    oracle = crawl_oracle(w.pages, seeds, cfg)
    corpus = _to_spark_corpus(spark, w.pages)
    if resume_at:
        run_crawl(spark, corpus, seeds,
                  CrawlConfig(**{**kw, "max_rounds": resume_at}),
                  root, **crawl_kw)
        run_crawl(spark, corpus, seeds, cfg, root, resume=True, **crawl_kw)
    else:
        run_crawl(spark, corpus, seeds, cfg, root, **crawl_kw)
    store = CrawlStore(spark, root)
    got = (
        store.read_pages().toPandas()
        .sort_values(["round", "seq"]).reset_index(drop=True)
    )
    want = (
        oracle.crawl_order.sort_values(["round", "seq"]).reset_index(drop=True)
    )
    cols = ["round", "seq", "url", "host", "status", "type"]
    checks = {
        "order": list(map(tuple, got[cols].itertuples(index=False)))
        == list(map(tuple, want[cols].itertuples(index=False))),
        "seen": sorted(
            r["url"] for r in store.read_pages().select("url").collect()
        ) == oracle.seen.canon_url.tolist(),
        "text": {
            r["url"]: r["text"] for r in store.read_page_text().collect()
        } == dict(zip(oracle.text.url, oracle.text.text)),
    }
    lcols = ["round", "source", "source_host", "url", "host", "link_pos"]
    checks["links"] = sorted(
        map(tuple, store.read_links().toPandas()[lcols].itertuples(index=False))
    ) == sorted(map(tuple, oracle.links[lcols].itertuples(index=False)))
    return checks, len(got)


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    base = int(sys.argv[2]) if len(sys.argv) > 2 else 9000
    spark = get_spark("diff-sweep")
    fails = 0
    for i in range(n):
        checks, mode, pages = run_trial(spark, i, base)
        ok = all(checks.values())
        fails += 0 if ok else 1
        tag = ",".join(mode) or "plain"
        if ok:
            print(f"OK  trial {i} [{tag}] pages={pages}")
        else:
            bad = ",".join(k for k, v in checks.items() if not v)
            print(f"FAIL trial {i} [{tag}] diverged: {bad}")
    print(f"fails: {fails}")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
