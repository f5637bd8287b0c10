#!/usr/bin/env python
"""spark-submit entrypoint for the crawl engine.

The production invocation shape (north rule: "runs via spark-submit
--py-files at 10^10-URL-frontier scale"):

    zip -r crawler_spark.zip crawler_spark
    spark-submit --master <cluster> --py-files crawler_spark.zip \\
        scripts/run_crawl.py \\
        --corpus /data/corpus_parquet --seeds seeds.txt \\
        --store /data/crawl_store --max-rounds 100 \\
        --budget '*=5000' --budget 'hot.example.com=20000' \\
        --robots-dir /data/robots_bodies --resume \\
        --write-partitions 0

On a cluster ``--write-partitions 0`` keeps natural partitioning; the
session settings come from spark-submit (this script only applies SQL
conf via get_spark's passthrough behavior when a session already
exists). Locally it runs as ``python scripts/run_crawl.py ...`` too.

Prints one JSON line of crawl stats on completion.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)
# Executor python workers resolve imports from PYTHONPATH, not the
# driver's sys.path — without this, running the script from any cwd
# other than the repo root fails in the first pandas-UDF stage with
# ModuleNotFoundError. On a real cluster --py-files supersedes this.
os.environ["PYTHONPATH"] = _REPO_ROOT + (
    os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else ""
)


def parse_budgets(items: list[str]) -> dict[str, int]:
    out: dict[str, int] = {}
    for item in items:
        host, _, k = item.partition("=")
        if not k.isdigit():
            raise SystemExit(f"--budget expects host=N, got: {item!r}")
        out[host] = int(k)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--corpus", required=True,
                    help="parquet dir of the Common-Crawl-style pages table")
    ap.add_argument("--seeds", required=True,
                    help="text file, one seed URL per line (# comments ok)")
    ap.add_argument("--store", required=True, help="crawl store root")
    ap.add_argument("--max-rounds", type=int, default=100)
    ap.add_argument("--budget", action="append", default=[],
                    metavar="HOST=N",
                    help="per-host URLs/round; host '*' is the default")
    ap.add_argument("--robots-dir", default=None,
                    help="optional parquet dir of fetched (host, body) "
                         "robots.txt pages")
    ap.add_argument("--robots-wildcards", default="conservative",
                    choices=("conservative", "exact"),
                    help="RFC 9309 * / $ handling: 'conservative' "
                         "(never over-fetch: truncate Disallow, drop "
                         "wildcarded Allow) or 'exact' (full §2.2.2 "
                         "pattern matching, longest-pattern precedence)")
    ap.add_argument("--crawl-delay-budgets", action="store_true",
                    help="derive per-host budgets from the robots bodies' "
                         "Crawl-delay lines (budget = round-seconds / "
                         "delay); explicit --budget entries override")
    ap.add_argument("--round-seconds", type=int, default=3600,
                    help="wall-clock per crawl round (cooldown TTL and "
                         "Crawl-delay budget conversion)")
    ap.add_argument("--limit-to", default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--bloom-buckets", type=int, default=64)
    ap.add_argument("--bloom-bits", type=int, default=1 << 20)
    ap.add_argument("--seen-filter", choices=("bloom", "cuckoo"),
                    default="bloom",
                    help="approximate URL-seen layer; cuckoo supports "
                         "retraction/recrawl (resume with the same choice)")
    ap.add_argument("--cuckoo-entries", type=int, default=1 << 16,
                    help="cuckoo entries per bucket (×4 slots)")
    ap.add_argument("--retract", action="append", default=[],
                    metavar="URL",
                    help="mark crawled URL(s) for one-shot recrawl and "
                         "exit (run again with --resume to execute)")
    ap.add_argument("--retract-file", default=None,
                    help="text file of URLs to retract (one per line)")
    ap.add_argument("--pagerank-priority", action="store_true",
                    help="order rounds by host-level PageRank of the "
                         "link graph already in the store (requires "
                         "--resume: a fresh store has no links yet); "
                         "BFS breaks ties")
    ap.add_argument("--priority-fusion", default=None,
                    metavar="SIG[,SIG...]",
                    help="rank-fuse host priority signals (RRF) from the "
                         "store's own crawl: any of pagerank, trust, "
                         "reputation (e.g. 'pagerank,trust,reputation'); "
                         "requires --resume like --pagerank-priority; "
                         "BFS breaks remaining ties")
    ap.add_argument("--priority-parquet", default=None, metavar="PARQUET",
                    help="parquet of (host, priority) to order rounds "
                         "by — the distributed feed: the rank table "
                         "never lands on the driver (use for mined "
                         "priorities at real host-universe scale; a "
                         "prior --priority-save export, or offline "
                         "ranking over another crawl)")
    ap.add_argument("--priority-save", default=None, metavar="PARQUET",
                    help="with --pagerank-priority/--priority-fusion: "
                         "also write the mined (host, priority) table "
                         "to this parquet for later --priority-parquet "
                         "sessions")
    ap.add_argument("--round-capacity", type=int, default=0,
                    help="max pages per round across all hosts "
                         "(0 = unlimited); overflow stays in the "
                         "frontier with its priority")
    ap.add_argument("--global-budget", type=int, default=0,
                    help="fair-share mode: one global page budget per "
                         "round apportioned across hosts by largest "
                         "remainder (0 = off); unlike --round-capacity "
                         "hot hosts cannot starve the tail")
    ap.add_argument("--dust-mine", action="store_true",
                    help="mine DUST URL-rewrite rules (Bar-Yossef et "
                         "al. '07) from the store's own crawled pages "
                         "(content-equal same-host URL twins) and "
                         "canonicalize discovered links with them this "
                         "session; requires --resume like the priority "
                         "flags (rules come from committed content). "
                         "Rules apply at DISCOVERY time — links found "
                         "from this session's rounds onward; the "
                         "already-committed frontier is not rewritten")
    ap.add_argument("--dust-rules", default=None, metavar="PARQUET",
                    help="parquet of (host, seg_from, seg_to) URL "
                         "rewrite rules to canonicalize discovered "
                         "links with (e.g. a prior --dust-mine export "
                         "or offline mining over another crawl)")
    ap.add_argument("--dust-min-support", type=int, default=2,
                    help="--dust-mine: drop rules observed on fewer "
                         "content-equal pairs than this")
    ap.add_argument("--snapshot-every", type=int, default=1,
                    help="write the frontier and seen-filter snapshots "
                         "in each round R that crawled something and "
                         "has R %% N == 0; resume and the per-round "
                         "reload replay the discovery log onto the "
                         "newest snapshot")
    ap.add_argument("--write-partitions", type=int, default=8,
                    help="files per round table; 0 = natural partitioning")
    args = ap.parse_args()
    if args.round_capacity < 0:
        ap.error("--round-capacity must be >= 0")
    if args.global_budget < 0:
        ap.error("--global-budget must be >= 0")
    if args.crawl_delay_budgets and not args.robots_dir:
        ap.error("--crawl-delay-budgets requires --robots-dir "
                 "(delays come from the fetched robots bodies)")

    from crawler_spark import CrawlConfig, CrawlStore, get_spark, run_crawl

    spark = get_spark("crawler-spark-submit")

    retract = list(args.retract)
    if args.retract_file:
        with open(args.retract_file) as f:
            retract += [ln.strip() for ln in f
                        if ln.strip() and not ln.startswith("#")]
    if retract:
        from crawler_spark.crawl.driver import retract_urls

        upto = retract_urls(spark, args.store, retract)
        print(json.dumps({
            "retracted": len(retract), "watermark_round": upto,
        }))
        spark.stop()
        return

    with open(args.seeds) as f:
        seeds = [ln.strip() for ln in f
                 if ln.strip() and not ln.startswith("#")]

    budgets = parse_budgets(args.budget)
    robots: list[tuple[str, str, bool]] = []
    if args.robots_dir:
        from crawler_spark.functions.robots import rules_from_bodies

        robots_df = spark.read.parquet(args.robots_dir)
        robots = [
            (r.host, r.rule, bool(r.allow))
            for r in rules_from_bodies(
                robots_df, wildcards=args.robots_wildcards
            ).collect()
        ]
        if args.crawl_delay_budgets:
            # second parse pass over the same bodies: both runs are
            # dimension-sized mapInPandas jobs (≤ one row per host), so
            # two clean single-purpose passes beat a fused two-schema one
            from crawler_spark.functions.robots import (
                budgets_from_delays,
                delays_from_bodies,
            )

            delays = [
                (r.host, r.crawl_delay)
                for r in delays_from_bodies(robots_df).collect()
            ]
            derived, periods = budgets_from_delays(
                delays, args.round_seconds,
                budgets.get("*", 1 << 30),
            )
            derived.update(budgets)  # explicit --budget wins…
            periods = {h: p for h, p in periods.items()
                       if h not in budgets}  # …including over the period
            budgets = derived
        else:
            periods = {}
    else:
        periods = {}

    # host priority: every feed stays a DataFrame end-to-end — mined
    # ranks are never collect()ed into a driver dict (a 10^8-host
    # universe must not pass through driver memory); the scheduler
    # joins the table AQE-sized per round
    priority_df = None
    n_prio_flags = sum(bool(x) for x in (
        args.pagerank_priority, args.priority_fusion, args.priority_parquet
    ))
    if n_prio_flags > 1:
        ap.error("--pagerank-priority / --priority-fusion / "
                 "--priority-parquet are exclusive (one priority feed "
                 "per session)")
    if args.priority_save and not (args.pagerank_priority
                                   or args.priority_fusion):
        ap.error("--priority-save needs a mining flag "
                 "(--pagerank-priority or --priority-fusion)")
    if args.pagerank_priority:
        if not args.resume:
            ap.error("--pagerank-priority requires --resume (ranks come "
                     "from the link graph a prior session crawled)")
        from crawler_spark.operators.graphrank import host_ranks_df

        priority_df = host_ranks_df(
            CrawlStore(spark, args.store).read_links()
        )
    elif args.priority_fusion:
        if not args.resume:
            ap.error("--priority-fusion requires --resume (signals come "
                     "from the crawl a prior session committed)")
        from crawler_spark.functions.urls import get_hostname
        from crawler_spark.operators.graphrank import fused_host_priority_df

        signals = [s.strip() for s in args.priority_fusion.split(",")
                   if s.strip()]
        st = CrawlStore(spark, args.store)
        priority_df = fused_host_priority_df(
            st.read_links(),
            signals,
            seed_hosts=sorted({get_hostname(u) for u in seeds}),
            pages_text=(
                st.read_page_text(with_host=True)
                if "reputation" in signals else None
            ),
        )
    elif args.priority_parquet:
        priority_df = args.priority_parquet  # run_crawl reads it
    if args.priority_save and priority_df is not None:
        # persist BEFORE the crawl starts; per-round scheduling then
        # reads the parquet instead of recomputing the rank lineage
        priority_df.write.mode("overwrite").parquet(args.priority_save)
        priority_df = args.priority_save
    elif priority_df is not None and not isinstance(priority_df, str):
        # mined but not saved: cut the iterative rank lineage once so
        # each round's schedule joins a materialized table instead of
        # re-running n_iter PageRank shuffles (stays executor-side —
        # the driver never holds the host universe)
        priority_df = priority_df.localCheckpoint(eager=True)

    dust_rules: list[tuple[str, str, str]] = []
    if args.dust_mine and args.dust_rules:
        ap.error("--dust-mine and --dust-rules are exclusive (mine from "
                 "this store OR load an external rule table)")
    if args.dust_mine:
        if not args.resume:
            ap.error("--dust-mine requires --resume (rules come from "
                     "content a prior session committed)")
        from crawler_spark.operators.dust import mine_dust_rules_from_pages

        dust_rules = [
            (r["host"], r["seg_from"], r["seg_to"])
            for r in mine_dust_rules_from_pages(
                CrawlStore(spark, args.store).read_page_text(
                    with_host=True
                ),
                min_support=args.dust_min_support,
            ).collect()
        ]
    elif args.dust_rules:
        dust_rules = [
            (r["host"], r["seg_from"], r["seg_to"])
            for r in spark.read.parquet(args.dust_rules)
            .select("host", "seg_from", "seg_to")
            .collect()
        ]

    cfg = CrawlConfig(
        budgets=budgets,
        budget_periods=periods,
        robots=robots,
        limit_to=args.limit_to,
        max_rounds=args.max_rounds,
        round_seconds=args.round_seconds,
        round_capacity=args.round_capacity,
        global_budget=args.global_budget,
        dust_rules=dust_rules,
    )
    stats = run_crawl(
        spark,
        spark.read.parquet(args.corpus),
        seeds,
        cfg,
        args.store,
        bloom_buckets=args.bloom_buckets,
        bloom_bits=args.bloom_bits,
        resume=args.resume,
        write_partitions=args.write_partitions or None,
        frontier_snapshot_every=args.snapshot_every,
        seen_filter=args.seen_filter,
        cuckoo_entries=args.cuckoo_entries,
        priority_df=priority_df,
    )
    store = CrawlStore(spark, args.store)
    print(json.dumps({
        "rounds": stats.rounds,
        "pages": stats.pages,
        "links": stats.links,
        "discoveries": stats.discoveries,
        "committed_rounds": store.committed_rounds(),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
