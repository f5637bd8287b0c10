"""Round-synchronous crawl driver — the engine's flagship pipeline.

Spark re-expression of the reference's serial crawl loop (``crawl.ts:41-71``
driver, ``storage.ts:137-200`` pop, ``page.ts:136-219`` fetch/extract,
``storage.ts:82-112`` queue update, ``workers/crawler.ts:21-32`` cooldown)
as iterative batch rounds. Each round:

    frontier ──isin── drop cooling hosts (hash-set filter, no join)
             ──broadcast join── per-host budget table (built once per crawl)
             ──topk_per_group── per-host politeness budget (skew-salted)
             ──with_global_seq── deterministic (round, seq) crawl order,
                 cached: one job fills and counts it
                 (priority queue: host-rank broadcast join + global
                  round capacity when configured; default = pure BFS)
             ──left join corpus── simulated fetch (url → html/status/ct)
             ──extract_page pandas UDF── one parse: text + links (Arrow-batched)
             ──robots + fetchable filters──
             ──seen.filter_unseen── URL-seen set (bloom|cuckoo + exact re-check)
             ──with_global_seq── discovery priority (disc_round, disc_seq),
                 cached like the schedule
             ──commit── pages/links/discoveries/frontier/cooldown/bloom
                        + round manifest (atomic, resumable)

Semantics are specified by the pure-Python oracle
(``crawler_spark.oracle.crawloracle`` — see its module docstring for the
reference mapping); golden tests assert exact equality of crawl order,
seen set, link table, cooldown events and extracted text.

Every per-row operation is a vectorized pandas UDF; all joins are
hash/broadcast joins; the two global orderings use the scalable
``with_global_seq`` (no single-partition window). Cooldowns are a
driver-side ``isin`` filter; per-host budgets are a broadcast table
rebuilt only when periodic budgets change it (``eligible_frontier``).

Tables the driver holds — budgets, Hamilton grants, seeds, the dict
priority feed, DUST rules, empty frames — are Arrow-backed JVM local
relations (``session.driver_frame``): a query that reads one starts no
Python worker.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawler_spark.crawl.store import (
    COOLDOWN_SCHEMA,
    DISC_SCHEMA,
    CrawlStore,
)
from crawler_spark.functions.html import extract_page_udf
from crawler_spark.functions.urls import get_hostname, is_fetchable
from crawler_spark.operators.dust import apply_dust_rules
from crawler_spark.operators.cuckoo import CuckooSeenSet
from crawler_spark.operators.seen import BloomSeenSet, BucketedSeenSet
from crawler_spark.operators.topk import topk_per_group, with_global_seq
from crawler_spark.session import driver_frame
from crawler_spark.oracle.crawloracle import (
    DEFAULT_COOLDOWN_SECONDS,
    CrawlConfig,
)


_JOB_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel")  # what setJobGroup sets


@dataclass
class CrawlStats:
    rounds: int = 0
    pages: int = 0
    links: int = 0
    discoveries: int = 0
    per_round: list[dict] = field(default_factory=list)


def _robots_filter_udf(spark: SparkSession, config: CrawlConfig):
    """Vectorized robots allow/deny over (host, url): rules pre-grouped
    into a per-host dict, broadcast once, evaluated per host GROUP with
    vectorized prefix matches.

    Replaces an O(|all rules| × |links|) per-row scan: each URL now only
    sees its own host's rules (plus ``*`` wildcards), and each rule is
    one vectorized ``str.startswith`` over the host's URL block — the
    per-round cost is Σ_host |rules(host)| × |links(host)|, flat in total
    rule count. Semantics identical to the serial spec
    ``CrawlConfig.robots_allowed`` (longest pattern wins, allow wins
    ties, default allow; RFC 9309 ``*``/``$`` patterns — present when the
    rules were parsed with ``wildcards="exact"`` — match per §2.2.2 via a
    vectorized anchored regex), asserted by property tests and the crawl
    goldens. Rules are pre-compiled once here: each entry carries its
    regex (None ⇒ plain-prefix ``startswith`` fast path)."""
    from crawler_spark.functions.robots import pattern_to_regex

    by_host: dict[str, list[tuple[str, bool, str | None]]] = {}
    wild: list[tuple[str, bool, str | None]] = []
    for rhost, rule, allow in config.robots:
        entry = (rule, bool(allow), pattern_to_regex(rule))
        if rhost == "*":
            wild.append(entry)
        else:
            by_host.setdefault(rhost, []).append(entry)
    bc = spark.sparkContext.broadcast((by_host, wild))

    @F.pandas_udf("boolean")
    def robots_ok(hosts: pd.Series, urls: pd.Series) -> pd.Series:
        import numpy as np

        host_rules, wild_rules = bc.value
        s = urls.fillna("")
        # vectorized _url_path: strip scheme://host, cut the query;
        # empty/protocol-less → "/"
        has_proto = s.str.contains("://", regex=False)
        path = (
            s.str.replace(r"^.*?://[^/]*", "", n=1, regex=True)
            .str.split("?", n=1)
            .str[0]
        )
        path = path.where(has_proto & (path != ""), "/")
        out = np.ones(len(s), dtype=bool)  # default allow
        for host, idx in hosts.fillna("").groupby(
            hosts.fillna("")
        ).groups.items():
            rules = host_rules.get(host, []) + wild_rules
            if not rules:
                continue
            p = path.loc[idx]
            best_len = np.full(len(p), -1)
            best_allow = np.ones(len(p), dtype=bool)
            for rule, allow, rx in rules:
                if rx is None:
                    m = p.str.startswith(rule).to_numpy()
                else:
                    m = p.str.match(rx).to_numpy()
                ln = len(rule)
                upd = m & (
                    (ln > best_len) | ((ln == best_len) & allow)
                )
                best_allow = np.where(upd, allow, best_allow)
                best_len = np.where(m & (ln > best_len), ln, best_len)
            out[hosts.index.get_indexer(idx)] = best_allow
        return pd.Series(out, index=hosts.index)

    return robots_ok


def budget_table(
    spark: SparkSession, config: CrawlConfig, rnd: int = 0
) -> DataFrame:
    """Per-host politeness budgets for round ``rnd`` as a ``(host, _bk)``
    table: one row per host with its own budget or period, holding
    ``budget_at(host, rnd)`` — periodic hosts get their base budget on
    on-rounds and 0 otherwise, evaluated driver-side. It has a row for
    every host that declares a Crawl-delay (``budgets_from_delays``),
    so the crawl builds it once, and per round only when periods exist;
    a hash join keeps the per-row lookup O(1) at any size. The rows are
    Arrow batches in the JVM (``driver_frame``), so the join's build
    side runs no Python worker."""
    hosts = sorted((set(config.budgets) | set(config.budget_periods)) - {"*"})
    return driver_frame(
        spark, [(h, config.budget_at(h, rnd)) for h in hosts],
        "host string, _bk int",
    )


def eligible_frontier(
    frontier: DataFrame, config: CrawlConfig, cooldown: dict[str, int],
    rnd: int, budgets: DataFrame,
) -> DataFrame:
    """Frontier rows round ``rnd`` may schedule, with their per-host
    politeness budget as ``_k``. Cooling hosts (``expire_round >= rnd``)
    drop out through ``isin``, a filter Spark turns into a hash-set
    probe (``InSet``) past ten hosts; hosts are ``''``, never null, so
    it keeps the rows an anti-join would. ``_k`` comes from the
    broadcast hash join of ``budgets`` (``budget_table``), else the
    ``'*'`` default."""
    active = sorted(h for h, e in cooldown.items() if e >= rnd)
    if active:
        frontier = frontier.where(~F.col("host").isin(active))
    default = F.lit(config.budgets.get("*", 1 << 30))
    return (
        frontier.join(F.broadcast(budgets), "host", "left")
        .withColumn("_k", F.coalesce(F.col("_bk"), default))
        .drop("_bk")
    )


def seed_discoveries(
    spark: SparkSession, seeds: list[str], config: CrawlConfig
) -> tuple[DataFrame, int]:
    """Seeds become disc_round = -1 discoveries; disc_seq = seed-list index
    (pre-filter, matching the oracle's enumerate order). Returns the
    table and its row count, which the driver knows without a job."""
    rows: dict[str, tuple[int, int, str, str]] = {}
    for i, url in enumerate(seeds):
        host = get_hostname(url)
        if not is_fetchable(url):
            continue
        if config.limit_to and host != config.limit_to:
            continue
        from crawler_spark.oracle.crawloracle import _url_path

        if not config.robots_allowed(host, _url_path(url)):
            continue
        # first occurrence wins — matches the oracle's setdefault dedup
        rows.setdefault(url, (-1, i, url, host))
    return driver_frame(spark, rows.values(), DISC_SCHEMA), len(rows)


def _changed_after(store: CrawlStore, after: int, upto: int) -> bool:
    """Whether a committed round in ``(after, upto]`` crawled or
    discovered anything. Cooldown and period-wait rounds change neither
    the frontier nor the filter; the manifests say so without a job."""
    for r in range(after + 1, upto + 1):
        m = store.read_manifest(r)["metrics"]
        if m["scheduled"] or m["new_discoveries"]:
            return True
    return False


def _load_state(store: CrawlStore, rnd: int, empty: BucketedSeenSet):
    """The frontier and seen filter as of committed round ``rnd`` — the
    one loader behind both resume and the between-round reload.

    Each table starts from its newest snapshot ``C <= rnd`` and replays
    the discovery log written after it:

        frontier = snapshot(C) ∪ discoveries(round > C)
                   anti-join pages(round > C)
        filter   = load(C) (empty without a snapshot)
                   + add(discoveries(round > C))

    No replay runs when no round after ``C`` changed state: an ``add``
    over empty input still rewrites every filter bucket. The frontier
    replays the whole log (``rebuild_frontier``) when it has no snapshot
    and while retractions are pending — a retracted url resurfaces only
    from its discovery row, which a snapshot older than the retraction
    does not hold. The store holds no round above ``rnd`` here: resume
    has removed uncommitted ones and the running crawl has not written
    the next."""
    spark = store.spark
    c = store.latest_snapshot_round("frontier", rnd)
    if c is None or store.has_retractions():
        frontier = store.rebuild_frontier(rnd)
    else:
        frontier = store.read_snapshot("frontier", c, DISC_SCHEMA)
        if _changed_after(store, c, rnd):
            crawled = store.read_pages().where(F.col("round") > c)
            frontier = (
                frontier.unionByName(store.discoveries_after(c))
                .join(crawled.select("url"), "url", "left_anti")
                .select("disc_round", "disc_seq", "url", "host")
            )
    c = store.latest_snapshot_round("bloom", rnd)
    if c is None:
        seen, c = empty, -1
    else:
        path = store.table_round_path("bloom", c)
        seen = type(empty).load(spark, path, **empty.geometry)
    if _changed_after(store, c, rnd):
        seen = seen.add(store.discoveries_after(c).select("url"))
    return frontier, seen


def run_crawl(
    spark: SparkSession,
    corpus: DataFrame,
    seeds: list[str],
    config: CrawlConfig,
    store_root: str,
    bloom_buckets: int = 16,
    bloom_bits: int = 1 << 18,
    resume: bool = False,
    write_partitions: int | None = 8,
    frontier_snapshot_every: int = 1,
    seen_filter: str = "bloom",
    cuckoo_entries: int = 1 << 16,
    priority_df: DataFrame | str | None = None,
) -> CrawlStats:
    """Run (or resume) the crawl to completion; state lives in the store.

    ``write_partitions`` caps files per round table — right for local/bench
    scale; pass None on a real cluster for natural partitioning.

    ``frontier_snapshot_every=N`` writes both state snapshots — the
    frontier and the seen filter — in each round ``rnd`` that crawled
    something and has ``rnd % N == 0`` (a cooldown or period-wait round
    changes neither table and writes neither, even when ``rnd % N ==
    0``). Resume and the between-round reload are the same step: the
    newest snapshot of each table plus a replay of the discovery log
    written after it (``_load_state``). A larger N drops
    two write jobs from most rounds, at the cost of replaying up to N-1
    rounds of the log per reload. Choose by shape: write-bound
    short-frontier crawls want a large N; a 10^10-row frontier whose
    discovery log dwarfs it wants N=1.

    ``seen_filter`` picks the approximate URL-seen layer (the north
    rule's "bloom/cuckoo" pair): ``"bloom"`` (default — smaller per key,
    embarrassingly-parallel OR adds, append-only) or ``"cuckoo"``
    (``operators.cuckoo.CuckooSeenSet`` — same bucketed layer and probe
    contract, plus a DELETE for callers outside the crawl;
    ``cuckoo_entries`` × 4 slots per bucket). Both filters drive the
    identical crawl (goldens assert it): the exact seen-log re-check is
    the correctness authority, the filter only bounds how much of it
    each round reads. :func:`retract_urls` works the same under both:
    it touches neither filter, and the exact re-check keeps the recrawl
    exact. Resume with the same ``seen_filter`` the store was written
    with.

    ``priority_df`` is the DISTRIBUTED host-priority feed — a DataFrame
    or parquet path with columns ``(host, priority)`` (what the mined
    ``operators.graphrank.host_ranks_df`` / ``fused_host_priority_df``
    return). It takes precedence over ``config.priority`` (the
    dict-shaped feed the serial oracle shares) and never passes through
    driver memory: the scheduler joins it AQE-sized per round, so a
    10^8-host rank table costs one ordinary join instead of a driver
    dict whose row count is the host universe. Golden-tested equal to
    the dict feed at equal scores."""
    if config.round_capacity < 0:
        # a negative cap would silently schedule nothing here while the
        # serial oracle's list slice would keep all-but-the-last rows
        raise ValueError(
            f"round_capacity must be >= 0, got {config.round_capacity}"
        )
    store = CrawlStore(spark, store_root, max_write_partitions=write_partitions)
    robots_ok = _robots_filter_udf(spark, config)
    budgets = budget_table(spark, config)
    # host-priority table. Two feeds, one contract (host -> score):
    #  - ``priority_df`` (DataFrame or parquet path, columns
    #    (host, priority)) — the DISTRIBUTED feed: the rank table stays
    #    an executor-side DataFrame end-to-end, never a driver dict, so
    #    a 10^8-host universe (where a collect() would OOM the driver)
    #    costs one ordinary join per round and AQE picks broadcast vs
    #    shuffle by its actual size. Mined feeds
    #    (operators.graphrank.host_ranks_df / fused_host_priority_df)
    #    return exactly this shape; takes precedence over the dict.
    #  - ``config.priority`` (dict) — the serial-oracle-shaped feed for
    #    tests and small curated lists; broadcast-hinted because a dict
    #    that fit in driver memory is broadcast-sized by construction.
    # None keeps the default BFS path join-free.
    prio_df = None
    prio_hint = F.broadcast  # dict feed: politeness-table-sized
    if priority_df is not None:
        if isinstance(priority_df, str):
            priority_df = spark.read.parquet(priority_df)
        missing = {"host", "priority"} - set(priority_df.columns)
        if missing:
            raise ValueError(
                f"priority_df needs columns (host, priority); missing "
                f"{sorted(missing)} in {priority_df.columns}"
            )
        # max-per-host first: the dict feed was duplicate-free by
        # construction, but a parquet feed (e.g. a union of signal
        # exports) can carry a host twice, and a duplicate key in this
        # left join would schedule the same URL twice in one round —
        # one host-keyed aggregation at crawl START (not per round)
        # buys the uniqueness invariant deterministically (max beats
        # dropDuplicates' partition-order pick).
        prio_df = (
            priority_df.select(
                "host", F.col("priority").cast("double").alias("_hp")
            )
            .groupBy("host")
            .agg(F.max("_hp").alias("_hp"))
        )
        prio_hint = lambda df: df  # let AQE size the join  # noqa: E731
    elif config.priority:
        prio_df = driver_frame(
            spark, [(h, float(p)) for h, p in config.priority.items()],
            "host string, _hp double",
        )
    # DUST canonicalization rules (config.dust_rules — broadcast-sized
    # like priority/budgets: rules per site, not per page). The
    # per-host sorted-array form apply_dust_rules consumes is built
    # DRIVER-SIDE from the config list — a literal local relation, so
    # the per-round apply join re-broadcasts a constant instead of
    # re-running an aggregation (and there is no persisted DataFrame
    # to leak if a round aborts); see operators/dust.py.
    dust_df = None
    if config.dust_rules:
        by_host: dict[str, list[tuple[str, str]]] = {}
        for h, f, t in sorted(config.dust_rules, key=lambda r: (r[1], r[2])):
            by_host.setdefault(h, []).append((f, t))
        dust_df = driver_frame(
            spark, sorted(by_host.items()),
            "_rhost string, _rules array<struct<f:string,t:string>>",
        )

    corpus_slim = corpus.select(
        F.col("url"),
        F.col("html").alias("_c_html"),
        F.col("content_type").alias("_c_ct"),
        F.col("status").alias("_c_status"),
        F.col("retry_after").alias("_c_retry"),
    )

    stats = CrawlStats()
    cooldown: dict[str, int] = {}
    empty_streak = 0  # consecutive rounds scheduling nothing (period wait)

    if seen_filter == "bloom":
        empty_seen = BloomSeenSet.empty(spark, bloom_buckets, m_bits=bloom_bits)
    elif seen_filter == "cuckoo":
        empty_seen = CuckooSeenSet.empty(
            spark, bloom_buckets, m_entries=cuckoo_entries
        )
    else:
        raise ValueError(f"seen_filter must be bloom|cuckoo, got {seen_filter!r}")
    # the filter's shape, recorded in the store at crawl start and
    # validated on resume: geometry is not recoverable from the snapshot
    # bytes, and a silent mismatch (different bits/buckets/entries)
    # probes the loaded state at the wrong positions — false NEGATIVES,
    # already-crawled urls bypassing the exact re-check
    geometry = empty_seen.stored_geometry()

    last = store.resume_round() if resume else None
    if last is None:
        if not resume:
            stale = store.committed_rounds()
            if stale:
                # starting fresh over a store with committed rounds
                # would overwrite the early rounds but leave later
                # manifests behind — a subsequent resume would pick up
                # the OLD crawl's last round mixed with the new tables.
                # Refuse rather than wipe: the driver never deletes a
                # store it did not just create.
                raise ValueError(
                    f"store at {store_root} already holds committed "
                    f"rounds {stale[:3]}{'...' if len(stale) > 3 else ''} "
                    f"— pass resume=True to continue that crawl, or "
                    f"point store_root at a fresh directory"
                )
        frontier, n_frontier = seed_discoveries(spark, seeds, config)
        # cached before the filter reads it: the seed table is evaluated
        # once for the filter, round 0's schedule and its discovery write
        frontier = frontier.cache()
        seen = empty_seen.add(frontier.select("url"))
        start_round = 0
        seed_disc = frontier  # committed with round 0
        store.write_filter_geometry(geometry)
    else:
        stored_geo = store.read_filter_geometry()
        if stored_geo is None:
            raise ValueError(
                f"store at {store_root} has no filter_geometry.json — it "
                f"was written before the seen-filter geometry was "
                f"recorded and cannot be resumed; start a fresh crawl"
            )
        if stored_geo != geometry:
            raise ValueError(
                f"seen-filter geometry mismatch: store was written with "
                f"{stored_geo}, resume asked for {geometry} — resume "
                f"with the geometry the crawl started with"
            )
        # consumed retraction records (url already recrawled) retire here
        # so one campaign doesn't permanently tax every future resume
        store.retire_retractions()
        frontier, seen = _load_state(store, last, empty_seen)
        if store.has_retractions():
            # resurfaced retracted urls invalidate the manifest's
            # frontier_size, so pay one count job here — retraction
            # resumes are campaign events, not per-round cost
            n_frontier = frontier.count()
        else:
            n_frontier = int(
                store.read_manifest(last)["metrics"]["frontier_size"]
            )
        cd = store.read_snapshot("cooldown", last, COOLDOWN_SCHEMA).collect()
        cooldown = {r["host"]: r["expire_round"] for r in cd}
        start_round = last + 1
        seed_disc = None
        frontier = frontier.cache()

    if priority_df is not None:
        # the rank table joins once per round for the whole crawl —
        # persist so rounds scan executor memory (spilling to local disk
        # at 10^8-host sizes), not the parquet files, every round
        prio_df = prio_df.persist()
    reload_due = False  # a round committed since frontier/seen were loaded

    sc = spark.sparkContext
    caller_group = {k: sc.getLocalProperty(k) for k in _JOB_GROUP_PROPS}
    # the round's frozen frames: with_global_seq hands back its sequenced
    # rows cached (one job fills the cache and counts them) for the
    # schedule and the discoveries; released at the round's end and on
    # every exit path
    sched_seq = seq_disc = fetched = links = None
    try:
        for rnd in range(start_round, config.max_rounds):
            # frontier size is tracked from the previous commit — no extra job
            if n_frontier == 0:
                break

            # tag every job of the round (scheduler, sequencing, writes) so
            # the manifest can record the per-round Spark job count — the
            # number the fixed-cost budget tracks (less the ids an earlier
            # run_crawl in this SparkContext left in the same group)
            job_group = f"crawl-round-{rnd}"
            sc.setJobGroup(job_group, f"crawl round {rnd}")
            prior_jobs = set(sc.statusTracker().getJobIdsForGroup(job_group))
            prior_compiles = _codegen_compiles(spark)
            phase_t: dict[str, float] = {}
            if reload_due:
                # re-read the committed state (bounded lineage across
                # rounds) in the round it prepares, so no reload follows
                # the last round and its jobs count toward this round
                _t0 = time.perf_counter()
                frontier, seen = _load_state(store, rnd - 1, empty_seen)
                frontier = frontier.cache()
                phase_t["reload"] = round(time.perf_counter() - _t0, 3)
                reload_due = False
            _round_t0 = time.perf_counter()

            # -- eligibility: cooldown filter + per-host budget join ----------
            if config.budget_periods:
                # periodic budgets change per round — rebuild the table
                budgets = budget_table(spark, config, rnd)
            eligible = eligible_frontier(frontier, config, cooldown, rnd, budgets)
            # -- optional global round budget (fair-share across hosts) -------
            # Hamilton apportionment of config.global_budget over each host's
            # consumable demand min(pending, politeness budget); the per-host
            # cap becomes the grant. One host-dimension count-agg per round
            # plus allocate_budget's two O(1) scalar jobs — the frontier
            # itself never re-shuffles. Serial twin: oracle hamilton_grants
            # (golden-matched); IEEE-double quota arithmetic is identical on
            # both sides.
            if config.global_budget:
                from crawler_spark.operators.allocate import allocate_budget

                demand = (
                    eligible.groupBy("host", "_k")
                    .agg(F.count("*").alias("_pend"))
                    .select(
                        "host",
                        F.least(
                            F.col("_pend"), F.col("_k").cast("long")
                        ).alias("n_pending"),
                    )
                )
                grants = allocate_budget(
                    demand, config.global_budget, small_hint=n_frontier
                ).select("host", F.col("granted").alias("_g"))
                eligible = (
                    eligible.join(F.broadcast(grants), "host", "left")
                    .withColumn(
                        "_k", F.coalesce(F.col("_g"), F.lit(0)).cast("int")
                    )
                    .drop("_g")
                )
            # -- per-host politeness budget (skew-salted two-phase top-k) ------
            scheduled = topk_per_group(
                eligible, ["host"], ["disc_round", "disc_seq"], F.col("_k"), salt=8
            ).drop("_k", "_rank")

            # -- deterministic global crawl order ------------------------------
            # default: pure BFS (disc_round, disc_seq) — the reference's FIFO
            # pop. With host priorities configured (north-rule priority
            # queue), the order key becomes (priority DESC, BFS): one more
            # join against the rank table — broadcast-hinted for the dict
            # feed, AQE-sized for the distributed priority_df feed.
            _t0 = time.perf_counter()
            order_cols = ["disc_round", "disc_seq"]
            if prio_df is not None:
                scheduled = (
                    scheduled.join(prio_hint(prio_df), "host", "left")
                    .withColumn(
                        "_nprio", -F.coalesce(F.col("_hp"), F.lit(0.0))
                    )
                    .drop("_hp")
                )
                order_cols = ["_nprio", "disc_round", "disc_seq"]
            # the tracked frontier size is a hard row bound for the schedule —
            # small rounds take with_global_seq's one-job bounded path, big
            # rounds (the 10^10-frontier shape) the range-partitioned one;
            # either way the sequenced rows come back cached, the one freeze
            # that the count, the fetch and the frontier merge all read
            sched_seq, n_scheduled = with_global_seq(
                scheduled, order_cols, out="seq",
                return_count=True, small_hint=n_frontier,
            )
            scheduled = sched_seq
            if prio_df is not None:
                scheduled = scheduled.drop("_nprio")
            if config.round_capacity and n_scheduled > config.round_capacity:
                # global round capacity: keep the top of the priority order;
                # overflow is never popped, so it stays in the frontier (the
                # frontier_rem anti-join below only removes scheduled urls)
                scheduled = scheduled.where(
                    F.col("seq") < F.lit(config.round_capacity)
                )
                n_scheduled = config.round_capacity
            phase_t["schedule"] = round(time.perf_counter() - _t0, 3)
            phase_t["_round_t0"] = _round_t0
            if n_scheduled == 0:
                # wait for periodic budgets only while a full period cycle
                # hasn't yet passed without progress: if max(period)
                # consecutive non-cooling rounds schedule nothing, every
                # remaining frontier entry is permanently unschedulable (e.g.
                # budget 0) and waiting longer only burns empty commits.
                # Cooling rounds don't consume the period-wait allowance — a
                # cooldown longer than the period must not starve the host
                # whose on-round falls right after expiry. Same logic in the
                # serial oracle (golden-matched).
                cooling = any(e >= rnd for e in cooldown.values())
                pending_periodic = (
                    bool(config.budget_periods)
                    and empty_streak < max(config.budget_periods.values())
                )
                if not cooling:
                    empty_streak += 1
                if cooling or pending_periodic:
                    # everything eligible is cooling, or periodic budgets are
                    # configured and this may be an off round for what's left
                    # — commit an empty round so round numbering (and
                    # cooldown/period cadence) stays resumable.
                    # Pending seed discoveries commit HERE (otherwise a crash
                    # during a cooldown stretch would leave them out of the
                    # discovery log that resume replays). Neither state table
                    # changed, so neither snapshot is written: at
                    # 10^10-frontier scale the filter alone is GBs, and a
                    # 50-round cooldown wait must not rewrite it 50 times.
                    disc_empty = (
                        seed_disc
                        if seed_disc is not None
                        else driver_frame(spark, [], DISC_SCHEMA)
                    )
                    seed_disc = None
                    rc = _RoundCommit(store, rnd, spark, seen.n_buckets,
                                      job_group=job_group, prior_jobs=prior_jobs,
                                      prior_compiles=prior_compiles)
                    rc.begin(_empty_pages(spark), _empty_links(spark))
                    rc.finish(disc_empty, cooldown, stats,
                              n_frontier=n_frontier)
                    sched_seq.unpersist()
                    continue
                break
            empty_streak = 0

            # -- simulated fetch ----------------------------------------------
            fetched = scheduled.join(corpus_slim, "url", "left")
            fetched = fetched.withColumn(
                "type",
                F.when(
                    F.col("_c_ct").contains("text/html"), F.lit("html")
                ).otherwise(F.lit("error")),
            ).withColumn(
                "status", F.coalesce(F.col("_c_status"), F.lit(-100)).cast("int")
            )
            # one parse per html page (Arrow-batched pandas UDF) yields both
            # the text and the links; the cache holds them instead of the html
            is_html = F.col("type") == "html"
            fetched = fetched.withColumn(
                "_x",
                extract_page_udf(F.when(is_html, F.col("_c_html")), "url"),
            ).drop("_c_html").cache()

            # extracted text per url (the byte-identical per-row invariant) is
            # fused onto the pages row — one write instead of two; retry_after
            # rides along so 429-cooldown events come from the written parquet
            # (driver-side footer read in _commit) instead of a collect job
            pages_df = fetched.select(
                "seq", "url", "host", "status", "type",
                F.when(is_html, F.col("_x.text")).alias("text"),
                F.col("_c_retry").cast("int").alias("retry_after"),
            )

            links = (
                fetched.where(is_html)
                .select(
                    "seq",
                    F.col("url").alias("source"),
                    F.col("host").alias("source_host"),
                    F.explode("_x.links").alias("l"),
                )
                .select(
                    "seq",
                    "source",
                    "source_host",
                    F.col("l.url").alias("url"),
                    F.col("l.host").alias("host"),
                    F.col("l.link_pos").alias("link_pos"),
                )
                .cache()
            )

            # -- fetch-side writes start NOW, overlapping the discovery work --
            # pages/links/seen depend only on the scheduled fetch; submitting
            # them before the sequencing job below means the writes run
            # concurrently with link filtering + the seen probe + sequencing
            # (all of them read the fetched cache, which the first job to
            # reach a partition fills, running the extraction UDF once)
            rc = _RoundCommit(store, rnd, spark, seen.n_buckets,
                              job_group=job_group, prior_jobs=prior_jobs,
                              prior_compiles=prior_compiles)
            rc.begin(pages_df, links.drop("seq"))

            try:
                # -- frontier merge: filter → dedup-first-occurrence → seen ----
                frontier_rem = frontier.join(
                    scheduled.select("url"), "url", "left_anti"
                ).select("disc_round", "disc_seq", "url", "host")

                cands = links.where(
                    F.col("url").startswith("http://") | F.col("url").startswith("https://")
                )
                if config.limit_to:
                    cands = cands.where(F.col("host") == config.limit_to)
                if dust_df is not None:
                    # rewrite BEFORE robots (robots judges the fetched URL)
                    # and before the first-occurrence dedup + seen probe, so
                    # known DUST twins collapse onto their canonical form
                    # and never refetch (oracle mirror:
                    # CrawlConfig.dust_canonical)
                    cands = (
                        apply_dust_rules(cands, dust_df)
                        .withColumn("url", F.col("canonical_url"))
                        .drop("canonical_url", "dust_applied")
                    )
                if config.robots:
                    # only pay the Python round-trip when rules exist (empty rule
                    # set allows everything — robots_allowed() default)
                    cands = cands.where(robots_ok("host", "url"))
                cands = (
                    cands.groupBy("url", "host")
                    .agg(F.min(F.struct("seq", "link_pos")).alias("_first"))
                    .select(
                        "url",
                        "host",
                        F.col("_first.seq").alias("_src_seq"),
                        F.col("_first.link_pos").alias("_src_pos"),
                    )
                )

                # exact re-check build side: the committed url-only seen log,
                # PRUNED to the filter-positive buckets (store.read_seen pushes
                # `bucket IN` into the parquet scan) — the full pages history
                # never rescans — plus this round's in-flight urls
                def _seen_hist(buckets, _sched=scheduled, _rem=frontier_rem):
                    return (
                        store.read_seen(buckets).select("url")
                        .unionByName(_sched.select("url"))
                        .unionByName(_rem.select("url"))
                    )

                unseen = seen.filter_unseen(cands, _seen_hist)

                _t0 = time.perf_counter()
                # small_hint here is an ESTIMATE, not a tracked bound: scheduled
                # pages × a generous links-per-page factor. A corpus where a
                # small round discovers millions of urls degrades to one slow
                # (still correct) sort task; rounds big enough for that to matter
                # exceed the threshold and take the range path anyway.
                seq_disc, n_new = with_global_seq(
                    unseen, ["_src_seq", "_src_pos"], out="disc_seq",
                    return_count=True, small_hint=n_scheduled * 64,
                )
                phase_t["extract_seen"] = round(time.perf_counter() - _t0, 3)
                new_disc = (
                    seq_disc.withColumn("disc_round", F.lit(rnd))
                    .select("disc_round", "disc_seq", "url", "host")
                )

                if seed_disc is not None:
                    disc_to_commit = seed_disc.unionByName(new_disc)
                    seed_disc = None
                else:
                    disc_to_commit = new_disc

                # -- atomic round commit -------------------------------------------
                # frontier size tracked arithmetically: previous size minus the
                # scheduled rows plus this round's new discoveries — no count job
                n_frontier = n_frontier - n_scheduled + n_new
                snapshot = None
                if rnd % max(1, frontier_snapshot_every) == 0:
                    snapshot = (
                        frontier_rem.unionByName(new_disc),
                        seen.add(new_disc.select("url")),
                    )
                rc.finish(
                    disc_to_commit, cooldown, stats, n_frontier=n_frontier,
                    config=config, phase_timings=phase_t, snapshot=snapshot,
                )
            except BaseException:
                # drain the fetch-side writers begun above before unwinding —
                # see _RoundCommit.abort (no manifest was written, so resume
                # still sees a clean round boundary)
                rc.abort()
                raise

            # the seen probe's checkpoint (and the range path's) free
            # themselves via the ContextCleaner once dereferenced
            for df in (frontier, sched_seq, fetched, links, seq_disc):
                df.unpersist()
            reload_due = True
    finally:
        # release everything this call persisted, on every exit path, and
        # restore the caller's job group (not the last crawl-round-<r>)
        for df in (frontier, sched_seq, fetched, links, seq_disc, prio_df):
            if df is not None:
                df.unpersist()
        for k, v in caller_group.items():
            sc.setLocalProperty(k, v)  # None removes the property
    return stats


def retract_urls(
    spark: SparkSession, store_root: str, urls: list[str]
) -> int:
    """Mark crawled ``urls`` for RECRAWL: the next
    ``run_crawl(..., resume=True)`` resurfaces them in the frontier via
    their original discovery records and fetches them one more time.

    Writes ONLY the retraction log (``CrawlStore.retract``) — it never
    touches a snapshot, so no filter geometry is needed here and there
    is no non-atomic in-place rewrite to crash through. The seen filter
    needs no change under either ``seen_filter``: the filter holds every
    discovered url, and a retracted url is discovered still — it is back
    in the frontier — so it must stay a member (a delete would let a
    link to it during its recrawl round skip the exact re-check and
    schedule it twice). Consumed records retire on the following resume.
    Returns the retraction watermark round (-1 when nothing was ever
    committed)."""
    return CrawlStore(spark, store_root).retract(urls)


def _empty_pages(spark):
    return driver_frame(
        spark, [],
        "seq long, url string, host string, status int, type string, "
        "text string, retry_after int",
    )


def _empty_links(spark):
    return driver_frame(
        spark, [],
        "source string, source_host string, url string, host string, "
        "link_pos int",
    )


def _hot_hosts_from_files(
    path: str, files: list[str]
) -> list[tuple[str, int | None]]:
    """(host, retry_after-of-min-seq) for hosts with a 429 row — read from
    the round's parquet files on the driver (they are budget-bounded)."""
    import os

    import pyarrow.parquet as pq

    frames = []
    cols = ["seq", "host", "status", "type", "retry_after"]
    for f in files:
        frames.append(
            pq.read_table(os.path.join(path, f), columns=cols).to_pandas()
        )
    pdf = pd.concat(frames, ignore_index=True)
    hot = pdf[(pdf["status"] == 429) & (pdf["type"] == "error")]
    if hot.empty:
        return []
    # NOT groupby().first(): pandas first() skips NaN per column and would
    # take a later row's retry_after when the min-seq row's is null —
    # diverging from the oracle (which uses the min-seq row verbatim)
    first = hot.sort_values("seq", kind="mergesort").drop_duplicates(
        subset="host", keep="first"
    ).sort_values("host")
    return [
        (r["host"], None if pd.isna(r["retry_after"]) else int(r["retry_after"]))
        for _, r in first.iterrows()
    ]


def _codegen_compiles(spark: SparkSession) -> int | None:
    """Janino compiles so far in this JVM (Spark's ``CodegenMetrics``
    counter; in local mode it also counts the compiles tasks do), or
    ``None`` where the counter cannot be read. Reads a JVM counter: no
    Spark job."""
    from py4j.protocol import Py4JError

    try:
        return int(spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                   .METRIC_COMPILATION_TIME().getCount())
    except (AttributeError, Py4JError):
        return None  # diagnostics only (no JVM gateway, or no such counter)


class _RoundCommit:
    """Two-stage concurrent round commit.

    The pages/links/seen writes depend only on the scheduled fetch, so
    :meth:`begin` submits them BEFORE the discovery-sequencing job runs
    and they overlap it; the discovery-dependent writes (discovery log,
    frontier snapshot, seen-filter checkpoint) join in :meth:`finish`.
    The round's commit wall drops from ``seq job + max(all writes)`` to
    ``max(fetch-side writes, seq job + max(discovery-side writes))``.
    (Concurrent evaluation of a shared cached partition is safe: the
    BlockManager's per-block loading lock makes one task compute it and
    the others wait.) A driver exception between begin and finish leaves
    orphan table files but NO manifest — the store's manifest-last
    atomicity keeps them invisible to resume, exactly as before.

    ``job_group`` tags every job of the round (including the scheduler's,
    via the driver's per-round ``setJobGroup``) so the manifest can record
    ``spark_jobs`` — the per-round job count the fixed-cost budget tracks:
    the group's job ids less ``prior_jobs``, those it held before the round.
    With ``prior_compiles`` (the JVM's compile count when the round
    started) it also records ``codegen_compiles``, the classes the round
    compiled: 0 once the round's plans are in the generated-class cache.
    """

    def __init__(
        self,
        store: CrawlStore,
        rnd: int,
        spark: SparkSession,
        n_buckets: int,
        job_group: str | None = None,
        prior_jobs: set[int] | frozenset[int] = frozenset(),
        prior_compiles: int | None = None,
    ):
        from concurrent.futures import ThreadPoolExecutor

        self.store, self.rnd, self.spark = store, rnd, spark
        self.n_buckets = n_buckets
        self.job_group, self.prior_jobs = job_group, prior_jobs
        self.prior_compiles = prior_compiles
        self.timings: dict[str, float] = {}
        self._pool = ThreadPoolExecutor(max_workers=6)
        self._f: dict = {}

    def _submit(self, name, fn):
        def run():
            if self.job_group is not None:
                # per-thread on purpose: each pool thread pins its own JVM
                # thread (PYSPARK_PIN_THREAD), so the round's job group
                # must be re-set in every submitting thread
                self.spark.sparkContext.setLocalProperty(
                    "spark.jobGroup.id", self.job_group
                )
            t0 = time.perf_counter()
            out = fn()
            self.timings[name] = round(time.perf_counter() - t0, 3)
            return out

        return self._pool.submit(run)

    def abort(self) -> None:
        """Drain in-flight writes after a round-body failure.

        Blocks until every submitted write finishes, then closes the
        pool. Called when an exception escapes between :meth:`begin` and
        :meth:`finish`: without the drain the fetch-side writers keep
        appending round tables in the background while the caller
        unwinds, and a same-session ``run_crawl(resume=True)`` would race
        its orphan-table cleanup against them (two writers, one path).
        Manifest-last atomicity still hides whatever they wrote. Write
        errors are swallowed — the round already failed."""
        for fut in self._f.values():
            try:
                fut.result()
            except Exception:
                pass  # original round-body exception is what propagates
        self._pool.shutdown(wait=True)

    def begin(self, pages_df: DataFrame, links_df: DataFrame) -> None:
        """Submit the fetch-side writes (pages, links, url-only seen log).

        The url-only seen log gets one row per crawled page, keyed and
        sorted by its filter bucket so later rounds' ``bucket IN (...)``
        exact re-checks prune at row-group level."""
        seen_df = pages_df.select(
            F.pmod(F.xxhash64("url"), F.lit(self.n_buckets))
            .cast("int")
            .alias("bucket"),
            "url",
        ).sortWithinPartitions("bucket")
        self._f["pages"] = self._submit(
            "w_pages",
            lambda: self.store.write_round_table("pages", self.rnd, pages_df),
        )
        self._f["links"] = self._submit(
            "w_links",
            lambda: self.store.write_round_table("links", self.rnd, links_df),
        )
        self._f["seen"] = self._submit(
            "w_seen",
            lambda: self.store.write_round_table("seen", self.rnd, seen_df),
        )

    def finish(self, *args, **kwargs) -> None:
        """Commit the round; on failure drain all writers before raising
        (``shutdown(wait=True)`` in the except covers the discovery-side
        futures local to :meth:`_finish` that :meth:`abort` can't see)."""
        try:
            self._finish(*args, **kwargs)
        except BaseException:
            self._pool.shutdown(wait=True)
            raise

    def _finish(
        self,
        disc_df: DataFrame,
        cooldown: dict[str, int],
        stats: CrawlStats,
        n_frontier: int,
        config: CrawlConfig | None = None,
        phase_timings: dict[str, float] | None = None,
        snapshot: tuple[DataFrame, BucketedSeenSet] | None = None,
    ) -> None:
        """``snapshot=(frontier, seen filter)`` also writes both state
        snapshots for this round; without it, resume replays this
        round's discoveries onto the newest earlier snapshots."""
        rnd, store = self.rnd, self.store
        f_disc = self._submit(
            "w_discoveries",
            lambda: store.write_round_table("discoveries", rnd, disc_df),
        )
        if snapshot is not None:
            frontier_df, seen = snapshot
            f_frontier = self._submit(
                "w_frontier",
                lambda: store.write_round_table("frontier", rnd, frontier_df),
            )
            f_bloom = self._submit(
                "w_bloom",
                lambda: seen.checkpoint(store.table_round_path("bloom", rnd)),
            )

        lineage: dict[str, list[str]] = {}
        lineage["pages"], n_pages = self._f["pages"].result()
        # 429 cooldown updates, add-if-absent per host (storage.ts:216):
        # derived from the just-written pages parquet via a driver-side
        # pyarrow read (tiny files) — no dedicated Spark collect job
        cooldown_events: list[tuple[str, int]] = []
        if config is not None and n_pages:
            hot = _hot_hosts_from_files(
                store.table_round_path("pages", rnd), lineage["pages"]
            )
            for h, retry in hot:
                if cooldown.get(h, -1) >= rnd:
                    continue  # already cooling
                retry = (
                    DEFAULT_COOLDOWN_SECONDS if retry is None else int(retry)
                )
                expire = rnd + max(1, math.ceil(retry / config.round_seconds))
                cooldown[h] = expire
                cooldown_events.append((h, expire))
        lineage["links"], n_links = self._f["links"].result()
        lineage["seen"], _ = self._f["seen"].result()
        lineage["discoveries"], n_disc = f_disc.result()
        lineage["frontier"], lineage["bloom"] = [], []
        if snapshot is not None:
            lineage["frontier"], _ = f_frontier.result()
            f_bloom.result()
            lineage["bloom"] = ["bloom.parquet"]
        self._pool.shutdown(wait=True)

        # cooldown is driver-resident state (a small dict) — pyarrow
        # write, not a Spark job
        import pyarrow as pa

        cd_pdf = pd.DataFrame(
            {
                "host": list(cooldown),
                "expire_round": list(cooldown.values()),
            }
        )
        cd_schema = pa.schema(
            [("host", pa.string()), ("expire_round", pa.int32())]
        )
        t0 = time.perf_counter()
        lineage["cooldown"] = store.write_driver_table(
            "cooldown", rnd, cd_pdf, cd_schema
        )
        self.timings["w_cooldown"] = round(time.perf_counter() - t0, 3)

        timings = dict(phase_timings or {})
        t0 = timings.pop("_round_t0", None)
        timings.update(self.timings)
        if t0 is not None:
            # scheduling start → commit durable: the true per-round wall
            # (phase timings overlap, so they cannot be summed)
            timings["round_wall"] = round(time.perf_counter() - t0, 3)
        metrics = {
            "timings_sec": timings,
            "scheduled": n_pages,
            "links_found": n_links,
            "new_discoveries": n_disc,
            "frontier_size": n_frontier,
            "cooldown_events": cooldown_events or [],
            "active_cooldowns": sorted(
                h for h, e in cooldown.items() if e >= rnd
            ),
        }
        if self.job_group is not None:
            try:
                ids = set(self.spark.sparkContext.statusTracker()
                          .getJobIdsForGroup(self.job_group))
                metrics["spark_jobs"] = len(ids - self.prior_jobs)
            except Exception:
                pass  # diagnostics only — never fail a commit over it
        compiles = _codegen_compiles(self.spark)
        if self.prior_compiles is not None and compiles is not None:
            metrics["codegen_compiles"] = compiles - self.prior_compiles
        store.commit_round(rnd, metrics, lineage)
        stats.rounds += 1
        stats.pages += n_pages
        stats.links += n_links
        stats.discoveries += n_disc
        stats.per_round.append({"round": rnd, **metrics})
