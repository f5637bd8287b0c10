"""The crawl workloads and the layer replays of the traced run.

Every call into the engine goes through its public functions
(``run_crawl``, ``CrawlStore``, ``learn_outputs``, the operators), so
the benchmark measures each layer from outside; nothing here reaches
into ``crawler_spark`` internals.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field, replace

from perfbench import inputs as inp
from perfbench.measure import JobCounter, dir_size

# manifest phase timings (program-recorded, seconds) → per-layer names
MANIFEST_TIMINGS = {
    "round_wall": "driver.round_wall_s",
    "schedule": "driver.schedule_s",
    "extract_seen": "driver.extract_seen_s",
    "w_pages": "store.w_pages_s",
    "w_links": "store.w_links_s",
    "w_seen": "store.w_seen_s",
    "w_frontier": "store.w_frontier_s",
    "w_bloom": "store.w_bloom_s",
    "w_discoveries": "store.w_discoveries_s",
}

LEARN_PHASES = ("text", "sentiment", "summaries", "terms", "tags", "sites",
                "links", "canonicals")


def noop_write(df) -> None:
    df.write.mode("overwrite").format("noop").save()


@dataclass
class JobRecord:
    """One closed-loop job: its wall time and what it produced."""

    seconds: float
    pages: int = 0
    rounds: int = 0
    manifests: list = field(default_factory=list)
    counts: dict = field(default_factory=dict)  # spark jobs/stages/tasks
    round_jobs: list = field(default_factory=list)  # jobs per committed round
    problems: list = field(default_factory=list)


# -- crawl ---------------------------------------------------------------


def crawl(spark, corpus, ci: inp.CrawlInputs, root: str, tracer, tag: str
          ) -> JobRecord:
    """Run one job's ``run_crawl`` calls into a fresh store and read back
    what the store committed. Only the run_crawl calls are timed."""
    from crawler_spark.crawl.driver import run_crawl
    from crawler_spark.crawl.store import CrawlStore

    groups = [f"crawl-round-{r}" for r in range(ci.config.max_rounds)]
    counter = JobCounter(spark, groups + [tag])
    sc = spark.sparkContext
    t0 = time.perf_counter()
    for max_rounds, resume in ci.legs:
        # a group of our own for each call: jobs a crawl runs before its
        # first round would otherwise land in the previous call's last
        # crawl-round-<r> group
        sc.setJobGroup(tag, "perfbench crawl")
        with tracer.span("crawl.driver.run_crawl", max_rounds=max_rounds,
                         resume=resume):
            run_crawl(spark, corpus, ci.seeds,
                      replace(ci.config, max_rounds=max_rounds), root,
                      resume=resume, **ci.crawl_kw)
    seconds = time.perf_counter() - t0

    store = CrawlStore(spark, root)
    manifests = [store.read_manifest(r)["metrics"]
                 for r in store.committed_rounds()]
    new = counter.new_jobs()
    return JobRecord(
        seconds=seconds,
        pages=sum(m["scheduled"] for m in manifests),
        rounds=len(manifests),
        manifests=manifests,
        counts=counter.totals(),
        round_jobs=[len(new[g]) for g in groups[: len(manifests)]],
    )


def manifest_layers(records: list[JobRecord]) -> dict[str, float]:
    """Per-layer numbers the driver recorded in its round manifests,
    pooled over every round of every crawl given: mean phase time per
    round (means keep the digits that the manifests' 3-decimal rounding
    would otherwise make repeat), plus the benchmark's own job counts."""
    out: dict[str, float] = {}
    rounds = [m for rec in records for m in rec.manifests]
    for key, name in MANIFEST_TIMINGS.items():
        vals = [m["timings_sec"][key] for m in rounds if key in m["timings_sec"]]
        if vals:
            out[name] = statistics.fmean(vals)
    links = sum(m["links_found"] for m in rounds)
    new = sum(m["new_discoveries"] for m in rounds)
    out["driver.new_per_link"] = new / links if links else 0.0
    n_rounds = sum(rec.rounds for rec in records)
    out["driver.jobs_per_round"] = (
        sum(rec.counts["jobs"] for rec in records) / n_rounds
    )
    out["driver.tasks_per_round"] = (
        sum(rec.counts["tasks"] for rec in records) / n_rounds
    )
    secs = sum(rec.seconds for rec in records)
    out["driver.rounds_per_s"] = n_rounds / secs
    out["driver.pages_per_s"] = sum(rec.pages for rec in records) / secs
    return out


# -- the read side: learn + curate -----------------------------------------


def learn(store, corpus, tracer, layers: dict) -> None:
    """Materialize every ``learn_outputs`` phase in order; per-phase and
    total wall times go into ``layers``."""
    from crawler_spark.analytics.learn import learn_outputs

    t0 = time.perf_counter()
    with tracer.span("analytics.learn.learn_outputs"):
        outs = learn_outputs(store, corpus)
        for phase in LEARN_PHASES:
            t = time.perf_counter()
            with tracer.span(f"learn.{phase}"):
                noop_write(outs[phase])
            layers[f"learn.{phase}_s"] = time.perf_counter() - t
    layers["learn.total_s"] = time.perf_counter() - t0
    # learn_outputs caches its block extraction and never releases it
    outs["text"].unpersist()


def curate(store, tracer, layers: dict) -> None:
    """The curation chain over the store's page text (the shape
    ``scripts/run_curate.py --store`` runs): language ID → Gopher
    quality gate → guarded near-dup chain. Each stage is persisted and
    counted, so its time is its own; wall times go into ``layers``."""
    from pyspark.sql import functions as F

    from crawler_spark.operators.dedup import near_dup_curation
    from crawler_spark.operators.quality import gopher_quality_flags, language_id

    held = []

    def stage(name: str, span: str, build):
        t = time.perf_counter()
        with tracer.span(span):
            df = build().persist()
            held.append(df)
            n = df.count()
        layers[name] = time.perf_counter() - t
        return df, n

    t0 = time.perf_counter()
    base = (
        store.read_page_text()
        .where(F.col("text").isNotNull())
        .groupBy("url")
        .agg(F.max_by("text", "round").alias("text"))
        .select(F.xxhash64("url").alias("doc_id"), "text")
    )
    docs, n_in = stage(
        "quality.language_id_s", "operators.quality.language_id",
        lambda: base.join(language_id(base), "doc_id")
        .withColumnRenamed("pred_lang", "lang"),
    )
    kept, _ = stage(
        "quality.gopher_s", "operators.quality.gopher_quality_flags",
        lambda: docs.join(
            gopher_quality_flags(docs).where("keep").select("doc_id"),
            "doc_id", "left_semi",
        ),
    )
    _, n_out = stage(
        "dedup.near_dup_s", "operators.dedup.near_dup_curation",
        lambda: near_dup_curation(kept).select("doc_id", "text", "lang"),
    )
    layers["curate.total_s"] = time.perf_counter() - t0
    for df in held:
        df.unpersist()
    layers["dedup.kept_ratio"] = n_out / n_in if n_in else 0.0


# -- traced-run layer replays ----------------------------------------------


def replay_layers(spark, store, corpus, ci: inp.CrawlInputs, tracer,
                  scratch: str) -> dict[str, float]:
    """Replay one representative committed round's layer calls from the
    store, timing each call on its own: html extraction over the fetched
    pages, the scheduler over the frontier snapshot, the seen filter over
    the next round's links, and the store's read side."""
    from pyspark.sql import functions as F

    from crawler_spark.crawl.store import DISC_SCHEMA
    from crawler_spark.functions.html import extract_links_udf, extract_text_udf
    from crawler_spark.operators.allocate import allocate_budget
    from crawler_spark.operators.topk import topk_per_group, with_global_seq

    out: dict[str, float] = {}

    def timed(name: str, span: str, fn):
        t = time.perf_counter()
        with tracer.span(span):
            res = fn()
        out[name] = time.perf_counter() - t
        return res

    # -- crawl.store read side
    timed("store.read_pages_s", "crawl.store.read_pages",
          lambda: noop_write(store.read_pages()))
    timed("store.read_page_text_s", "crawl.store.read_page_text",
          lambda: noop_write(store.read_page_text()))
    out["store.bytes"], out["store.files"] = dir_size(store.root)

    # -- functions.html over every page the crawl fetched as html
    fetched = corpus.select("url", "html").join(
        store.read_pages().where(F.col("type") == "html").select("url"),
        "url", "left_semi",
    ).cache()
    n_html = fetched.count()
    timed("html.extract_text_s", "functions.html.extract_text_udf",
          lambda: noop_write(fetched.select(F.size(extract_text_udf("html")))))
    timed("html.extract_links_s", "functions.html.extract_links_udf",
          lambda: noop_write(
              fetched.select(F.size(extract_links_udf("html", "url")))))
    out["html.pages_per_s"] = n_html / (
        out["html.extract_text_s"] + out["html.extract_links_s"]
    )
    fetched.unpersist()

    # -- seen-filter class and geometry of the workload
    kind = ci.crawl_kw["seen_filter"]
    if kind == "cuckoo":
        from crawler_spark.operators.cuckoo import CuckooSeenSet as Filter

        geo = dict(n_buckets=ci.crawl_kw["bloom_buckets"],
                   m_entries=ci.crawl_kw["cuckoo_entries"])
        state = "tables"
    else:
        from crawler_spark.operators.seen import BloomSeenSet as Filter

        geo = dict(n_buckets=ci.crawl_kw["bloom_buckets"],
                   m_bits=ci.crawl_kw["bloom_bits"])
        state = "blooms"

    # -- the driver's end-of-round reload of a mid-crawl round: frontier
    # snapshot + seen filter. The manifests carry it only for a round
    # that follows another in the same run_crawl call, which the
    # one-round legs of round_churn never have
    rounds = store.committed_rounds()
    rnd = rounds[(len(rounds) - 1) // 2]
    frontier, filt = timed(
        "driver.reload_s", "crawl.store.reload",
        lambda: (store.read_snapshot("frontier", rnd, DISC_SCHEMA).cache(),
                 Filter.load(spark, store.table_round_path("bloom", rnd), **geo)),
    )

    # -- scheduler over that frontier snapshot
    n_frontier = frontier.count()
    budgets = {h: k for h, k in ci.config.budgets.items() if h != "*"}
    budget_df = spark.createDataFrame(
        sorted(budgets.items()) or [("__none__", 0)], "host string, _bk int"
    )
    eligible = frontier.join(F.broadcast(budget_df), "host", "left").withColumn(
        "_k", F.coalesce(F.col("_bk"), F.lit(ci.config.budgets.get("*", 1 << 30)))
    )

    def schedule():
        sched = topk_per_group(
            eligible, ["host"], ["disc_round", "disc_seq"], F.col("_k"), salt=8
        ).drop("_bk", "_k", "_rank")
        sched, _n = with_global_seq(
            sched, ["disc_round", "disc_seq"], out="seq",
            return_count=True, small_hint=n_frontier,
        )
        return sched.agg(F.max("seq")).collect()

    timed("topk.schedule_s", "operators.topk.schedule", schedule)
    next_scheduled = store.read_manifest(rnd + 1)["metrics"]["scheduled"]
    demand = eligible.groupBy("host", "_k").agg(F.count("*").alias("_p")).select(
        "host", F.least("_p", F.col("_k").cast("long")).alias("n_pending")
    )
    timed("allocate.grant_s", "operators.allocate.allocate_budget",
          lambda: allocate_budget(
              demand, ci.config.global_budget or next_scheduled,
              small_hint=n_frontier,
          ).collect())
    frontier.unpersist()

    # -- seen filter: the round's checkpoint probed with the next round's links
    cands = (
        store.read_links().where(F.col("round") == rnd + 1)
        .select("url").distinct().cache()
    )
    n_cands = cands.count()
    row = timed("seen.probe_s", f"operators.{kind}.probe",
                lambda: filt.probe(cands).agg(
                    F.sum(F.col("maybe_seen").cast("long")).alias("pos")
                ).collect()[0])
    out["seen.positive_ratio"] = (row["pos"] or 0) / n_cands if n_cands else 0.0
    added = filt.add(cands)
    grown = getattr(added, state).cache()
    timed("seen.add_s", f"operators.{kind}.add", grown.count)
    setattr(added, state, grown)
    ckpt = os.path.join(scratch, "seen-checkpoint")
    timed("seen.checkpoint_s", f"operators.{kind}.checkpoint",
          lambda: added.checkpoint(ckpt))
    grown.unpersist()
    cands.unpersist()
    shutil.rmtree(ckpt, ignore_errors=True)
    return out


# -- workloads -------------------------------------------------------------

PARTITIONS = 8  # of the cached corpus


class _NoTrace:
    @staticmethod
    def span(name, **attrs):
        from contextlib import nullcontext

        return nullcontext()


NO_TRACE = _NoTrace()


@dataclass
class State:
    """What a set-up leaves for the measured jobs."""

    ci: inp.CrawlInputs
    corpus: object  # cached Spark DataFrame
    want: inp.CrawlExpectation | None = None


class CrawlWorkload:
    """A crawl job: the workload's ``run_crawl`` call(s) into a fresh
    store, checked against the serial oracle.

    ``job_seconds`` is one warm job's closed-loop wall time on 4 vCPUs;
    it turns ``--seconds`` into a fixed job count, so every run does the
    same work whatever the machine's speed at the time."""

    def __init__(self, make_inputs, job_seconds: float):
        self.make_inputs = make_inputs
        self.job_seconds = job_seconds

    def jobs_for(self, seconds: float) -> int:
        return max(1, round(seconds / self.job_seconds))

    def setup(self, spark, seed: int) -> State:
        """Generate the inputs, build the corpus and fill its cache."""
        from crawler_spark.fixtures.doccorpus import corpus_from_documents

        ci = self.make_inputs(seed)
        if ci.docs is not None:
            docs = spark.createDataFrame(
                ci.docs, "doc_id long, text string, lang string")
            corpus = corpus_from_documents(docs, len(ci.docs))
        else:
            corpus = inp.spark_corpus(spark, ci.pages)
        corpus = corpus.repartition(PARTITIONS, "url").cache()
        corpus.count()
        return State(ci, corpus)

    def warm_up(self, spark, st: State, scratch: str) -> None:
        """One untimed job: it pays the cold costs of the first crawl in
        a JVM (code generation, the first Python workers)."""
        warm = os.path.join(scratch, "warm")
        crawl(spark, st.corpus, st.ci, warm, NO_TRACE, "perfbench-warm")
        shutil.rmtree(warm, ignore_errors=True)

    def expect(self, spark, st: State) -> None:
        """Run the serial oracle once over the same generated inputs."""
        pdf = st.ci.pages
        if pdf is None:
            pdf = st.corpus.select(
                "url", "html", "content_type", "status", "retry_after"
            ).toPandas()
        st.want = inp.crawl_expectation(pdf, st.ci)

    def job(self, spark, st: State, root: str, tracer, tag: str) -> JobRecord:
        from crawler_spark.crawl.store import CrawlStore

        rec = crawl(spark, st.corpus, st.ci, root, tracer, tag)
        rec.problems = inp.crawl_mismatches(CrawlStore(spark, root), st.want)
        return rec

    @staticmethod
    def end_to_end(recs: list[JobRecord]) -> dict[str, tuple[float, str]]:
        med = statistics.median
        return {
            "crawl_s": (med(r.seconds for r in recs), "s"),
            "pages_per_s": (med(r.pages / r.seconds for r in recs), "1/s"),
            "rounds_per_s": (med(r.rounds / r.seconds for r in recs), "1/s"),
        }
