#!/usr/bin/env python3
"""Crawl-engine benchmark: one closed-loop client against ``crawler_spark``.

    python3 perfbench/run.py --workload bulk_crawl --seed 1 --seconds 25 --trace 0

Run from the repository root. The process starts Spark on
``local[<cpus/2>]``, sets up the workload, warms up with an untimed job
and computes the serial oracle once (all of it timed as ``setup_s``),
then runs a fixed number of jobs, about ``--seconds`` worth, one after
another, checking every job's output.
``--trace 1`` instead does one untraced and one traced job and replays
every layer's public calls over the committed store, and reports the
per-layer metrics. The last stdout line is one JSON object. Everything
the run writes stays under ``.perfbench_work/`` (removed at exit) and
``.perfbench_out/`` (span dumps). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAP = "1g"


def _workloads():
    from perfbench import inputs as inp
    from perfbench.workloads import CrawlWorkload

    return {
        # few large rounds: extraction and the pages/links writes dominate
        "bulk_crawl": CrawlWorkload(
            lambda s: inp.docweb_inputs(s, n_docs=2400, n_seeds=128,
                                        budget=250, rounds=2),
            job_seconds=9.5,
        ),
        # many small rounds, stop + resume: per-round fixed cost dominates
        "round_churn": CrawlWorkload(
            lambda s: inp.churnweb_inputs(s, n_pages=600, global_budget=24,
                                          rounds=2),
            job_seconds=11.5,
        ),
    }


def _cores() -> tuple[int, int]:
    """(CPUs this process may use, Spark task slots). A pandas-UDF task
    keeps a JVM thread and a Python worker busy at once, so half as many
    slots as CPUs keeps the run from oversubscribing them."""
    cpus = len(os.sched_getaffinity(0))
    return cpus, max(1, cpus // 2)


def _prepare_env(work: str) -> None:
    """Before the JVM starts: Python workers must import crawler_spark
    from any cwd, and Spark's scratch space must stay in the checkout."""
    os.environ["PYTHONPATH"] = ROOT + (
        os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else ""
    )
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = HEAP


def _start_spark(work: str, cores: int):
    from crawler_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed, pre-touched heap: GC sizing heuristics would
            # otherwise vary heap growth (and so GC work and RSS) run to run
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
                f"-Xms{HEAP} -XX:+AlwaysPreTouch",
            # the job counters read finished jobs back from the status
            # store; the defaults (1000) would evict them mid-run
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        },
    )


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run(args, work: str) -> dict:
    from perfbench.measure import RssSampler, Tracer, jvm_pid
    from perfbench.workloads import NO_TRACE

    wl = _workloads()[args.workload]
    cpus, cores = _cores()
    # set-up: JVM start, inputs, corpus cache fill, warm-up and the oracle
    t0 = time.perf_counter()
    spark = _start_spark(work, cores)
    st = wl.setup(spark, args.seed)
    t1 = time.perf_counter()
    wl.warm_up(spark, st, work)
    t2 = time.perf_counter()
    wl.expect(spark, st)
    setup_s = time.perf_counter() - t0
    _log(f"cpus={cpus} local[{cores}] set-up: {setup_s:.2f}s (start + inputs {t1 - t0:.2f}s, "
         f"warm-up {t2 - t1:.2f}s, oracle {t0 + setup_s - t2:.2f}s)")

    attempted = failed = 0
    records = []

    def one_job(i: int, tracer):
        nonlocal attempted, failed
        spark.catalog.clearCache()  # isolate jobs from each other's caches
        st.corpus.cache().count()
        attempted += 1
        try:
            rec = wl.job(spark, st, os.path.join(work, f"job-{i}"), tracer,
                         f"perfbench-job-{i}")
        except Exception:
            failed += 1
            traceback.print_exc()
            return None
        if rec.problems:
            failed += 1
            _log(f"job {i} check failed: {rec.problems}")
        walls = [m["timings_sec"].get("round_wall") for m in rec.manifests]
        _log(f"job {i}: {rec.seconds:.2f}s pages={rec.pages} rounds={rec.rounds} "
             f"walls={walls} jobs/round={rec.round_jobs}")
        records.append(rec)
        return rec

    metrics: dict[str, dict] = {}
    with RssSampler(jvm_pid(spark)) as rss:
        rss.reset()
        if not args.trace:
            for i in range(wl.jobs_for(args.seconds)):
                one_job(i, NO_TRACE)
                shutil.rmtree(os.path.join(work, f"job-{i}"), ignore_errors=True)
            peak = rss.peak
            ok = [r for r in records if not r.problems]
            metrics["setup_s"] = _metric(setup_s, "s")
            if ok:
                for name, (value, unit) in wl.end_to_end(ok).items():
                    metrics[name] = _metric(value, unit)
            metrics["peak_rss_mb"] = _metric(peak, "MiB")
        else:
            base = one_job(0, NO_TRACE)
            shutil.rmtree(os.path.join(work, "job-0"), ignore_errors=True)
            tracer = Tracer(f"{args.workload}-seed{args.seed}-{os.getpid()}")
            traced = one_job(1, tracer)
            if base and traced:
                metrics.update(
                    _traced_metrics(spark, st, base, traced, tracer, work))
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(
                out_dir, f"trace-{args.workload}-seed{args.seed}.json"))

    _log(f"jobs={attempted} failed={failed}")
    return {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


UNITS = {"per_s": "1/s", "_s": "s", "bytes": "B", "ratio": "ratio",
         "per_link": "ratio"}


def _unit(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def _traced_metrics(spark, st, base, traced, tracer, work) -> dict:
    """Per-layer metrics: manifest numbers of the run's two crawls,
    replays of each layer's calls over the traced job's store (learn and
    curate included), Spark counters of the traced job, and the tracing
    overhead."""
    from crawler_spark.crawl.store import CrawlStore

    from perfbench.workloads import curate, learn, manifest_layers, replay_layers

    store = CrawlStore(spark, os.path.join(work, "job-1"))
    layers = manifest_layers([base, traced])
    with tracer.span("replay"):
        layers.update(replay_layers(spark, store, st.corpus, st.ci, tracer,
                                    work))
        learn(store, st.corpus, tracer, layers)
        curate(store, tracer, layers)
    for k, v in traced.counts.items():
        layers[f"spark.{k}"] = v
    layers["trace.overhead_s"] = traced.seconds - base.seconds
    layers["trace.spans"] = len(tracer.spans)
    return {k: _metric(v, _unit(k)) for k, v in sorted(layers.items())}


def _stop_jvm() -> None:
    """Stop Spark and wait for the driver JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("bulk_crawl", "round_churn"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "crawler_spark")):
        print(f"perfbench: no crawler_spark package under {ROOT}; run from "
              f"a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(work)
    try:
        result = run(args, work)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
