#!/usr/bin/env python
"""spark-submit entrypoint for the post-crawl learn tier.

The reference runs each analytics phase as its own CLI process over the
crawled pages (``index.ts:18-52``). Here all requested phases run in one
Spark application over the crawl store (the page text the crawl
extracted) + the corpus (read for canonicals only):

    spark-submit --master <cluster> --py-files crawler_spark.zip \\
        scripts/run_learn.py \\
        --store /data/crawl_store --corpus /data/corpus_parquet \\
        --out /data/learn --phases text,terms,tags,sites,links

Writes OUT/<phase>/ parquet per phase and prints one JSON line of row
counts. ``--flat-terms`` switches terms/tags from the trigram path
(``addTermFrequencies``) to flat-token TF (``splitTerms``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)
# executor python workers import from PYTHONPATH, not the driver's
# sys.path (see scripts/run_crawl.py); --py-files supersedes on a cluster
os.environ["PYTHONPATH"] = _REPO_ROOT + (
    os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else ""
)


def main() -> None:
    from crawler_spark.analytics.learn import PHASES

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--store", required=True, help="crawl store root")
    ap.add_argument("--corpus", required=True,
                    help="parquet dir (or bucketed table path) of the "
                         "Common-Crawl-style pages table the crawl ran on; "
                         "only the canonicals phase reads it (the others "
                         "read the store)")
    ap.add_argument("--out", required=True, help="output root (parquet)")
    ap.add_argument("--phases", default=",".join(PHASES),
                    help=f"comma list of {','.join(PHASES)}")
    ap.add_argument("--flat-terms", action="store_true",
                    help="flat-token TF instead of trigrams for terms/tags")
    ap.add_argument("--write-partitions", type=int, default=8,
                    help="files per phase output; 0 = natural partitioning")
    args = ap.parse_args()
    phases = [p.strip() for p in args.phases.split(",") if p.strip()]

    from crawler_spark import CrawlStore, get_spark
    from crawler_spark.analytics.learn import learn_outputs

    spark = get_spark("crawler-spark-learn")
    store = CrawlStore(spark, args.store)
    corpus = spark.read.parquet(args.corpus)
    outputs = learn_outputs(store, corpus, phases,
                            use_trigrams=not args.flat_terms)

    counts: dict[str, int] = {}
    for phase, df in outputs.items():
        if args.write_partitions > 0:
            df = df.coalesce(args.write_partitions)
        path = os.path.join(args.out, phase)
        df.write.mode("overwrite").parquet(path)
        counts[phase] = spark.read.parquet(path).count()
    print(json.dumps(counts))
    spark.stop()


if __name__ == "__main__":
    main()
