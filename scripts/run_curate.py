#!/usr/bin/env python
"""spark-submit entrypoint for the training-data curation tier.

Completes the product loop's third leg (crawl → learn → **curate**):
one Spark job takes a documents table — or a finished crawl store —
through the quality gate, the guarded near-dup chain, a deterministic
per-language sample, and the training-shard export:

    spark-submit --master <cluster> --py-files crawler_spark.zip \\
        scripts/run_curate.py \\
        --docs /data/documents_parquet --out /data/curated \\
        --min-words 50 --near-dup-threshold 0.7 \\
        --sample-rate 100 --shard-tokens 1000000 --format parquet

or, straight off a crawl (doc_id = xxhash64(url); language filled by
the heuristic language-ID operator since the store's pages carry none):

    spark-submit ... scripts/run_curate.py \\
        --store /data/crawl_store --out /data/curated --shard-tokens 500000

Stages (each skippable):

- **quality**: Gopher-style format rules (`gopher_quality_flags`,
  Rae et al. 2021 §A1.1) — `--min-words`, off with `--no-quality`.
- **near-dedup**: the guarded chain (`near_dup_curation`: exact dedup →
  capped-bucket minhash-LSH → connected components → min-id survivors;
  the configuration a 100 TB pass runs) — `--near-dup-threshold`,
  `--max-bucket-size`, off with `--no-near-dedup`. Cap-hit counters are
  reported in the output line.
- **semantic-dedup** (needs `--embeddings`): SemDeDup (Abbas et al.
  2023) over the doc embeddings — cell-confined cosine pairs, min-id
  survivors (`--semantic-threshold`, `--semantic-cells`). Docs WITHOUT
  an embedding row are never dropped (conservative: absence of evidence
  keeps the doc).
- **cluster-balance** (needs `--embeddings`): D4-style diversification
  (Tirumala et al. 2023) — k-means codebook trained on the surviving
  docs' embeddings (`operators.cluster.kmeans_fit`), cells rebalanced
  toward share^alpha with the deterministic temperature sampler
  (`--cluster-alpha`, `--cluster-k`; embedding-less docs kept).
- **sample**: deterministic per-language subsample (md5-keyed, a pure
  function of (doc_id, salt) — retries select the SAME docs) —
  `--sample-rate` integer percent, 100 = keep all.
- **export**: `OUT/curated/` parquet always; with `--shard-tokens N`
  also the deterministic `lang=…/shard_id=…` training shards under
  `OUT/shards/` (`--format parquet|jsonl`).

Prints ONE JSON line: per-stage row counts, cap-hit diagnostics, and
the shard manifest.
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
    ap = argparse.ArgumentParser(description=__doc__)
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--docs", help="documents parquet "
                                    "(doc_id long, text string, lang string)")
    src.add_argument("--store", help="crawl store root — curate the crawl's "
                                     "page text (doc_id = xxhash64(url), "
                                     "lang from the language-ID operator)")
    ap.add_argument("--out", required=True, help="output root")
    ap.add_argument("--min-words", type=int, default=50,
                    help="Gopher gate minimum word count")
    ap.add_argument("--no-quality", action="store_true")
    ap.add_argument("--near-dup-threshold", type=float, default=0.7,
                    help="minhash est-jaccard threshold for the chain")
    ap.add_argument("--max-bucket-size", type=int, default=10000,
                    help="LSH mega-bucket guard for the chain")
    ap.add_argument("--no-near-dedup", action="store_true")
    ap.add_argument("--embeddings",
                    help="doc embeddings parquet ((doc_id|vec_id) long, "
                         "embedding array<float>) for the semantic stages")
    ap.add_argument("--semantic-threshold", type=float, default=0.0,
                    help="SemDeDup cosine threshold (0 = stage off)")
    ap.add_argument("--semantic-cells", type=int, default=64,
                    help="SemDeDup cell count")
    ap.add_argument("--cluster-alpha", type=float, default=0.0,
                    help="cluster-balance share^alpha exponent "
                         "(0 = stage off; 1 keeps natural proportions)")
    ap.add_argument("--cluster-k", type=int, default=16,
                    help="k-means codebook size (needs >= k embedded docs)")
    ap.add_argument("--cluster-iter", type=int, default=3,
                    help="k-means Lloyd iterations")
    ap.add_argument("--sample-rate", type=int, default=100,
                    help="per-language keep percent (deterministic)")
    ap.add_argument("--sample-salt", default="curate")
    ap.add_argument("--shard-tokens", type=int, default=0,
                    help="token budget per training shard; 0 = no shards")
    ap.add_argument("--format", choices=("parquet", "jsonl"),
                    default="parquet", help="shard sink format")
    ap.add_argument("--write-partitions", type=int, default=8,
                    help="files for OUT/curated; 0 = natural partitioning")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from crawler_spark import CrawlStore, get_spark
    from crawler_spark.operators.dedup import near_dup_curation
    from crawler_spark.operators.packing import export_jsonl, export_shards
    from crawler_spark.operators.quality import (
        gopher_quality_flags,
        language_id,
    )
    from crawler_spark.operators.scrub import stratified_sample

    spark = get_spark("crawler-spark-curate")
    out: dict = {}
    if args.docs:
        docs = spark.read.parquet(args.docs).select("doc_id", "text", "lang")
    else:
        # one text per url (latest fetch wins) keeps doc_id unique
        base = (
            CrawlStore(spark, args.store).latest_page_text()
            .select(F.xxhash64("url").alias("doc_id"), "text")
        )
        docs = base.join(
            language_id(base), "doc_id"
        ).withColumnRenamed("pred_lang", "lang")

    def advance(prev, new, key):
        # each stage is consumed by the next stage's build, its own
        # count, AND the final writes — persist so the guarded dedup
        # chain executes once, not once per downstream action
        new = new.persist()
        out[key] = new.count()
        out["curated_docs"] = out[key]  # last stage wins
        if prev is not None:
            prev.unpersist()
        return new

    docs = advance(None, docs, "input_docs")

    if not args.no_quality:
        kept = gopher_quality_flags(docs, min_words=args.min_words).where(
            "keep"
        ).select("doc_id")
        docs = advance(docs, docs.join(kept, "doc_id", "left_semi"),
                       "after_quality")

    if not args.no_near_dedup:
        caps: dict = {}
        deduped = near_dup_curation(
            docs,
            threshold=args.near_dup_threshold,
            max_bucket_size=args.max_bucket_size,
            cap_stats=caps,
        ).select("doc_id", "text", "lang")
        docs = advance(docs, deduped, "after_near_dedup")
        out["cap_hits"] = caps

    emb = None
    if args.semantic_threshold or args.cluster_alpha:
        if not args.embeddings:
            ap.error("--semantic-threshold/--cluster-alpha need --embeddings")
        emb = spark.read.parquet(args.embeddings)
        if "doc_id" not in emb.columns:
            emb = emb.withColumnRenamed("vec_id", "doc_id")
        emb = emb.select("doc_id", "embedding")

    def keep_with_unembedded(current, kept_ids):
        # a doc with no embedding row is never dropped by an
        # embedding-driven stage — absence of evidence keeps the doc
        no_emb = current.join(emb, "doc_id", "left_anti").select("doc_id")
        return current.join(
            kept_ids.unionByName(no_emb), "doc_id", "left_semi"
        )

    if args.semantic_threshold:
        from crawler_spark.operators.similarity import semantic_dedup

        emb_cur = emb.join(docs.select("doc_id"), "doc_id", "left_semi")
        survivors = semantic_dedup(
            emb_cur,
            threshold=args.semantic_threshold,
            n_cells=args.semantic_cells,
            id_col="doc_id",
        ).select("doc_id")
        docs = advance(
            docs, keep_with_unembedded(docs, survivors), "after_semantic"
        )

    if args.cluster_alpha:
        from crawler_spark.operators.cluster import kmeans_fit
        from crawler_spark.operators.scrub import temperature_sample
        from crawler_spark.operators.similarity import ivf_assign

        emb_cur = emb.join(docs.select("doc_id"), "doc_id", "left_semi")
        cents = kmeans_fit(
            emb_cur, k=args.cluster_k, n_iter=args.cluster_iter,
            id_col="doc_id",
        )
        cells = ivf_assign(emb_cur, cents, id_col="doc_id").select(
            "doc_id", "cell"
        )
        kept = temperature_sample(
            cells, "doc_id", "cell", alpha=args.cluster_alpha,
            salt=args.sample_salt + "/cluster",
        ).select("doc_id")
        docs = advance(
            docs, keep_with_unembedded(docs, kept), "after_cluster_balance"
        )

    if args.sample_rate < 100:
        docs = advance(
            docs,
            stratified_sample(
                docs, "doc_id", strata_col="lang", rates={},
                default_rate=args.sample_rate, salt=args.sample_salt,
            ),
            "after_sample",
        )

    curated = docs
    if args.write_partitions:
        curated = curated.repartition(args.write_partitions, "doc_id")
    curated.write.mode("overwrite").parquet(
        os.path.join(args.out, "curated")
    )
    if args.shard_tokens:
        sink = export_jsonl if args.format == "jsonl" else export_shards
        out["shards"] = sink(
            docs, os.path.join(args.out, "shards"), args.shard_tokens
        )
        out["shard_format"] = args.format

    print(json.dumps(out, sort_keys=True))
    spark.stop()


if __name__ == "__main__":
    main()
