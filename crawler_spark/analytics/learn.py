"""Post-crawl learn tier — the reference CLI's analytics phases over a
completed crawl store.

The reference runs its text analytics as separate CLI entry points over
the pages collection written by ``crawl`` (``index.ts:18-52``:
``collectText``, ``summarizeText``, ``addSentiment``,
``addTermFrequencies``, ``addPageTags``, ``splitTerms``, ``createSites``,
plus ``linkCount`` in ``reconfigure.ts:55-62``). This module is that
surface for the Spark engine: one composition over ``CrawlStore`` + the
fetch corpus that yields every phase as a DataFrame, so a single
spark-submit job (``scripts/run_learn.py``) replaces the reference's
phase-per-process loop and Catalyst fuses what can be fused.

Input contract: the block-level phases (text, sentiment, summaries,
terms, tags) read the store's ``pages.text`` column, which the crawl
writes as the page's extracted blocks joined with ``"\\n"``. Splitting it
gives the blocks back losslessly: ``clean_text`` collapses every
whitespace run, so no block holds a newline, and every kept block has
at least two words, so none is empty (tests/test_learn.py checks the
split against a re-extraction). Only ``canonicals`` reads the corpus
``html``; host/link phases read the store tables directly.

Scale shape: no phase re-parses a page. The block phases group the
pages table by url once (latest fetch wins) and explode the text; the
only corpus-sized operation is ``canonicals``' ``url`` semi-join
selecting fetched pages. On a bucketed corpus (``crawl/corpus.py``) that
join is one-sided — the corpus side has NO exchange; only the
(crawl-sized) url list shuffles. Everything downstream is keyed by url,
the natural partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawler_spark.analytics.text_tier import (
    block_sentiment,
    link_counts,
    page_summaries,
    page_tags,
    page_term_scores,
    sites,
)
from crawler_spark.crawl.store import CrawlStore

#: phase name -> reference entry point it reproduces
PHASES = {
    "text": "collectText (learn.ts:140-222)",
    "sentiment": "addSentiment (learn.ts:224-320 path)",
    "summaries": "summarizeText (learn.ts:140-222 summary leg)",
    "terms": "addTermFrequencies (learn.ts:322-385)",
    "tags": "addPageTags (learn.ts:387-426)",
    "sites": "createSites (learn.ts:538-554)",
    "links": "linkCount (reconfigure.ts:55-62)",
    # north-rule extension — the reference has no canonical handling
    # (page.ts extracts anchors only): per-page rel=canonical
    # declarations extracted from the fetched html, chains/cycles
    # resolved by operators.redirects.canonical_collapse
    "canonicals": "rel=canonical collapse (extension; no reference phase)",
}


def fetched_pages_html(store: CrawlStore, corpus: DataFrame) -> DataFrame:
    """(url, html) for every page the crawl fetched as html.

    Semi-join keeps the corpus side prunable (column-pruned to two
    columns; zero exchange when the corpus is bucketed by url).
    """
    urls = (
        store.read_pages()
        .where(F.col("type") == "html")
        .select("url")
        .distinct()
    )
    return corpus.select("url", "html").join(urls, "url", "left_semi")


def learn_outputs(
    store: CrawlStore,
    corpus: DataFrame,
    phases: list[str] | tuple[str, ...] = tuple(PHASES),
    use_trigrams: bool = True,
) -> dict[str, DataFrame]:
    """Every requested phase as a DataFrame. The block phases read the
    crawl's stored text (no html parse), and nothing is persisted.

    ``use_trigrams`` mirrors ``addTermFrequencies``'s trigram path;
    ``False`` gives ``splitTerms``-style flat-token TF. ``corpus`` is
    read only by ``canonicals``.
    """
    unknown = sorted(set(phases) - set(PHASES))
    if unknown:
        raise ValueError(f"unknown learn phase(s): {unknown}")
    want = [p for p in PHASES if p in set(phases)]  # canonical order
    out: dict[str, DataFrame] = {}

    # (url, block_idx, text): the stored text is the blocks "\n"-joined,
    # and the "" of a page without blocks splits to [""], which is dropped
    pages = store.latest_page_text()
    blocks = pages.select(
        "url",
        F.posexplode(
            F.filter(F.split("text", "\n"), lambda b: b != "")
        ).alias("block_idx", "text"),
    )
    if "text" in want:
        out["text"] = blocks
    if "sentiment" in want:
        out["sentiment"] = block_sentiment(blocks)
    if "summaries" in want:
        out["summaries"] = page_summaries(blocks, all_urls=pages.select("url"))
    if "terms" in want or "tags" in want:
        terms = page_term_scores(blocks, use_trigrams=use_trigrams)
        if "terms" in want:
            out["terms"] = terms.select("url", "term", "score")
        if "tags" in want:
            out["tags"] = page_tags(terms)
    if "canonicals" in want:
        from crawler_spark.functions.html import extract_canonical_udf
        from crawler_spark.operators.redirects import canonical_collapse

        decl = fetched_pages_html(store, corpus).select(
            "url",
            extract_canonical_udf("html", "url").alias("canonical"),
        )
        out["canonicals"] = canonical_collapse(decl).select(
            "url", "target", "canonical_hops", "canonical_cycle"
        )
    if "sites" in want:
        out["sites"] = sites(store.read_pages())
    if "links" in want:
        out["links"] = link_counts(store.read_links())
    return out
