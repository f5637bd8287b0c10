"""Skew-safe per-group top-k and scalable global sequence numbering.

These are the two ordering primitives of the crawl scheduler (SURVEY §2.6
O1, §2.9 T2) — and generally useful relational operators.

``topk_per_group``
    The politeness budget: per host, keep the ``k`` highest-priority
    frontier rows. A plain ``row_number().over(Window.partitionBy(host))``
    puts an entire hot host in ONE task — the reference corpus
    deliberately gives one host ~40% of pages, and at 10^10-frontier scale
    a hot domain can hold billions of rows. We run two phases:

    1. salt each group into ``salt`` shards (``pmod(xxhash64(row
       content), S)`` — deterministic under task retries), rank within
       ``(group, shard)``, keep ``rank <= k`` — the survivor set per
       group is ≤ ``S·k`` rows but provably contains the true top-k;
    2. exact rank within ``group`` over survivors.

    Phase-2 partitions are bounded by ``S·k``, independent of group skew.

``with_global_seq``
    Deterministic dense 0-based enumeration of ALL rows by a total order —
    the crawl-order tiebreak. A global ``row_number`` window is a
    single-partition sort (the classic anti-pattern); instead:
    range-partition by the order key, count rows per partition (tiny
    driver-side prefix sum — one long per partition), then local
    ``row_number`` per partition + broadcast-joined offset. Fully parallel;
    the result does not depend on partition boundaries, only on the total
    order, so it is stable under repartitioning/AQE.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from crawler_spark.session import driver_frame


def topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str | Column],
    k: int | Column,
    salt: int = 8,
) -> DataFrame:
    """Keep the top-``k`` rows per group under ``order_cols`` (ascending).

    ``k`` may be a literal or a per-row Column (per-host budgets). The order
    must be total within each group for deterministic output (the crawl
    priority ``(disc_round, disc_seq)`` is unique). Output keeps input
    columns plus ``_rank`` (1-based within group).
    """
    k_col = F.lit(k) if isinstance(k, int) else k
    df = df.withColumn("_k", k_col)
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]

    if salt > 1:
        # Shard assignment has to SPREAD rows and be DETERMINISTIC per
        # row: phase 1 is a lossy filter feeding a shuffle, so a
        # nondeterministic id (monotonically_increasing_id) means a task
        # retry can re-assign shards mid-job and phase 2 sees a survivor
        # set mixing two assignments — rows dropped or ranked twice
        # (the SPARK-23207 hazard class). Hash the full input row
        # instead: retry-stable, and valid because the phase-2 exact
        # rank makes the OUTPUT invariant to which shard a row competed
        # in. order_cols may be sort expressions (not value
        # expressions, so not hashable directly); the input columns
        # subsume them. Fully duplicate rows share a shard — harmless
        # (identical rows are interchangeable in a top-k).
        in_cols = [c for c in df.columns if c != "_k"]
        shard = F.pmod(
            F.xxhash64(*[F.col(c) for c in in_cols]), F.lit(salt)
        )
        df = df.withColumn("_shard", shard)
        w1 = Window.partitionBy(*group_cols, "_shard").orderBy(*cols)
        df = (
            df.withColumn("_r1", F.row_number().over(w1))
            .where(F.col("_r1") <= F.col("_k"))
            .drop("_r1", "_shard")
        )

    w2 = Window.partitionBy(*group_cols).orderBy(*cols)
    return (
        df.withColumn("_rank", F.row_number().over(w2))
        .where(F.col("_rank") <= F.col("_k"))
        .drop("_k")
    )


def rrf_fuse(
    signals: list[DataFrame],
    key: str = "doc_id",
    score_col: str = "score",
    k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009, public algorithm) of
    several priority signals into one order: ``rrf = Σᵢ 1/(k + rankᵢ)``.

    The scheduler composition knob: PageRank/TrustRank, host reputation,
    freshness, and quality all emit incomparable score scales; RRF fuses
    them rank-wise, so no signal needs calibration and an outlier score
    cannot dominate. Each element of ``signals`` is ``(key, score_col)``
    rows; ranks are 1-based by score descending (ties → key ascending),
    a key missing from a signal contributes 0 (standard RRF over the
    key union).

    Scale shape: one :func:`with_global_seq` per signal (range-partition
    global sequence, never a single-partition window) + equi-joins on the
    uniform key. Contributions are added in list order, so the fused sum
    is deterministic for the oracle.
    """
    if not signals:
        raise ValueError("rrf_fuse needs at least one signal")
    fused: DataFrame | None = None
    contribs: list[str] = []
    for i, sig in enumerate(signals):
        ranked = with_global_seq(
            # a NULL score means "this signal knows nothing about the
            # key" — contribution 0, same as a key absent from the
            # signal. Without the filter, -NULL is NULL and the range
            # sort puts NULLS FIRST: rank 1, the MAXIMUM contribution,
            # inverting the documented semantics.
            sig.select(F.col(key), F.col(score_col).alias("_s"))
            .where(F.col("_s").isNotNull())
            .withColumn("_ns", -F.col("_s")),
            ["_ns", key],
            out="_seq",
        )
        col = f"_c{i}"
        contribs.append(col)
        part = ranked.select(
            F.col(key),
            (
                F.lit(1.0) / (F.lit(float(k)) + F.col("_seq") + F.lit(1))
            ).alias(col),
        )
        fused = part if fused is None else fused.join(part, key, "full")
    expr = F.coalesce(F.col(contribs[0]), F.lit(0.0))
    for c in contribs[1:]:
        expr = expr + F.coalesce(F.col(c), F.lit(0.0))
    return fused.select(key, expr.alias("rrf"))


def with_global_seq(
    df: DataFrame,
    order_cols: list[str],
    out: str = "seq",
    num_partitions: int | None = None,
    start: int = 0,
    return_count: bool = False,
    small_hint: int | None = None,
    small_max_rows: int = 4_000_000,
) -> DataFrame | tuple[DataFrame, int]:
    """Add a dense global 0-based (plus ``start``) sequence by total order.

    ``return_count=True`` also returns the exact row count, and freezes
    the result: it comes back cached (``.cache()``), so the count and
    every later reader see the same rows and the upstream chain runs
    once. The caller owns that cache and unpersists it. Callers then
    never need a separate ``count()`` job or a cache of their own.

    ``small_hint`` is a DRIVER-KNOWN upper bound on ``df``'s row count
    (e.g. the tracked frontier size bounds a crawl round's schedule).
    When the bound fits comfortably in one task (``<= small_max_rows``)
    the range machinery is skipped entirely: the sequence is a single
    global-order ``row_number``, and with ``return_count`` the count is
    the job that fills the result's cache — ONE Spark job instead of the
    range path's two (range-boundary sampling + per-partition offsets),
    with the upstream chain evaluated once. The deliberate
    single-partition window is safe BY the bound's contract; an
    over-optimistic hint degrades to one slow sort task, never to a
    wrong sequence. At 10^10-frontier scale rounds exceed the bound and
    the range-partitioned path engages unchanged.
    (This is one of the repo's two audited ``WindowExec: No Partition
    Defined`` warning sites — the warning fires exactly when
    ``small_hint <= small_max_rows`` certified the input as one-task
    sized; see BASELINE.md "WindowExec warnings ... pre-answered".)"""
    spark = df.sparkSession
    if small_hint is not None and small_hint <= small_max_rows:
        w = Window.orderBy(*order_cols)
        result = df.withColumn(
            out, (F.row_number().over(w) + F.lit(start - 1)).cast("long")
        )
        if return_count:
            result = result.cache()
            return result, result.count()
        return result
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    # Materialize BEFORE reading _pid: the counts job and the final window
    # job must see the SAME partition-id assignment. Without it, the two
    # jobs re-evaluate the range exchange independently and AQE may
    # coalesce them differently (and range-boundary sampling may differ),
    # silently mis-assigning offsets. localCheckpoint freezes the blocks
    # with truncated lineage, and the blocks are released by the
    # ContextCleaner when the DataFrame is garbage collected — no hidden
    # persist registry to drain, safe under concurrent callers. Trade: an
    # evicted block fails the job instead of silently recomputing into
    # different partitions. eager=False does not make it free: with AQE
    # on (Spark 4.1), building the checkpoint's RDD already runs its
    # upstream query stages (the range exchange's sampling and shuffle);
    # only the final stage waits for the counts job below.
    parted = (
        df.repartitionByRange(num_partitions, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    # one count per partition — tiny driver round-trip, NOT a data collect
    counts = {
        r["_pid"]: r["cnt"]
        for r in parted.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, acc = {}, start
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    offset_df = driver_frame(spark, offsets.items(), "_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    result = (
        parted.withColumn("_rn", F.row_number().over(w))
        .join(F.broadcast(offset_df), "_pid")
        .withColumn(out, (F.col("_off") + F.col("_rn") - F.lit(1)).cast("long"))
        .drop("_pid", "_rn", "_off")
    )
    if return_count:
        return result.cache(), sum(counts.values())
    return result
