"""Global round-budget apportionment across hosts.

The reference crawler caps work per host with a fixed per-round budget
(``crawl.ts:12`` — 5 workers; per-host politeness in this rebuild is
``crawl/driver.py``'s skew-salted top-k). A cluster-scale frontier needs
the complementary knob: ONE global page budget per round (fetch capacity
of the whole fleet) apportioned across hosts by weight — pending mass,
host reputation, or any score — so a million-host frontier fills the
round exactly without any host starving on integer truncation.

``allocate_budget`` implements largest-remainder (Hamilton)
apportionment: every host first gets ``floor(B * w / W)`` units, then the
``B - Σfloor`` leftover units go one each to the largest fractional
remainders (ties → host ascending). Deterministic, one pass, exact total.

Scale shape: runs on the HOST table (dimension-sized — ~10^7-10^8 rows at
a 10^10-URL frontier, orders of magnitude below the corpus). Two scalar
aggregates (total weight, total floor) are O(1) driver round-trips; the
remainder ranking reuses :func:`operators.topk.with_global_seq`, the
range-partitioned global sequence — no single-partition window anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawler_spark.operators.topk import with_global_seq
from crawler_spark.session import driver_frame


def allocate_budget(
    pending: DataFrame,
    total_budget: int,
    host_col: str = "host",
    pending_col: str = "n_pending",
    weight_col: str | None = None,
    small_hint: int | None = None,
    small_max_rows: int = 200_000,
) -> DataFrame:
    """Apportion ``total_budget`` fetch slots across hosts.

    ``pending`` carries one row per host: ``host_col``, ``pending_col``
    (how many URLs the host has queued) and optionally ``weight_col``
    (apportionment weight — defaults to the pending count itself).

    Returns ``(host, n_pending, alloc, granted)``:

    - ``alloc``: the Hamilton share — ``Σ alloc == total_budget`` exactly
      whenever any positive weight exists.
    - ``granted``: ``least(alloc, n_pending)`` — a host cannot consume
      more slots than it has queued. Unconsumed units roll to the next
      round rather than re-apportioning (a second pass would make the
      round's scheduling iterative; the frontier loop already re-runs
      allocation every round, so the roll-over is self-correcting).

    Hosts with zero/negative/null weight take no part in apportionment
    and get ``alloc = 0``.

    ``small_hint`` is a DRIVER-KNOWN upper bound on the host-table row
    count (the crawl driver passes its tracked frontier size — hosts can
    never outnumber frontier urls). When it fits ``small_max_rows`` the
    whole apportionment runs driver-side off ONE collect — replacing the
    distributed path's two scalar-aggregate jobs plus the global-seq
    ranking job. Bit-exact with the distributed path for integral-valued
    weights (the driver's shape — pending counts and integer-scaled
    reputations): the quota arithmetic is the same IEEE-double
    expression, integral sums below 2^53 are order-independent, and the
    remainder order breaks ties on host exactly like the range-partition
    sort. With FRACTIONAL weights neither path has a deterministic sum
    order (Spark's ``sum`` folds in partition order), so a last-ulp
    difference in the weight total can flip a floor() at an exact quota
    boundary between paths; the driver path uses ``math.fsum`` to stay
    within one rounding of the true total. Null weight → dead host
    (alloc 0), null pending → 0, identically on both paths. Genuinely huge host dimensions (10^7+ hosts at a 10^10-URL
    frontier) exceed the bound and keep the distributed path.
    """
    w = (
        F.col(weight_col) if weight_col else F.col(pending_col)
    ).cast("double")
    base_cols = [
        F.col(host_col).alias("host"),
        # nulls normalized HERE so both paths see the same table: a null
        # weight is a dead host (alloc 0), a null pending grants 0 —
        # without the coalesce the distributed dead-filter ~(_w > 0)
        # evaluates NULL and silently drops the host while the driver
        # path keeps it.
        F.coalesce(F.col(pending_col).cast("long"), F.lit(0)).alias(
            "n_pending"
        ),
        F.coalesce(w, F.lit(0.0)).alias("_w"),
    ]
    t = pending.select(*base_cols)
    if small_hint is not None and small_hint <= small_max_rows:
        return _allocate_driver_side(t, total_budget)
    live = t.where(F.col("_w") > 0)
    dead = t.where(~(F.col("_w") > 0)).select(
        "host", "n_pending", F.lit(0).cast("long").alias("alloc")
    )

    total_w = live.agg(F.sum("_w")).collect()[0][0]
    if not total_w:
        return dead.withColumn(
            "granted", F.least("alloc", "n_pending").cast("long")
        )

    # quota in the same operation order as the oracle: (B * w) / W
    quota = F.lit(float(total_budget)) * F.col("_w") / F.lit(float(total_w))
    based = live.select(
        "host",
        "n_pending",
        F.floor(quota).alias("_base"),
        (quota - F.floor(quota)).alias("_rem"),
    )
    sum_base = based.agg(F.sum("_base")).collect()[0][0] or 0
    leftover = max(0, int(total_budget) - int(sum_base))

    seqd = with_global_seq(
        based.withColumn("_nrem", -F.col("_rem")),
        ["_nrem", "host"],
        out="_seq",
    )
    alloc = (
        F.col("_base")
        + F.when(F.col("_seq") < F.lit(leftover), F.lit(1)).otherwise(0)
    ).cast("long")
    out = seqd.select("host", "n_pending", alloc.alias("alloc"))
    return out.unionByName(dead).withColumn(
        "granted", F.least("alloc", "n_pending").cast("long")
    )


def _allocate_driver_side(t: DataFrame, total_budget: int) -> DataFrame:
    """Hamilton apportionment off one collect — the bounded-small path.

    Same IEEE-double expression per step as the distributed path (and the
    serial oracle ``crawloracle.hamilton_grants``): quota = B·w/W, floor
    first, leftover units to the largest remainders (ties → host
    ascending), grant capped at pending."""
    import math

    rows = [(r["host"], int(r["n_pending"] or 0), float(r["_w"] or 0.0))
            for r in t.collect()]
    live = [(h, p, w) for h, p, w in rows if w > 0]
    total_w = math.fsum(w for _, _, w in live)
    alloc: dict[str, int] = {h: 0 for h, _, _ in rows}
    if live and total_w > 0:
        base: dict[str, int] = {}
        rem: dict[str, float] = {}
        for h, _, w in live:
            quota = float(total_budget) * w / total_w
            base[h] = int(math.floor(quota))
            rem[h] = quota - math.floor(quota)
        leftover = max(0, int(total_budget) - sum(base.values()))
        order = sorted(base, key=lambda h: (-rem[h], h))
        for i, h in enumerate(order):
            alloc[h] = base[h] + (1 if i < leftover else 0)
    out = [(h, p, alloc[h], min(alloc[h], p)) for h, p, _ in rows]
    return driver_frame(
        t.sparkSession, out,
        "host string, n_pending long, alloc long, granted long",
    )
