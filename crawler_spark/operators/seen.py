"""Partitioned bloom-filter URL-seen set (SURVEY §2.4 J1, §2.7 D4).

The reference's seen set is "a row exists in ``pages``" probed per batch
with ``$in`` + a nested-loop anti-join (``storage.ts:90-106``). At
10^10-URL scale an exact anti-join of every round's discovered links
against all of ``pages`` shuffles the full history every round. This
operator front-loads a **partitioned bloom filter**:

- key space: ``xxhash64(canon_url)`` (computed JVM-side, no Python cost);
- hash space split into ``n_buckets`` buckets (``pmod(hash, B)``); each
  bucket owns an ``m_bits`` bitset with ``k`` derived hash functions
  (double hashing: ``pos_i = h1 + i*h2 mod m``);
- bitsets live in an ordinary DataFrame ``(bucket int, bits binary,
  n_items long)`` — checkpointed with the crawl round like any table;
- **build / merge / probe are all executed distributed** via
  ``applyInPandas`` / cogrouped ``applyInPandas`` on the bucket key —
  no driver-side collect of either the bitsets or the candidates.

Guarantees: zero false negatives (a bloom-negative candidate is DEFINITELY
unseen and skips the exact join); false positives are re-checked by an
exact anti-join against ``pages`` restricted to bloom-positive rows.
Property-tested in tests/test_seen.py.

Sizing: with the default ``m_bits = 2^20`` and ``k = 7`` a bucket holds
~100k URLs at ≈1% FP; at 10^10 URLs use ``n_buckets = 2^14`` (16 GiB of
bitset state across the cluster, 1 MiB per bucket task).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawler_spark.session import driver_frame

_GOLDEN = np.uint64(0x9E3779B97F4A7C15)

BLOOM_SCHEMA = "bucket int, bits binary, n_items long"


def _splitmix(z: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — decorrelates low bits before mod-2^k use.

    Without this, ``h2 = h1 * C`` preserves low-bit collisions mod a
    power-of-two ``m`` (if ``h1 ≡ h1' (mod m)`` then every derived
    position collides), degrading FP from ~1e-10 to ~n/m; it also keeps
    position bits correlated with the bucket id ``h mod B``.
    """
    z = z.copy()
    z ^= z >> np.uint64(30)
    z *= np.uint64(0xBF58476D1CE4E5B9)
    z ^= z >> np.uint64(27)
    z *= np.uint64(0x94D049BB133111EB)
    z ^= z >> np.uint64(31)
    return z


def _positions(h: np.ndarray, k: int, m_bits: int) -> np.ndarray:
    """(n, k) bit positions via double hashing over mixed streams."""
    h1 = _splitmix(h)
    h2 = _splitmix(h ^ _GOLDEN) | np.uint64(1)
    ii = np.arange(k, dtype=np.uint64)
    return (h1[:, None] + ii[None, :] * h2[:, None]) % np.uint64(m_bits)


def _set_bits(bits: np.ndarray, pos: np.ndarray) -> None:
    flat = pos.ravel()
    np.bitwise_or.at(bits, (flat >> np.uint64(3)).astype(np.int64),
                     (np.uint8(1) << (flat & np.uint64(7)).astype(np.uint8)))


def _test_bits(bits: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """(n,) bool — True when ALL k positions are set (maybe-seen)."""
    byte_idx = (pos >> np.uint64(3)).astype(np.int64)
    bit_msk = (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))
    hit = (bits[byte_idx] & bit_msk) != 0
    return hit.all(axis=1)


def _with_bucket_hash(df: DataFrame, url_col: str, n_buckets: int) -> DataFrame:
    h = F.xxhash64(F.col(url_col))
    return df.withColumn("_h", h).withColumn(
        "bucket", F.pmod(F.col("_h"), F.lit(n_buckets)).cast("int")
    )


def filter_unseen_via(
    seen_set,
    candidates: DataFrame,
    exact_seen: DataFrame | None = None,
    url_col: str = "url",
    seen_for_buckets=None,
) -> DataFrame:
    """Approximate-filter-prefiltered anti-join, shared by the bloom and
    cuckoo seen sets (both expose ``probe(candidates, url_col,
    keep_bucket)`` with a no-false-negative ``maybe_seen``): rows of
    ``candidates`` whose url is NOT in the seen set. Filter negatives
    bypass the join entirely; positives are re-checked exactly.

    Two build-side modes:

    - ``exact_seen``: a ready DataFrame of seen urls (full history
      scan each call — fine when the caller's history is small);
    - ``seen_for_buckets(buckets) -> DataFrame``: called with the
      sorted distinct filter-bucket ids of the POSITIVE candidates, so
      the callee can prune its seen-table scan to just those buckets
      (the scale path at 10^10 URLs: the build side shrinks from the
      full url history to the handful of bucket partitions that
      contain a filter positive). The probe output is localCheckpointed
      so computing the bucket list does not re-run the probe.
    """
    if (exact_seen is None) == (seen_for_buckets is None):
        raise ValueError(
            "exactly one of exact_seen / seen_for_buckets required"
        )
    keep_bucket = seen_for_buckets is not None
    probed = seen_set.probe(candidates, url_col, keep_bucket=keep_bucket)
    if keep_bucket:
        # freeze once: the bucket collect + both branches below reuse
        # the same probe pass instead of re-running the cogroup UDF.
        # eager=False is not lazy here: with AQE on (Spark 4.1) this
        # call already runs the probe's upstream query stages
        probed = probed.localCheckpoint(eager=False)
        buckets = sorted(
            r["bucket"]
            for r in probed.where(F.col("maybe_seen"))
            .select("bucket")
            .distinct()
            .collect()
        )
        exact_seen = seen_for_buckets(buckets)
        probed = probed.drop("bucket")
    fresh = probed.where(~F.col("maybe_seen")).drop("maybe_seen")
    suspect = probed.where(F.col("maybe_seen")).drop("maybe_seen")
    rechecked = suspect.join(
        exact_seen.select(F.col(url_col).alias("__seen_url")),
        suspect[url_col] == F.col("__seen_url"),
        "left_anti",
    )
    return fresh.unionByName(rechecked)


class BloomSeenSet:
    """Handle over a bloom DataFrame; immutable — ops return new handles."""

    def __init__(
        self,
        blooms: DataFrame,
        n_buckets: int = 64,
        m_bits: int = 1 << 20,
        k_hashes: int = 7,
    ):
        self.blooms = blooms
        self.n_buckets = n_buckets
        self.m_bits = m_bits
        self.k_hashes = k_hashes

    # -- construction ------------------------------------------------------

    @classmethod
    def empty(
        cls, spark, n_buckets: int = 64, m_bits: int = 1 << 20, k_hashes: int = 7
    ) -> "BloomSeenSet":
        return cls(
            driver_frame(spark, [], BLOOM_SCHEMA), n_buckets, m_bits, k_hashes
        )

    @classmethod
    def build(
        cls,
        df: DataFrame,
        url_col: str = "url",
        n_buckets: int = 64,
        m_bits: int = 1 << 20,
        k_hashes: int = 7,
    ) -> "BloomSeenSet":
        empty = cls.empty(df.sparkSession, n_buckets, m_bits, k_hashes)
        return empty.add(df, url_col)

    # -- mutation (returns a new handle) ----------------------------------

    def add(self, df: DataFrame, url_col: str = "url") -> "BloomSeenSet":
        """OR the urls of ``df`` into the filter (distributed, per bucket)."""
        m_bits, k = self.m_bits, self.k_hashes
        hashes = _with_bucket_hash(df, url_col, self.n_buckets).select(
            "bucket", "_h"
        )

        def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            # left: new hashes for this bucket; right: existing bloom row
            if left.empty:
                return right[["bucket", "bits", "n_items"]]
            bucket = int(left["bucket"].iloc[0])
            if right.empty:
                bits = np.zeros(m_bits // 8, dtype=np.uint8)
                n0 = 0
            else:
                bits = np.frombuffer(right["bits"].iloc[0], dtype=np.uint8).copy()
                n0 = int(right["n_items"].iloc[0])
            h = left["_h"].to_numpy(dtype=np.int64).astype(np.uint64)
            _set_bits(bits, _positions(h, k, m_bits))
            return pd.DataFrame(
                {"bucket": [bucket], "bits": [bits.tobytes()],
                 "n_items": [n0 + len(h)]}
            )

        merged = (
            hashes.groupBy("bucket")
            .cogroup(self.blooms.groupBy("bucket"))
            .applyInPandas(merge, BLOOM_SCHEMA)
        )
        return BloomSeenSet(merged, self.n_buckets, self.m_bits, self.k_hashes)

    # -- probe -------------------------------------------------------------

    def probe(
        self,
        candidates: DataFrame,
        url_col: str = "url",
        keep_bucket: bool = False,
    ) -> DataFrame:
        """Return ``candidates`` + boolean ``maybe_seen``.

        ``maybe_seen = False`` rows are guaranteed-unseen (no false
        negatives); ``True`` rows need the exact anti-join re-check.
        ``keep_bucket=True`` also returns the bloom bucket id — the key
        for partition-pruned exact re-checks.
        """
        m_bits, k = self.m_bits, self.k_hashes
        with_b = _with_bucket_hash(candidates, url_col, self.n_buckets)
        in_cols = [f.name for f in candidates.schema.fields]
        if keep_bucket:
            in_cols = in_cols + ["bucket"]
        out_schema = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in candidates.schema.fields
        ) + (", bucket int" if keep_bucket else "") + ", maybe_seen boolean"

        def probe_fn(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if left.empty:
                out = left[in_cols].copy()
                out["maybe_seen"] = pd.Series([], dtype=bool)
                return out
            out = left[in_cols].copy()
            if right.empty:
                out["maybe_seen"] = False
                return out
            bits = np.frombuffer(right["bits"].iloc[0], dtype=np.uint8)
            h = left["_h"].to_numpy(dtype=np.int64).astype(np.uint64)
            out["maybe_seen"] = _test_bits(bits, _positions(h, k, m_bits))
            return out

        return (
            with_b.groupBy("bucket")
            .cogroup(self.blooms.groupBy("bucket"))
            .applyInPandas(probe_fn, out_schema)
        )

    def filter_unseen(
        self,
        candidates: DataFrame,
        exact_seen: DataFrame | None = None,
        url_col: str = "url",
        seen_for_buckets=None,
    ) -> DataFrame:
        """Bloom-prefiltered anti-join — see :func:`filter_unseen_via`."""
        return filter_unseen_via(
            self, candidates, exact_seen, url_col, seen_for_buckets
        )

    # -- persistence -------------------------------------------------------

    def checkpoint(self, path: str) -> None:
        self.blooms.write.mode("overwrite").parquet(path)

    @classmethod
    def load(
        cls, spark, path: str, n_buckets: int = 64, m_bits: int = 1 << 20,
        k_hashes: int = 7,
    ) -> "BloomSeenSet":
        return cls(spark.read.schema(BLOOM_SCHEMA).parquet(path),
                   n_buckets, m_bits, k_hashes)
