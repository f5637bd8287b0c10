"""Bucketed approximate URL-seen sets (SURVEY §2.4 J1, §2.7 D4).

The reference's seen set is "a row exists in ``pages``" probed per batch
with ``$in`` + a nested-loop anti-join (``storage.ts:90-106``). At
10^10-URL scale an exact anti-join of every round's discovered links
against all of ``pages`` shuffles the full history every round. This
module front-loads a **partitioned approximate filter**, in one layer
that two filters share (``BucketedSeenSet``):

- key space: ``xxhash64(canon_url)`` (computed JVM-side, no Python cost);
- hash space split into ``n_buckets`` buckets (``pmod(hash, B)``);
- state lives in an ordinary DataFrame ``(bucket int, <payload> binary,
  n_items long)``, one row per non-empty bucket — checkpointed with the
  crawl round like any table;
- **update / probe are executed distributed** via cogrouped
  ``applyInPandas`` on the bucket key — no driver-side collect of either
  the filter state or the candidates.

A filter brings only its per-bucket kernels: ``BloomSeenSet`` (here) an
``m_bits`` bitset with ``k`` derived hash functions (double hashing:
``pos_i = h1 + i*h2 mod m``); ``operators.cuckoo.CuckooSeenSet`` a
cuckoo table, which can also delete.

Guarantees: zero false negatives (a filter-negative candidate is
DEFINITELY unseen and skips the exact join); false positives are
re-checked by an exact anti-join against the seen log restricted to the
buckets holding a positive (``filter_unseen``). Tested in
tests/test_operators_core.py and tests/test_cuckoo.py.

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


def _state_alias() -> property:
    """The state DataFrame under the name a filter's callers know it by."""
    return property(lambda s: s.state, lambda s, df: setattr(s, "state", df))


class BucketedSeenSet:
    """Handle over one filter's bucketed state; immutable — ops return
    new handles.

    A subclass names its ``schema`` and ``payload`` column, passes its
    geometry to ``__init__`` as keywords (each becomes an attribute,
    and ``geometry`` keeps them for new handles), and supplies the
    per-bucket kernels:

    - ``_add_kernel()`` → ``(bucket, payload | None, n_items, hashes)
      -> (payload, n_items)``, applied by :meth:`_update` to each bucket
      a batch hashes to (``None``: the bucket has no row yet);
    - ``_contains()`` → ``(payload, hashes) -> bool[]``, applied by
      :meth:`probe` to each bucket that has a row.

    The kernels bind the geometry to locals: a UDF closure must not
    capture ``self`` (it holds a DataFrame and cannot serialize to the
    executors)."""

    schema: str
    payload: str
    dedupe_batch = False  # mutate once per distinct url of a batch

    def __init__(self, state: DataFrame, **geometry):
        self.state = state
        self.geometry = geometry
        for name, value in geometry.items():
            setattr(self, name, value)

    # -- construction and persistence --------------------------------------

    @classmethod
    def empty(cls, spark, *args, **geometry):
        return cls(driver_frame(spark, [], cls.schema), *args, **geometry)

    @classmethod
    def build(cls, df: DataFrame, url_col: str = "url", **geometry):
        return cls.empty(df.sparkSession, **geometry).add(df, url_col)

    @classmethod
    def load(cls, spark, path: str, *args, **geometry):
        return cls(spark.read.schema(cls.schema).parquet(path), *args,
                   **geometry)

    def checkpoint(self, path: str) -> None:
        self.state.write.mode("overwrite").parquet(path)

    # -- update ------------------------------------------------------------

    def add(self, df: DataFrame, url_col: str = "url"):
        """Add the urls of ``df`` to the filter (distributed, per bucket)."""
        return self._update(df, url_col, self._add_kernel())

    def _update(self, df: DataFrame, url_col: str, kernel):
        """A new handle whose state is ``kernel`` applied to every bucket
        the urls of ``df`` hash to; other buckets keep their rows."""
        if self.dedupe_batch:
            df = df.select(url_col).distinct()
        hashes = _with_bucket_hash(df, url_col, self.n_buckets).select(
            "bucket", "_h"
        )
        payload = self.payload

        def run(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            # left: new hashes for this bucket; right: its existing row
            if left.empty:
                return right[["bucket", payload, "n_items"]]
            bucket = int(left["bucket"].iloc[0])
            if right.empty:
                state, n = None, 0
            else:
                state = right[payload].iloc[0]
                n = int(right["n_items"].iloc[0])
            h = left["_h"].to_numpy(dtype=np.int64).astype(np.uint64)
            state, n = kernel(bucket, state, n, h)
            return pd.DataFrame(
                {"bucket": [bucket], payload: [state], "n_items": [n]}
            )

        merged = (
            hashes.groupBy("bucket")
            .cogroup(self.state.groupBy("bucket"))
            .applyInPandas(run, self.schema)
        )
        return type(self)(merged, **self.geometry)

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
        ``keep_bucket=True`` also returns the filter bucket id — the key
        for partition-pruned exact re-checks.
        """
        contains, payload = self._contains(), self.payload
        in_cols = [f.name for f in candidates.schema.fields]
        if keep_bucket:
            in_cols = in_cols + ["bucket"]
        out_schema = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in candidates.schema.fields
        ) + (", bucket int" if keep_bucket else "") + ", maybe_seen boolean"

        def run(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            out = left[in_cols].copy()
            if left.empty:
                out["maybe_seen"] = pd.Series([], dtype=bool)
            elif right.empty:
                out["maybe_seen"] = False
            else:
                h = left["_h"].to_numpy(dtype=np.int64).astype(np.uint64)
                out["maybe_seen"] = contains(right[payload].iloc[0], h)
            return out

        with_b = _with_bucket_hash(candidates, url_col, self.n_buckets)
        return (
            with_b.groupBy("bucket")
            .cogroup(self.state.groupBy("bucket"))
            .applyInPandas(run, out_schema)
        )

    def filter_unseen(
        self, candidates: DataFrame, seen_for_buckets, url_col: str = "url"
    ) -> DataFrame:
        """Filter-prefiltered anti-join: the rows of ``candidates`` whose
        url is NOT seen. Filter negatives bypass the join entirely;
        positives are re-checked exactly against
        ``seen_for_buckets(buckets)``, a DataFrame of seen urls.

        ``buckets`` is the sorted distinct filter-bucket ids of the
        POSITIVE candidates, so the callee can prune its seen-table scan
        to just those buckets (the scale path at 10^10 URLs: the build
        side shrinks from the full url history to the handful of bucket
        partitions that contain a filter positive). A caller whose
        history is small passes ``lambda _b: seen``. The probe output is
        localCheckpointed so computing the bucket list does not re-run
        the probe.
        """
        probed = self.probe(candidates, url_col, keep_bucket=True)
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
        history = seen_for_buckets(buckets)
        probed = probed.drop("bucket")
        fresh = probed.where(~F.col("maybe_seen")).drop("maybe_seen")
        suspect = probed.where(F.col("maybe_seen")).drop("maybe_seen")
        rechecked = suspect.join(
            history.select(F.col(url_col).alias("__seen_url")),
            suspect[url_col] == F.col("__seen_url"),
            "left_anti",
        )
        return fresh.unionByName(rechecked)


class BloomSeenSet(BucketedSeenSet):
    """Bloom filter per bucket: smaller per key than cuckoo, and its
    ``add`` is an embarrassingly-parallel OR — right for the append-only
    crawl seen set. ``n_items`` counts added rows, duplicates included."""

    schema = "bucket int, bits binary, n_items long"
    payload = "bits"
    blooms = _state_alias()

    def __init__(
        self,
        blooms: DataFrame,
        n_buckets: int = 64,
        m_bits: int = 1 << 20,
        k_hashes: int = 7,
    ):
        super().__init__(blooms, n_buckets=n_buckets, m_bits=m_bits,
                         k_hashes=k_hashes)

    def stored_geometry(self) -> dict:
        """The shape a crawl store records at crawl start and checks on
        resume (``filter_geometry.json``)."""
        return {"seen_filter": "bloom", "buckets": self.n_buckets,
                "bits": self.m_bits}

    def _add_kernel(self):
        m_bits, k = self.m_bits, self.k_hashes

        def add(bucket, bits, n, h):
            if bits is None:
                bits = np.zeros(m_bits // 8, dtype=np.uint8)
            else:
                bits = np.frombuffer(bits, dtype=np.uint8).copy()
            _set_bits(bits, _positions(h, k, m_bits))
            return bits.tobytes(), n + len(h)

        return add

    def _contains(self):
        m_bits, k = self.m_bits, self.k_hashes

        def contains(bits, h):
            bits = np.frombuffer(bits, dtype=np.uint8)
            return _test_bits(bits, _positions(h, k, m_bits))

        return contains
