"""Partitioned cuckoo-filter URL-seen set — the deletable twin of
``operators.seen.BloomSeenSet`` (the north rule's "bloom/cuckoo" pair).

Same distributed layout as the bloom set: the key space
``xxhash64(url)`` splits into ``n_buckets`` hash buckets
(``pmod(hash, B)``); each bucket owns one cuckoo table, stored as a row
``(bucket, slots binary, n_items)`` of an ordinary DataFrame, and every
build/probe/delete runs per bucket via cogrouped ``applyInPandas`` — no
driver-side state.

Per-bucket cuckoo table (Fan et al. 2014, "Cuckoo Filter: Practically
Better Than Bloom"): ``m`` entries × ``slots_per_entry`` 16-bit
fingerprints (0 = empty). A key's fingerprint lives in one of two
entries, ``i1 = h mod m`` and ``i2 = i1 XOR H(fp) mod m`` — a relation
that is symmetric (``i1 = i2 XOR H(fp)``), so membership, insertion with
eviction chains, and DELETION all work from the fingerprint alone.

Why have both: bloom is smaller per key and its ``add`` is an embarrass-
ingly-parallel OR — right for the append-only crawl seen set. Cuckoo
supports deletes and bounded lookups at ~the same FP rate — right for
mutable membership like corpus registries. The crawl itself never
deletes: a retracted url (``driver.retract_urls``) resurfaces in the
frontier, so it is still discovered and stays a member under either
filter. Same interface, swappable.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

# one mixer and one bucket projection for BOTH approximate filters:
# filter_unseen_via pairs either filter's probe with the same bucketed
# seen log, so the bucket formula must be computed identically — import,
# don't re-implement, or the copies drift
from crawler_spark.operators.seen import _splitmix, _with_bucket_hash
from crawler_spark.session import driver_frame

CUCKOO_SCHEMA = "bucket int, slots binary, n_items long"

_MAX_KICKS = 500


def _fingerprints(h: np.ndarray) -> np.ndarray:
    """16-bit nonzero fingerprints from the high hash bits."""
    fp = ((h >> np.uint64(40)) & np.uint64(0xFFFF)).astype(np.uint16)
    fp[fp == 0] = 1
    return fp


def _entry1(h: np.ndarray, m: int) -> np.ndarray:
    # mix BEFORE the mod: the bucket id is pmod(h, n_buckets), so within
    # one bucket the low bits of h are constant — with B and m both
    # powers of two an unmixed h % m would confine every key in the
    # bucket to m/B of the entry range, overloading that slice (eviction
    # thrash, then 'over capacity') far below the documented ~95% load
    # factor. Same correlation hazard seen.py's _splitmix docstring
    # records for the bloom positions.
    return (_splitmix(h) % np.uint64(m)).astype(np.int64)


def _alt_entry(i: np.ndarray, fp: np.ndarray, m: int) -> np.ndarray:
    hfp = _splitmix(fp.astype(np.uint64)) % np.uint64(m)
    return (i.astype(np.uint64) ^ hfp).astype(np.int64) % m


def _load_slots(
    right: pd.DataFrame, m: int, spe: int
) -> tuple[np.ndarray, int]:
    if right.empty:
        return np.zeros((m, spe), dtype=np.uint16), 0
    slots = (
        np.frombuffer(right["slots"].iloc[0], dtype=np.uint16)
        .reshape(m, spe)
        .copy()
    )
    return slots, int(right["n_items"].iloc[0])


class CuckooSeenSet:
    """Handle over a cuckoo DataFrame; immutable — ops return new handles."""

    def __init__(
        self,
        tables: DataFrame,
        n_buckets: int = 64,
        m_entries: int = 1 << 16,
        slots_per_entry: int = 4,
    ):
        if m_entries & (m_entries - 1):
            raise ValueError("m_entries must be a power of two")
        self.tables = tables
        self.n_buckets = n_buckets
        self.m_entries = m_entries
        self.slots_per_entry = slots_per_entry

    # -- construction ------------------------------------------------------

    @classmethod
    def empty(
        cls, spark, n_buckets: int = 64, m_entries: int = 1 << 16,
        slots_per_entry: int = 4,
    ) -> "CuckooSeenSet":
        return cls(
            driver_frame(spark, [], CUCKOO_SCHEMA), n_buckets, m_entries,
            slots_per_entry,
        )

    def _mutate(self, df: DataFrame, url_col: str, delete: bool) -> "CuckooSeenSet":
        # locals only — the UDF closure must not capture self (it holds a
        # DataFrame and cannot serialize to the executors)
        m, spe = self.m_entries, self.slots_per_entry
        # dedupe the batch: a retried/duplicated input row must not insert
        # (or delete) the same fingerprint twice — one mutation per url
        hashes = _with_bucket_hash(
            df.select(url_col).distinct(), url_col, self.n_buckets
        ).select("bucket", "_h")

        def run(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if left.empty:
                return right[["bucket", "slots", "n_items"]]
            bucket = int(left["bucket"].iloc[0])
            slots, n = _load_slots(right, m, spe)
            h = left["_h"].to_numpy(dtype=np.int64).astype(np.uint64)
            fps = _fingerprints(h)
            i1s = _entry1(h, m)
            rng = np.random.default_rng(bucket)  # deterministic evictions
            for fp, i1 in zip(fps, i1s):
                i2 = int(_alt_entry(np.array([i1]), np.array([fp]), m)[0])
                if delete:
                    for idx in (int(i1), i2):
                        hit = np.nonzero(slots[idx] == fp)[0]
                        if len(hit):
                            slots[idx, hit[0]] = 0
                            n -= 1
                            break
                    continue
                placed = False
                for idx in (int(i1), i2):
                    free = np.nonzero(slots[idx] == 0)[0]
                    if len(free):
                        slots[idx, free[0]] = fp
                        n += 1
                        placed = True
                        break
                if placed:
                    continue
                # eviction chain
                idx, cur = int(i1), fp
                for _ in range(_MAX_KICKS):
                    victim = int(rng.integers(spe))
                    cur, slots[idx, victim] = slots[idx, victim], cur
                    idx = int(
                        _alt_entry(
                            np.array([idx]), np.array([cur]), m
                        )[0]
                    )
                    free = np.nonzero(slots[idx] == 0)[0]
                    if len(free):
                        slots[idx, free[0]] = cur
                        n += 1
                        placed = True
                        break
                if not placed:
                    raise RuntimeError(
                        f"cuckoo bucket {bucket} over capacity "
                        f"({n} items, m={m}×{spe})"
                    )
            return pd.DataFrame(
                {"bucket": [bucket], "slots": [slots.tobytes()],
                 "n_items": [n]}
            )

        merged = (
            hashes.groupBy("bucket")
            .cogroup(self.tables.groupBy("bucket"))
            .applyInPandas(run, CUCKOO_SCHEMA)
        )
        return CuckooSeenSet(
            merged, self.n_buckets, self.m_entries, self.slots_per_entry
        )

    def add(self, df: DataFrame, url_col: str = "url") -> "CuckooSeenSet":
        """Insert one fingerprint per distinct url in ``df``.

        ADD-ONCE CONTRACT (the mirror of ``delete``'s delete-what-was-
        added contract): the batch is deduped internally, but adding a
        url in TWO separate batches stores two fingerprint copies —
        deliberately, per Fan et al. §3.2: duplicate copies are what make
        a later ``delete`` of one insertion leave the other's membership
        intact (a check-before-insert "skip if present" would let a
        colliding key's delete erase this key's membership — a false
        negative). Callers maintaining set semantics must add only
        urls they have not added before (the crawl driver adds only
        filter-verified-unseen discoveries, so it satisfies this by
        construction); ``n_items`` counts insertions, not distinct keys.
        """
        return self._mutate(df, url_col, delete=False)

    def delete(self, df: DataFrame, url_col: str = "url") -> "CuckooSeenSet":
        """Remove one stored fingerprint per key — the operation bloom
        cannot do. Deleting a never-added key is a no-op (by fingerprint
        semantics it may instead remove a colliding key's fingerprint —
        the documented cuckoo-filter contract: delete only what was
        added)."""
        return self._mutate(df, url_col, delete=True)

    # -- probe -------------------------------------------------------------

    def probe(
        self,
        candidates: DataFrame,
        url_col: str = "url",
        keep_bucket: bool = False,
    ) -> DataFrame:
        """candidates + ``maybe_seen`` (no false negatives for added-and-
        not-deleted keys; FP ≈ 2·slots/2^16 per table load factor).
        ``keep_bucket=True`` also returns the filter bucket id — the key
        for partition-pruned exact re-checks (same contract as
        ``BloomSeenSet.probe``)."""
        m, spe = self.m_entries, self.slots_per_entry
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
                return out
            if right.empty:
                out["maybe_seen"] = False
                return out
            slots, _ = _load_slots(right, m, spe)
            h = left["_h"].to_numpy(dtype=np.int64).astype(np.uint64)
            fps = _fingerprints(h)
            i1 = _entry1(h, m)
            i2 = _alt_entry(i1, fps, m)
            hit1 = (slots[i1] == fps[:, None]).any(axis=1)
            hit2 = (slots[i2] == fps[:, None]).any(axis=1)
            out["maybe_seen"] = hit1 | hit2
            return out

        with_b = _with_bucket_hash(candidates, url_col, self.n_buckets)
        return (
            with_b.groupBy("bucket")
            .cogroup(self.tables.groupBy("bucket"))
            .applyInPandas(run, out_schema)
        )

    def filter_unseen(
        self,
        candidates: DataFrame,
        exact_seen: DataFrame | None = None,
        url_col: str = "url",
        seen_for_buckets=None,
    ) -> DataFrame:
        """Cuckoo-prefiltered anti-join — the drop-in twin of
        ``BloomSeenSet.filter_unseen`` (see ``seen.filter_unseen_via``),
        which is what lets the crawl driver swap filters."""
        from crawler_spark.operators.seen import filter_unseen_via

        return filter_unseen_via(
            self, candidates, exact_seen, url_col, seen_for_buckets
        )

    # -- persistence -------------------------------------------------------

    def checkpoint(self, path: str) -> None:
        self.tables.write.mode("overwrite").parquet(path)

    @classmethod
    def load(
        cls, spark, path: str, n_buckets: int = 64, m_entries: int = 1 << 16,
        slots_per_entry: int = 4,
    ) -> "CuckooSeenSet":
        return cls(
            spark.read.schema(CUCKOO_SCHEMA).parquet(path), n_buckets,
            m_entries, slots_per_entry,
        )
