"""Partitioned cuckoo-filter URL-seen set — the deletable twin of
``operators.seen.BloomSeenSet`` (the north rule's "bloom/cuckoo" pair).

Same distributed layer as the bloom set (``seen.BucketedSeenSet``): the
key space ``xxhash64(url)`` splits into ``n_buckets`` hash buckets
(``pmod(hash, B)``); each bucket owns one cuckoo table, stored as a row
``(bucket, slots binary, n_items)`` of an ordinary DataFrame, and every
add/probe/delete runs per bucket via cogrouped ``applyInPandas`` — no
driver-side state. This module holds only the per-bucket kernels.

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
filter, and the exact re-check keeps its recrawl exact. ``delete``
serves callers outside the crawl. Same interface, swappable.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

# one mixer and one bucket layer for BOTH approximate filters: the crawl
# pairs either filter's probe with the same bucketed seen log, so the
# bucket formula must be computed identically — import, don't
# re-implement, or the copies drift
from crawler_spark.operators.seen import BucketedSeenSet, _splitmix, _state_alias

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


def _mutate_kernel(m: int, spe: int, delete: bool):
    """The per-bucket insert (or delete) kernel for ``m`` × ``spe`` tables."""

    def run(bucket, payload, n, h):
        if payload is None:
            slots = np.zeros((m, spe), dtype=np.uint16)
        else:
            slots = np.frombuffer(payload, dtype=np.uint16).reshape(m, spe).copy()
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
            for idx in (int(i1), i2):
                free = np.nonzero(slots[idx] == 0)[0]
                if len(free):
                    slots[idx, free[0]] = fp
                    n += 1
                    break
            else:  # both entries full: eviction chain
                idx, cur = int(i1), fp
                for _ in range(_MAX_KICKS):
                    victim = int(rng.integers(spe))
                    cur, slots[idx, victim] = slots[idx, victim], cur
                    idx = int(_alt_entry(np.array([idx]), np.array([cur]), m)[0])
                    free = np.nonzero(slots[idx] == 0)[0]
                    if len(free):
                        slots[idx, free[0]] = cur
                        n += 1
                        break
                else:
                    raise RuntimeError(
                        f"cuckoo bucket {bucket} over capacity "
                        f"({n} items, m={m}×{spe})"
                    )
        return slots.tobytes(), n

    return run


class CuckooSeenSet(BucketedSeenSet):
    """Cuckoo table per bucket: one fingerprint per distinct url of a
    batch (a retried/duplicated input row must not insert or delete the
    same fingerprint twice).

    ADD-ONCE CONTRACT (the mirror of ``delete``'s delete-what-was-added
    contract): the batch is deduped internally, but adding a url in TWO
    separate batches stores two fingerprint copies — deliberately, per
    Fan et al. §3.2: duplicate copies are what make a later ``delete``
    of one insertion leave the other's membership intact (a
    check-before-insert "skip if present" would let a colliding key's
    delete erase this key's membership — a false negative). Callers
    maintaining set semantics must add only urls they have not added
    before (the crawl driver adds only filter-verified-unseen
    discoveries, so it satisfies this by construction); ``n_items``
    counts insertions, not distinct keys.

    ``probe`` has no false negatives for added-and-not-deleted keys;
    FP ≈ 2·slots/2^16 per table load factor."""

    schema = "bucket int, slots binary, n_items long"
    payload = "slots"
    dedupe_batch = True
    tables = _state_alias()

    def __init__(
        self,
        tables: DataFrame,
        n_buckets: int = 64,
        m_entries: int = 1 << 16,
        slots_per_entry: int = 4,
    ):
        if m_entries & (m_entries - 1):
            raise ValueError("m_entries must be a power of two")
        super().__init__(tables, n_buckets=n_buckets, m_entries=m_entries,
                         slots_per_entry=slots_per_entry)

    def stored_geometry(self) -> dict:
        """The shape a crawl store records at crawl start and checks on
        resume (``filter_geometry.json``)."""
        return {"seen_filter": "cuckoo", "buckets": self.n_buckets,
                "entries": self.m_entries}

    def _add_kernel(self):
        return _mutate_kernel(self.m_entries, self.slots_per_entry, delete=False)

    def delete(self, df: DataFrame, url_col: str = "url") -> "CuckooSeenSet":
        """Remove one stored fingerprint per key — the operation bloom
        cannot do. Deleting a never-added key is a no-op (by fingerprint
        semantics it may instead remove a colliding key's fingerprint —
        the documented cuckoo-filter contract: delete only what was
        added)."""
        kernel = _mutate_kernel(self.m_entries, self.slots_per_entry, delete=True)
        return self._update(df, url_col, kernel)

    def _contains(self):
        m, spe = self.m_entries, self.slots_per_entry

        def contains(payload, h):
            slots = np.frombuffer(payload, dtype=np.uint16).reshape(m, spe)
            fps = _fingerprints(h)
            i1 = _entry1(h, m)
            i2 = _alt_entry(i1, fps, m)
            hit1 = (slots[i1] == fps[:, None]).any(axis=1)
            hit2 = (slots[i2] == fps[:, None]).any(axis=1)
            return hit1 | hit2

        return contains
