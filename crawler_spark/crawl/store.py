"""Checkpointed crawl-table store with atomic per-round commits.

Iceberg-style snapshot semantics on plain parquet (the sandbox has no
Iceberg runtime jar; the layout mirrors what an Iceberg catalog would give
us and the driver code would swap to ``df.writeTo(table)`` unchanged):

    <root>/
      pages/round=R/         append-only crawl results (partitioned by round)
      links/round=R/         append-only discovered-link log
      discoveries/round=R/   append-only frontier-discovery log
      seen/round=R/          append-only url-only seen log (bucket-sorted)
      frontier/round=R/      frontier snapshot after round R (snapshot rounds)
      bloom/round=R/         seen-filter snapshot after round R (same rounds)
      cooldown/round=R/      cooldown snapshot after round R
      retractions/           pending recrawl marks (``retract``)
      filter_geometry.json   seen-filter kind and size, fixed at crawl start
      manifests/round-R.json commit marker — written LAST, atomically

A round is visible iff its manifest exists (rename is atomic on a posix
fs; object stores would use a conditional put). The manifest carries the
round metrics and per-partition lineage (files written per table) required
by the north rule. ``resume_round`` returns the last committed round and
deletes any orphaned dirs from a crashed round, so re-running a round is
idempotent — this replaces the reference's ``processing:true`` in-flight
flags + ``cleanup()`` crash recovery (``storage.ts:182-188, 236-248``).

Crawl state is persisted one way for both state tables: a snapshot in
each round R that crawled something and has ``R % frontier_snapshot_every
== 0``, and between snapshots nothing but the append-only logs. A reader rebuilds
either table as of round R from its newest snapshot C <= R plus a
replay of the discovery log written after C (the frontier also drops
the pages crawled after C) — ``latest_snapshot_round`` and
``discoveries_after`` are the pieces. ``rebuild_frontier`` is the same
replay from an empty start: the whole ``discoveries ≤ R anti-join
pages ≤ R``, both sides hash-partitioned on ``xxhash64(url)`` at scale.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from crawler_spark.session import driver_frame

TABLES = (
    "pages", "links", "discoveries", "frontier", "cooldown", "bloom", "seen",
)

PAGES_SCHEMA = "round int, seq long, url string, host string, status int, type string"
# on disk, pages also carries the extracted text (nullable; html rows
# only) and the 429 retry_after — fused so one write serves page results,
# the text table, and driver-side cooldown derivation
PAGES_FILE_SCHEMA = PAGES_SCHEMA + ", text string, retry_after int"
LINKS_SCHEMA = (
    "round int, source string, source_host string, url string, host string, "
    "link_pos int"
)
DISC_SCHEMA = "disc_round int, disc_seq long, url string, host string"
COOLDOWN_SCHEMA = "host string, expire_round int"
# url-only seen log, keyed by the bloom bucket (pmod(xxhash64(url), B)) and
# written sorted by bucket so `bucket IN (...)` prunes at row-group level
SEEN_SCHEMA = "bucket int, url string"
PAGE_TEXT_SCHEMA = "round int, url string, text string"


class CrawlStore:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        max_write_partitions: int | None = None,
    ):
        """``max_write_partitions`` caps output files per round table
        (coalesce, no shuffle). Local/bench runs set a small cap so a round
        is not dominated by filesystem metadata for hundreds of tiny files;
        cluster runs leave None (natural partitioning)."""
        self.spark = spark
        self.root = root
        self.max_write_partitions = max_write_partitions
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)

    # -- paths --------------------------------------------------------------

    def table_round_path(self, table: str, rnd: int) -> str:
        return os.path.join(self.root, table, f"round={rnd}")

    def _manifest_path(self, rnd: int) -> str:
        return os.path.join(self.root, "manifests", f"round-{rnd}.json")

    # -- commit protocol ----------------------------------------------------

    def write_round_table(
        self, table: str, rnd: int, df: DataFrame
    ) -> tuple[list[str], int]:
        """Write one round partition; returns (file lineage, row count).

        The row count is harvested from the parquet footers — free local
        metadata reads instead of a second Spark job per table."""
        path = self.table_round_path(table, rnd)
        if self.max_write_partitions is not None:
            df = df.coalesce(self.max_write_partitions)
        df.write.mode("overwrite").parquet(path)
        files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        return files, self._rows_in(path, files)

    @staticmethod
    def _rows_in(path: str, files: list[str]) -> int:
        import pyarrow.parquet as pq

        return sum(
            pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in files
        )

    def write_driver_table(
        self, table: str, rnd: int, pdf, arrow_schema=None
    ) -> list[str]:
        """Write driver-resident state (e.g. the cooldown dict) directly
        with pyarrow — tiny tables shouldn't cost a Spark job each round.
        ``arrow_schema`` pins column types (an empty object column would
        otherwise become unreadable null-type parquet)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = self.table_round_path(table, rnd)
        os.makedirs(path, exist_ok=True)
        fname = "part-00000.parquet"
        pq.write_table(
            pa.Table.from_pandas(
                pdf, schema=arrow_schema, preserve_index=False
            ),
            os.path.join(path, fname),
        )
        return [fname]

    def commit_round(self, rnd: int, metrics: dict[str, Any],
                     lineage: dict[str, list[str]]) -> None:
        """Write the manifest LAST — the atomic commit point."""
        manifest = {
            "round": rnd,
            "committed_at": time.time(),
            "metrics": metrics,
            "lineage": lineage,
        }
        tmp = self._manifest_path(rnd) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path(rnd))

    def committed_rounds(self) -> list[int]:
        mdir = os.path.join(self.root, "manifests")
        out = []
        for name in os.listdir(mdir):
            if name.startswith("round-") and name.endswith(".json"):
                out.append(int(name[len("round-") : -len(".json")]))
        return sorted(out)

    # -- seen-filter geometry --------------------------------------------

    def _geometry_path(self) -> str:
        return os.path.join(self.root, "filter_geometry.json")

    def write_filter_geometry(self, geo: dict[str, Any]) -> None:
        """Record the seen-filter's shape (kind + bucket count + size
        params) once at crawl start. The filter snapshot itself carries
        no geometry: resuming with different ``bloom_bits`` /
        ``bloom_buckets`` / ``cuckoo_entries`` would silently probe the
        loaded bitsets at the wrong positions — false NEGATIVES, i.e.
        already-crawled urls bypassing the exact re-check and being
        fetched again. This file makes the mismatch loud at load."""
        tmp = self._geometry_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(geo, f, indent=1)
        os.replace(tmp, self._geometry_path())

    def read_filter_geometry(self) -> dict[str, Any] | None:
        """None when the store has no geometry file: a store written
        before geometry recording, which resume refuses."""
        if not os.path.exists(self._geometry_path()):
            return None
        with open(self._geometry_path()) as f:
            return json.load(f)

    def latest_snapshot_round(self, table: str, upto: int) -> int | None:
        """Newest round ≤ ``upto`` with a snapshot dir for ``table``
        (None if there is none) — where a state reload starts its log
        replay; snapshots are written only on some rounds."""
        tdir = os.path.join(self.root, table)
        if not os.path.isdir(tdir):
            return None
        rounds = [
            int(n.split("=")[1])
            for n in os.listdir(tdir)
            if n.startswith("round=")
        ]
        return max((r for r in rounds if r <= upto), default=None)

    def read_manifest(self, rnd: int) -> dict[str, Any]:
        with open(self._manifest_path(rnd)) as f:
            return json.load(f)

    def resume_round(self) -> int | None:
        """Last committed round; removes orphans from a crashed round (and
        from a compaction interrupted at any point — the watermark file is
        the single source of truth for which segment generation is live)."""
        rounds = self.committed_rounds()
        last = rounds[-1] if rounds else None
        # clean any table dir for an uncommitted round (crash mid-write)
        for table in TABLES:
            tdir = os.path.join(self.root, table)
            if not os.path.isdir(tdir):
                continue
            wm_tmp = self._watermark_path(table) + ".tmp"
            if os.path.exists(wm_tmp):
                os.remove(wm_tmp)
            wm, gen = self._compaction_state(table)
            # no watermark ⇒ no segment is live: an orphan segment dir
            # from a compaction that crashed before its watermark commit
            # must be cleaned
            live = self._segment_dir(table, gen) if wm >= 0 else None
            for name in os.listdir(tdir):
                # drop every segment dir (any generation, committed or
                # .tmp) the watermark does not reference — an uncommitted
                # compaction leaves only unreferenced dirs behind
                if name.startswith("_compacted") and not name.endswith(
                    ".json"
                ):
                    path = os.path.join(tdir, name)
                    if path != live:
                        shutil.rmtree(path, ignore_errors=True)
            # finish an interrupted post-watermark sweep
            if wm >= 0:
                self._sweep_compacted_rounds(table, wm)
            for name in os.listdir(tdir):
                if not name.startswith("round="):
                    continue
                r = int(name.split("=", 1)[1])
                if last is None or r > last:
                    shutil.rmtree(os.path.join(tdir, name), ignore_errors=True)
        return last

    # -- maintenance ---------------------------------------------------------

    def _watermark_path(self, table: str) -> str:
        return os.path.join(self.root, table, "_compacted.json")

    def _segment_dir(self, table: str, generation: int) -> str:
        return os.path.join(self.root, table, f"_compacted-g{generation}")

    def _compaction_state(self, table: str) -> tuple[int, int]:
        """(upto_round, generation) of the committed segment; (-1, 0) if
        none. The watermark JSON is the ONLY source of truth — a segment
        dir not named by it does not exist as far as readers go."""
        path = self._watermark_path(table)
        if not os.path.exists(path):
            return -1, 0
        with open(path) as f:
            state = json.load(f)
        return int(state["upto_round"]), int(state["generation"])

    def compaction_watermark(self, table: str) -> int:
        """Highest round folded into the compacted segment (-1 if none)."""
        return self._compaction_state(table)[0]

    def compact(self, table: str, schema: str, upto_round: int) -> int:
        """Merge round partitions ≤ ``upto_round`` of an append-only table
        (pages/links/discoveries) into one consolidated segment.

        At 10^10 scale a long crawl accumulates thousands of small round
        partitions; compaction bounds file count while readers stay
        correct. Crash safety: the new segment is written under a NEW
        generation name, and the single commit point is the atomic
        replace of the watermark JSON ``{upto_round, generation}`` —
        readers resolve the live segment THROUGH the watermark, so before
        the replace the new segment simply does not exist to them, and
        after it the old generation and the round dirs ≤ upto_round are
        dead regardless of how far cleanup got. ``resume_round`` deletes
        whatever the watermark doesn't reference; there is no rename
        window in which two copies of a row are simultaneously visible.
        ``upto_round`` below the current watermark is clamped up
        (compaction never un-compacts — a lower watermark would drop rows
        that exist only in the segment). Returns the number of rows in
        the new segment."""
        cur_upto, cur_gen = self._compaction_state(table)
        upto_round = max(upto_round, cur_upto)
        # schemas of tables whose round lives only in the dir name
        # (e.g. DISC_SCHEMA) need the partition column appended to read
        if "round" not in DataType.fromDDL(schema).fieldNames():
            schema = schema + ", round int"
        new_gen = cur_gen + 1
        seg = self._segment_dir(table, new_gen)
        tmp = seg + ".tmp"
        df = self._read_all(table, schema).where(F.col("round") <= upto_round)
        if self.max_write_partitions is not None:
            df = df.coalesce(self.max_write_partitions)
        if "bucket" in df.columns:
            # the per-round seen files are deliberately bucket-sorted so
            # read_seen's `bucket IN (...)` exact re-check prunes at
            # row-group level; a compaction that just interleaves many
            # sorted runs flattens the min/max stats and re-opens the
            # whole seen history to every later round — re-sort the
            # consolidated segment the same way
            df = df.sortWithinPartitions("bucket")
        df.write.mode("overwrite").parquet(tmp)
        n = self._rows_in(
            tmp, [f for f in os.listdir(tmp) if f.endswith(".parquet")]
        )
        # an orphan from a compact() that failed between rename and
        # watermark commit is unreferenced by construction — clear it so
        # a RETRY of the same generation doesn't fail the rename
        shutil.rmtree(seg, ignore_errors=True)
        os.rename(tmp, seg)  # still invisible: watermark names cur_gen
        # commit point: watermark now names the new generation; the old
        # segment + round dirs below upto_round are dead to readers
        wtmp = self._watermark_path(table) + ".tmp"
        with open(wtmp, "w") as f:
            json.dump({"upto_round": upto_round, "generation": new_gen}, f)
        os.replace(wtmp, self._watermark_path(table))
        if cur_upto >= 0:
            shutil.rmtree(
                self._segment_dir(table, cur_gen), ignore_errors=True
            )
        self._sweep_compacted_rounds(table, upto_round)
        return n

    def _sweep_compacted_rounds(self, table: str, upto_round: int) -> None:
        tdir = os.path.join(self.root, table)
        for name in os.listdir(tdir):
            if name.startswith("round=") and int(name.split("=")[1]) <= upto_round:
                shutil.rmtree(os.path.join(tdir, name), ignore_errors=True)

    def prune_snapshots(self, last_round: int) -> None:
        """Drop per-round snapshot state (frontier/cooldown/bloom) older
        than the NEWEST snapshot each table actually has at or below
        ``last_round`` — only that one is needed to resume; history lives
        in the append-only logs + manifests. Per-table, not a blanket
        ``< last_round``: frontier and filter snapshots are written only
        on snapshot rounds that crawled something, so ``last_round`` may
        have none, and resume replays the log onto the newest earlier
        one."""
        for table in ("frontier", "cooldown", "bloom"):
            tdir = os.path.join(self.root, table)
            if not os.path.isdir(tdir):
                continue
            rounds = [
                int(n.split("=")[1])
                for n in os.listdir(tdir)
                if n.startswith("round=")
            ]
            keep = max((r for r in rounds if r <= last_round), default=None)
            if keep is None:
                continue
            for r in rounds:
                if r < keep:
                    shutil.rmtree(
                        os.path.join(tdir, f"round={r}"), ignore_errors=True
                    )

    # -- reads ----------------------------------------------------------------

    def _read_all(self, table: str, schema: str) -> DataFrame:
        """Read every committed round partition with an explicit schema.

        The partition dir ``round=R`` supplies the ``round`` column; the
        explicit schema keeps empty round partitions (a round that
        discovered nothing) readable. A compacted segment (see
        ``compact``) carries ``round`` in-file and is unioned in.
        """
        tdir = os.path.join(self.root, table)
        watermark, generation = self._compaction_state(table)
        seg = self._segment_dir(table, generation)
        parts = []
        if (
            watermark >= 0
            and os.path.isdir(seg)
            and any(f.endswith(".parquet") for f in os.listdir(seg))
        ):
            parts.append(self.spark.read.schema(schema).parquet(seg))
        round_dirs = (
            sorted(
                os.path.join(tdir, n)
                for n in os.listdir(tdir)
                if n.startswith("round=")
            )
            if os.path.isdir(tdir)
            else []
        )
        if round_dirs:
            # concrete dirs, not a "round=*" glob: a single glob path makes
            # Spark's FileStreamSink probe for streaming metadata and log a
            # full (harmless but alarming) exception stack per read
            parted = (
                self.spark.read.schema(schema)
                .option("basePath", tdir)
                .parquet(*round_dirs)
            )
            if watermark >= 0:
                # rounds at/below the watermark live in the segment; any
                # lingering dirs (crash mid-sweep) must not double-count
                parted = parted.where(F.col("round") > watermark)
            parts.append(parted)
        names = DataType.fromDDL(schema).fieldNames()
        # normalize column ORDER to the partitioned-read convention (the
        # round partition column comes last) so compaction is invisible
        # to existing readers
        cols = [c for c in names if c != "round"] + (
            ["round"] if "round" in names else []
        )
        if not parts:
            return driver_frame(self.spark, [], schema).select(*cols)
        out = parts[0].select(*cols)
        for p in parts[1:]:
            out = out.unionByName(p.select(*cols))
        return out

    def read_pages(self) -> DataFrame:
        return self._read_all("pages", PAGES_SCHEMA)

    # -- retraction (recrawl) -------------------------------------------------

    def _retractions_dir(self) -> str:
        return os.path.join(self.root, "retractions")

    def retract(self, urls: list[str]) -> int:
        """Mark crawled urls for RECRAWL: their seen-log rows (and pages
        rows, for frontier rebuilding) from rounds ≤ the current last
        committed round stop counting as "seen", so the urls resurface in
        the merge-on-read frontier via their original discovery records
        and get fetched again on the next resumed run. Once recrawled,
        the NEW pages row (round > the retraction watermark) makes them
        seen again — retraction is one extra crawl, not a permanent hole.

        The exact seen re-check is the authority, so this works under
        either seen filter, and neither filter changes: a retracted url
        is back in the frontier, i.e. discovered, and the filter must
        keep every discovered url so that a link to it during its
        recrawl round takes the exact re-check instead of scheduling it
        twice.

        Appends a (url, upto_round) parquet to ``retractions/`` — tiny,
        driver-side, broadcast at read time. Returns upto_round."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        rounds = self.committed_rounds()
        upto = rounds[-1] if rounds else -1
        uniq = list(dict.fromkeys(urls))
        if not uniq:
            return upto  # empty campaign must not flip has_retractions()
        rdir = self._retractions_dir()
        os.makedirs(rdir, exist_ok=True)
        n = len([f for f in os.listdir(rdir) if f.endswith(".parquet")])
        pq.write_table(
            pa.table(
                {"url": uniq, "upto_round": [upto] * len(uniq)},
                schema=pa.schema(
                    [("url", pa.string()), ("upto_round", pa.int32())]
                ),
            ),
            os.path.join(rdir, f"retract-{n:05d}.parquet"),
        )
        return upto

    def retire_retractions(self) -> int:
        """Purge retraction records that are CONSUMED — the url was
        recrawled (a pages row exists ABOVE the retraction watermark), so
        the record no longer changes any read. Called at resume time;
        keeps ``has_retractions()`` — and the rebuild-frontier slow path
        plus per-read anti-joins it gates — a transient campaign state
        instead of a permanent store tax. Returns the pending count.

        The consolidation rewrite is driver-side over campaign-sized
        files; a crash between removing the old files and renaming the
        consolidated one can only LOSE pending retractions (the urls
        simply stay crawled — re-run the campaign), never corrupt crawl
        state."""
        if not self.has_retractions():
            return 0
        ret = self.read_retractions().collect()
        # semi-join, not isin: a mass campaign's url list must not be
        # inlined as a million-literal In expression
        recrawled = {
            r["url"]: r["max_round"]
            for r in self.read_pages()
            .join(
                F.broadcast(self.read_retractions().select("url")),
                "url", "left_semi",
            )
            .groupBy("url")
            .agg(F.max("round").alias("max_round"))
            .collect()
        }
        # pending ⇔ the url has crawl rows at/below the watermark and none
        # above; a record for a never-crawled url is a no-op and retires
        # too (it must not pin the resume slow path forever)
        pending = [
            (r["url"], r["upto_round"])
            for r in ret
            if r["url"] in recrawled
            and recrawled[r["url"]] <= r["upto_round"]
        ]
        if len(pending) == len(ret):
            return len(pending)
        rdir = self._retractions_dir()
        old = [f for f in os.listdir(rdir) if f.endswith(".parquet")]
        if pending:
            import pyarrow as pa
            import pyarrow.parquet as pq

            tmp = os.path.join(rdir, "retract-00000.parquet.tmp")
            pq.write_table(
                pa.table(
                    {"url": [u for u, _ in pending],
                     "upto_round": [r for _, r in pending]},
                    schema=pa.schema(
                        [("url", pa.string()), ("upto_round", pa.int32())]
                    ),
                ),
                tmp,
            )
            for f in old:
                os.remove(os.path.join(rdir, f))
            os.replace(tmp, os.path.join(rdir, "retract-00000.parquet"))
        else:
            for f in old:
                os.remove(os.path.join(rdir, f))
        return len(pending)

    def has_retractions(self) -> bool:
        rdir = self._retractions_dir()
        return os.path.isdir(rdir) and any(
            f.endswith(".parquet") for f in os.listdir(rdir)
        )

    def read_retractions(self) -> DataFrame:
        """(url, upto_round) with upto_round = max over re-retractions."""
        rdir = self._retractions_dir()
        return (
            self.spark.read.schema("url string, upto_round int")
            .parquet(rdir)
            .groupBy("url")
            .agg(F.max("upto_round").alias("upto_round"))
        )

    def _minus_retracted(self, df: DataFrame) -> DataFrame:
        """Drop rows whose url is retracted AND whose round is at/below
        the retraction watermark (later recrawl rows stay seen)."""
        if not self.has_retractions():
            return df
        ret = self.read_retractions()
        return df.join(
            F.broadcast(ret),
            (df["url"] == ret["url"])
            & (df["round"] <= ret["upto_round"]),
            "left_anti",
        )

    def read_seen(self, buckets: list[int] | None = None) -> DataFrame:
        """(bucket, url) of every committed round's crawled pages.

        ``buckets`` prunes the scan to the given bloom-bucket ids — the
        filter pushes to the parquet scan, and because each round's seen
        file is written sorted by bucket, row-group min/max stats skip
        everything else. This is what keeps the exact-seen re-check's
        build side proportional to the bloom-POSITIVE buckets instead of
        the full 10^10-url history."""
        df = self._read_all("seen", SEEN_SCHEMA + ", round int")
        if buckets is not None:
            df = df.where(F.col("bucket").isin([int(b) for b in buckets]))
        return self._minus_retracted(df).drop("round")

    def read_links(self) -> DataFrame:
        return self._read_all("links", LINKS_SCHEMA)

    def read_discoveries(self) -> DataFrame:
        return self.discoveries_after(-1)

    def discoveries_after(self, rnd: int) -> DataFrame:
        """Discovery-log rows committed in rounds after ``rnd`` — what a
        snapshot taken at ``rnd`` does not hold. Seeds are committed with
        the first round, so ``rnd=-1`` is the whole log."""
        return (
            self._read_all("discoveries", DISC_SCHEMA + ", round int")
            .where(F.col("round") > rnd)
            .drop("round")
        )

    def read_snapshot(self, table: str, rnd: int, schema: str) -> DataFrame:
        path = self.table_round_path(table, rnd)
        if not os.path.isdir(path):
            return driver_frame(self.spark, [], schema)
        # the known schema spares a footer-reading inference job per read
        return self.spark.read.schema(schema).parquet(path)

    def rebuild_frontier(self, upto_round: int) -> DataFrame:
        """Merge-on-read frontier: discoveries minus crawled pages — the
        replay from an empty start, for a store with no frontier
        snapshot or with pending retractions. Equal to the
        ``frontier/round=R`` snapshot (asserted by tests/test_resume.py).
        """
        disc = self.read_discoveries()
        pages = self._minus_retracted(
            self.read_pages().where(F.col("round") <= upto_round)
        )
        return disc.join(pages.select("url"), "url", "left_anti").select(
            "disc_round", "disc_seq", "url", "host"
        )

    def read_page_text(self, with_host: bool = False) -> DataFrame:
        """(round, url, text) for fetched html pages — backed by the fused
        text column on the pages table. ``with_host=True`` adds the host
        column (what host-level rollups like
        ``quality.host_reputation`` key on)."""
        cols = (["round", "host", "url", "text"] if with_host
                else ["round", "url", "text"])
        return (
            self._read_all("pages", PAGES_FILE_SCHEMA)
            .where(F.col("type") == "html")
            .select(*cols)
        )

    def latest_page_text(self) -> DataFrame:
        """(url, text), one row per fetched html url. ``read_page_text``
        has one row per FETCH, so a retracted-and-recrawled url appears
        once per fetch round; the latest round wins (one aggregation on
        url). A page whose extraction kept no block has text ``""``."""
        return (
            self.read_page_text()
            .where(F.col("text").isNotNull())
            .groupBy("url")
            .agg(F.max_by("text", "round").alias("text"))
        )
