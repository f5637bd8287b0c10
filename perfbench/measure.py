"""Measurement helpers that sit outside the engine: spans, Spark job
counters read from the status tracker, JVM + Python-worker memory from
``/proc``, and on-disk store size."""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans around calls into the engine's public functions.

    A span is ``(name, start, end, parent, run_id, attrs)``; ``parent``
    is the index of the enclosing span."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


def tree_rss_mb(root_pid: int) -> float:
    """Resident MiB of the JVM ``root_pid`` plus its Python descendants.

    The JVM counts its RSS, which is cheap to read. The Python workers
    count their proportional set size: they fork from one daemon and
    share its pages, which a sum of RSS would count once per worker.
    Other children are skipped: the JVM briefly spawns helpers (e.g. to
    set file permissions) that share its address space until they exec,
    and would count the whole JVM a second time."""
    total, todo, seen = _rss_kb(root_pid), _children(root_pid), {root_pid}
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        if _is_python(pid):
            total += _pss_kb(pid)
        todo.extend(_children(pid))
    return total / 1024.0


RSS_INTERVAL_S = 0.2


class RssSampler:
    """Background sampler of :func:`tree_rss_mb`, every
    ``RSS_INTERVAL_S``. ``reset`` starts a new peak window."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(self.root_pid))
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def reset(self) -> None:
        self.peak = tree_rss_mb(self.root_pid)


def jvm_pid(spark) -> int:
    """pid of the driver JVM (``spark-submit`` execs into it)."""
    return int(spark.sparkContext._gateway.proc.pid)


class JobCounter:
    """Jobs, stages and tasks a piece of work ran, counted from the
    status tracker as a before/after difference per job group.

    The crawl driver tags each round ``crawl-round-<r>``, and those ids
    repeat across ``run_crawl`` calls in one SparkContext — so a count
    is only meaningful as a difference taken around one call."""

    def __init__(self, spark, groups: list[str]):
        self.tracker = spark.sparkContext.statusTracker()
        self.groups = groups
        self.before = {g: set(self.tracker.getJobIdsForGroup(g)) for g in groups}

    def new_jobs(self) -> dict[str, list[int]]:
        return {
            g: sorted(set(self.tracker.getJobIdsForGroup(g)) - self.before[g])
            for g in self.groups
        }

    def totals(self) -> dict[str, int]:
        jobs = [j for ids in self.new_jobs().values() for j in ids]
        stage_ids = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            stage_ids.update(info.stageIds if info else ())
        stages = tasks = failed = 0
        for sid in stage_ids:
            st = self.tracker.getStageInfo(sid)
            if st is None or st.numCompletedTasks == 0:
                continue  # skipped (shuffle output reused) or evicted
            stages += 1
            tasks += st.numCompletedTasks
            failed += st.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "failed_tasks": failed}


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    n_bytes = n_files = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            n_files += 1
            n_bytes += os.path.getsize(os.path.join(dirpath, f))
    return n_bytes, n_files
