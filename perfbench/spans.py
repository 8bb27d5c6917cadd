"""In-memory span recorder and the per-layer instrumentation of a traced unit.

Every span is recorded from the benchmark's side of a call into a
``crab_spark`` layer: the recorder wraps the module attributes that
``crawl()`` looks up at call time (``crab_spark.crawler.register`` and
friends, ``crab_spark.bloom.fold_delta_files``) and the ``TableStore``
methods of the unit's own store, and restores them when the unit ends.
Work that ``crawl()`` does inline (dequeue, fetch/navigate) is only
visible through the phase lines ``crawl(profile=True)`` prints, so
``EpochTap`` parses those lines from stderr and the recorder turns them
into spans under the crawl span.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import sys
import threading
import time
from contextlib import contextmanager
from pathlib import Path

# Which end-to-end metric each layer metric should move, and on which
# workload. Layer metrics a workload bypasses read zero there: frontier.*,
# crawler.* and bloom.* on reparse_export, tabulator.* on the crawl.
# setup_s, cpu_ms_per_url and store_bytes_per_url are gated
# (BENCHMARK.json); the wall-clock figures (wall_s, urls_per_s,
# epoch_p50_s, rows_per_s) are printed by name but too noisy on a shared
# machine to gate.
CRAWL, EXPORT = "priority_sidecar_crawl", "reparse_export"
TIME = "cpu_ms_per_url, wall_s"
LAYER_MAP: dict[str, tuple[str, str]] = {
    "frontier.seed_s": (TIME, CRAWL),
    "frontier.register_s": ("cpu_ms_per_url, urls_per_s", CRAWL),
    "frontier.mark_fetched_s": (TIME, CRAWL),
    "frontier.rescore_s": (TIME, CRAWL),
    "frontier.dequeue_s": ("cpu_ms_per_url, epoch_p50_s", CRAWL),
    "frontier.new_per_cand": ("cpu_ms_per_url, urls_per_s", CRAWL),
    "crawler.fetch_navigate_s": ("cpu_ms_per_url, urls_per_s", CRAWL),
    "crawler.spark_jobs_per_epoch": ("cpu_ms_per_url, epoch_p50_s", CRAWL),
    "store.append_s": (TIME, CRAWL),
    "store.commits": ("store_bytes_per_url", CRAWL),
    "store.files": ("store_bytes_per_url", f"{CRAWL}, {EXPORT}"),
    "store.bytes": ("store_bytes_per_url", f"{CRAWL}, {EXPORT}"),
    "bloom.fold_s": (TIME, CRAWL),
    "bloom.sidecar_bytes": ("store_bytes_per_url", CRAWL),
    "tabulator.export_table_s": ("cpu_ms_per_url, rows_per_s", EXPORT),
    "tabulator.write_csv_s": ("cpu_ms_per_url, rows_per_s", EXPORT),
}

EPOCH_LINE = re.compile(r"^\[epoch (\d+)\] .* (\d+(?:\.\d+)?)s$")
PHASE_LINE = re.compile(r"^\s+((?:[a-z_]+=\d+(?:\.\d+)? ?)+)$")


class EpochTap:
    """A stderr stand-in that passes every write through and keeps the
    ``[epoch N] ... X.Xs`` lines and the profile phase line after each."""

    def __init__(self, inner):
        self.inner = inner
        self._buf = ""
        self.epochs: list[dict] = []  # {"epoch", "seconds", "end", "phases"}

    def write(self, s: str) -> int:
        self.inner.write(s)
        self._buf += s
        while "\n" in self._buf:
            line, self._buf = self._buf.split("\n", 1)
            self._parse(line)
        return len(s)

    def flush(self) -> None:
        self.inner.flush()

    def __getattr__(self, name):
        return getattr(self.inner, name)

    def _parse(self, line: str) -> None:
        m = EPOCH_LINE.match(line)
        if m:
            self.epochs.append({"epoch": int(m.group(1)), "seconds": float(m.group(2)),
                                "end": time.monotonic(), "phases": {}})
            return
        m = PHASE_LINE.match(line)
        if m and self.epochs:
            for kv in m.group(1).split():
                k, v = kv.split("=")
                self.epochs[-1]["phases"][k] = float(v)

    def take(self) -> list[dict]:
        out, self.epochs = self.epochs, []
        return out


class SpanRecorder:
    """Spans (name, start, end, parent) kept in memory, written at exit.
    Thread-aware: a span opened on a helper thread (crawl()'s documents
    writer) parents to the unit span."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.root_id: int | None = None
        self._undo: list = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else self.root_id
        if self.root_id is None:
            self.root_id = sid
        stack.append(sid)
        start = time.monotonic()
        try:
            yield sid
        finally:
            stack.pop()
            self._record(sid, name, start, time.monotonic(), parent)

    def add_span(self, name: str, start: float, end: float, parent: int | None) -> int:
        sid = next(self._ids)
        self._record(sid, name, start, end, parent)
        return sid

    def _record(self, sid: int, name: str, start: float, end: float,
                parent: int | None) -> None:
        with self._lock:
            self.spans.append({"id": sid, "name": name, "start": start,
                               "end": end, "parent": parent})

    def count(self, key: str, n: float) -> None:
        with self._lock:
            self.counts[key] = self.counts.get(key, 0) + n

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    # -- instrumentation ---------------------------------------------------

    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` with a spanned call until ``restore()``.
        ``before(args, kwargs)`` runs outside the span (tracer-side work
        such as counting a lazy frame); ``after(result)`` sees the result."""
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            if before is not None:
                before(args, kwargs)
            with self.span(name):
                result = orig(*args, **kwargs)
            if after is not None:
                after(result)
            return result

        had_own = attr in vars(owner)
        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig, had_own))

    def restore(self) -> None:
        for owner, attr, orig, had_own in reversed(self._undo):
            if had_own:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)
        self._undo.clear()

    def instrument_crawl(self, store) -> None:
        """Wrap every layer call crawl() makes through a module attribute,
        plus the unit's own TableStore."""
        import crab_spark.bloom as bloom
        import crab_spark.crawler as crawler

        def count_cands(args, kwargs):
            cands = args[1] if len(args) > 1 else kwargs["candidates"]
            with self.span("trace.count_cands"):
                self.count("register_cands", cands.count())

        self.wrap(crawler, "register", "frontier.register", before=count_cands,
                  after=lambda n: self.count("register_new", n))
        self.wrap(crawler, "mark_fetched", "frontier.mark_fetched")
        self.wrap(crawler, "apply_host_budget", "frontier.rescore")
        self.wrap(bloom, "fold_delta_files", "bloom.fold")
        self.instrument_store(store)

    def instrument_store(self, store) -> None:
        self.wrap(store, "append", "store.append")
        self.wrap(store, "append_rows", "store.append_rows")
        self.wrap(store, "compact", "store.compact")

    def add_epoch_spans(self, epochs: list[dict], parent: int | None) -> None:
        """Turn parsed epoch/phase lines into spans: each epoch ends when
        its line was printed; its phases are laid out back to back."""
        for e in epochs:
            start = e["end"] - e["seconds"]
            eid = self.add_span("crawler.epoch", start, e["end"], parent)
            t = start
            for phase, secs in e["phases"].items():
                self.add_span(f"crawler.phase.{phase}", t, t + secs, eid)
                t += secs

    def dump(self, path: Path, metrics: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [dict(s, start=round(s["start"] - t0, 6), end=round(s["end"] - t0, 6))
                 for s in sorted(self.spans, key=lambda s: s["start"])]
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"metrics": metrics, "spans": spans}, indent=1))


def spark_job_ids(spark) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def spark_task_count(spark, job_ids: set[int]) -> int:
    tracker = spark.sparkContext.statusTracker()
    tasks = 0
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            stage = tracker.getStageInfo(sid)
            tasks += stage.numTasks if stage else 0
    return tasks


def process_tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by this process and every process below it: the Spark JVM it
    launched and the JVM's Python workers."""
    root_pid = os.getpid()
    procs: dict[int, tuple[int, int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            fields = (d / "stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while we looked
        procs[int(d.name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, _) in procs.items():
            if ppid == parent and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    ticks = sum(procs[p][1] for p in tree if p in procs)
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_stats(root: Path) -> tuple[int, int]:
    """(files, bytes) under ``root``."""
    files = size = 0
    for p in root.rglob("*"):
        if p.is_file():
            files += 1
            size += p.stat().st_size
    return files, size


def manifest_commits(root: Path) -> int:
    """Sum of the table manifests' ``version`` fields: one per commit."""
    total = 0
    for p in (root / "_manifests").glob("*.json"):
        if not p.name.startswith("state-"):
            total += int(json.loads(p.read_text()).get("version", 0))
    return total


def install_tap() -> EpochTap:
    tap = EpochTap(sys.stderr)
    sys.stderr = tap
    return tap
