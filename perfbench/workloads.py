"""The benchmark's workloads: inputs, one measured unit, and output checks.

Each workload builds its inputs from the run seed, then runs *units*
against the public ``crab_spark`` API. A unit is the timed piece of work
(``wall_s``); its output is checked afterwards, outside the timing.

Both workloads use the ``multihost_corpus_df`` synthetic graph: page p
lives on host{p mod H}, links ten data pages ``/data/{10p+d}`` on its
own host and the pager window ``/page/{q}`` for q in
[max(1, p-5), min(n_pages, p+5)); data page d carries input=d and
output=d². That closed form is what the checks compare against.
"""

from __future__ import annotations

import csv
import random
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import functions as F
from pyspark.sql import types as T

from crab_spark.corpus import DATA_TYPE, PAGE_TYPE, mh_page_url, multihost_corpus_df
from crab_spark.crawler import CorpusFetcher, crawl
from crab_spark.frontier import seed_frontier
from crab_spark.maintenance import _downloaded_docs
from crab_spark.parsers import data, listing, load_registry
from crab_spark.schemas import SEEDS
from crab_spark.store import TableStore
from crab_spark.tabulator import export_table, parse_documents, write_csv
from crab_spark.util import local_df

from spans import SpanRecorder, manifest_commits, process_tree_cpu_s, tree_stats


def data_url(d: int, n_hosts: int) -> str:
    return f"http://host{(d // 10) % n_hosts}.example.com/data/{d}"


@dataclass
class Unit:
    wall_s: float
    cpu_s: float              # CPU seconds of this process, the JVM, workers
    urls: int                 # URLs fetched (crawl) or re-parsed (export)
    registered: int           # rows in the frontier afterwards
    store_files: int          # the store's tables only, not the CSV output
    store_bytes: int
    commits: int = 0          # sum of table manifest versions
    sidecar_bytes: int = 0    # seen-set sidecar size on disk
    rows: int = 0             # CSV rows exported
    columns: int = 0          # CSV columns exported
    epochs: list[dict] = field(default_factory=list)
    checked: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def fail(self, n: int, what: str) -> None:
        if n:
            self.failed += n
            self.problems.append(f"{what}: {n}")


class Workload:
    """Set-up is ``build_inputs()`` (the workload's input frame) then
    ``prepare()`` (store writes and the untimed warm-up pass)."""

    name = ""
    MIN_UNITS = 1

    def __init__(self, spark, seed: int, work: Path, tap):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tap = tap
        self.registry = load_registry([listing, data])
        self._dirs = 0

    def fresh_dir(self, label: str) -> Path:
        self._dirs += 1
        d = self.work / f"{label}-{self._dirs}"
        shutil.rmtree(d, ignore_errors=True)
        return d

    def build_inputs(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        raise NotImplementedError

    def run_unit(self, tracer: SpanRecorder | None) -> Unit:
        raise NotImplementedError


def _no_span(name: str):
    return nullcontext()


def _cache(df):
    df = df.cache()
    df.count()
    return df


class PrioritySidecarCrawl(Workload):
    """One host-budget priority epoch with the seen-set sidecar forced on.

    N_SEEDS seed pages (picked by the run seed) are registered; the epoch
    rescores them (at most HOST_BUDGET per host per priority band),
    dequeues the BATCH best by (priority, seq), fetches and navigates
    them, registers their links through the sidecar probe and folds the
    new keys into the sidecar. Every unit fetches exactly BATCH URLs."""

    name = "priority_sidecar_crawl"
    N_PAGES = 600
    N_HOSTS = 32
    N_SEEDS = 500
    BATCH = 300
    HOST_BUDGET = 8
    EPOCHS = 1
    WARMUP_SEEDS = 50
    WARMUP_BATCH = 30

    def build_inputs(self) -> None:
        self.corpus = _cache(multihost_corpus_df(self.spark, self.N_PAGES, self.N_HOSTS))
        rng = random.Random(self.seed)
        self.seed_pages = sorted(rng.sample(range(1, self.N_PAGES + 1), self.N_SEEDS))

    def _seeds(self, pages):
        return local_df(self.spark, [(mh_page_url(p, self.N_HOSTS), PAGE_TYPE)
                                     for p in pages], SEEDS)

    def _crawl(self, store, batch: int, profile: bool):
        return crawl(store, CorpusFetcher(self.corpus), self.registry,
                     batch_size=batch, max_epochs=self.EPOCHS,
                     host_budget=self.HOST_BUDGET, bloom_min_frontier=0, profile=profile)

    def prepare(self) -> None:
        """Warm-up: a whole small crawl epoch (WARMUP_SEEDS seeds, a
        WARMUP_BATCH batch) on a throwaway store, so the measured unit is
        not the first pass through seeding, rescoring, dequeue,
        fetch/navigate, register and the sidecar fold in this JVM."""
        d = self.fresh_dir("warmup")
        store = TableStore(d, self.spark)
        seed_frontier(store, self._seeds(self.seed_pages[: self.WARMUP_SEEDS]))
        self._crawl(store, self.WARMUP_BATCH, profile=False)
        self.tap.take()
        shutil.rmtree(d, ignore_errors=True)

    def run_unit(self, tracer: SpanRecorder | None) -> Unit:
        wh = self.fresh_dir("crawl")
        store = TableStore(wh, self.spark)
        seeds = self._seeds(self.seed_pages)
        span = tracer.span if tracer is not None else _no_span
        self.tap.take()
        if tracer is not None:
            tracer.instrument_crawl(store)
        try:
            t0, cpu0 = time.monotonic(), process_tree_cpu_s()
            with span("unit"):
                with span("frontier.seed"):
                    seed_frontier(store, seeds)
                with span("crawler.crawl") as crawl_id:
                    stats = self._crawl(store, self.BATCH, profile=tracer is not None)
            wall, cpu = time.monotonic() - t0, process_tree_cpu_s() - cpu0
        finally:
            if tracer is not None:
                tracer.restore()
        epochs = self.tap.take()
        if tracer is not None:
            tracer.add_epoch_spans(epochs, crawl_id)
        files, size = tree_stats(wh)
        frontier = store.read("frontier").select("url", "seq", "type_id").collect()
        fetched = store.read("fetched").select("url", "reason").collect()
        unit = Unit(wall_s=wall, cpu_s=cpu, urls=stats.requests, registered=len(frontier),
                    store_files=files, store_bytes=size, epochs=epochs,
                    commits=manifest_commits(wh),
                    sidecar_bytes=tree_stats(wh / "_manifests" / "bloom-frontier.d")[1])
        self.check(unit, stats, frontier, fetched)
        shutil.rmtree(wh, ignore_errors=True)
        return unit

    def children(self, p: int) -> list[str]:
        out = [data_url(p * 10 + d, self.N_HOSTS) for d in range(10)]
        out += [mh_page_url(q, self.N_HOSTS)
                for q in range(max(1, p - 5), min(self.N_PAGES, p + 5))]
        return out

    def expected_batch(self) -> set[str]:
        """Closed form of the first priority batch: seeds get seqs in URL
        order; within a host the k-th seed (0-based, seq order) scores
        priority k // HOST_BUDGET; the batch is the BATCH best (priority, seq)."""
        urls = sorted(mh_page_url(p, self.N_HOSTS) for p in self.seed_pages)
        rank_in_host: dict[str, int] = {}
        scored = []
        for seq, u in enumerate(urls):
            host = u.split("/")[2]
            k = rank_in_host.get(host, 0)
            rank_in_host[host] = k + 1
            scored.append((k // self.HOST_BUDGET, seq, u))
        return {u for _, _, u in sorted(scored)[: self.BATCH]}

    def check(self, unit: Unit, stats, frontier, fetched) -> None:
        """Closed-form checks: the fetched set is the expected priority
        batch, each URL fetched once and ok; the seen set is exactly the
        seeds plus every link of every fetched page, once each, with
        contiguous seqs (seeds first, in URL order) and the right type."""
        page_of = {mh_page_url(p, self.N_HOSTS): p for p in range(1, self.N_PAGES + 1)}
        seen = {r["url"]: r for r in frontier}
        fetched_urls = [r["url"] for r in fetched]
        seeds = sorted(mh_page_url(p, self.N_HOSTS) for p in self.seed_pages)
        expected = set(seeds)
        for u in set(fetched_urls):
            if u in page_of:
                expected.update(self.children(page_of[u]))
        unit.checked = len(frontier) + len(fetched_urls)
        unit.fail(len(expected - set(seen)), "expected URL missing from the seen set")
        unit.fail(len(set(seen) - expected), "unexpected URL in the seen set")
        unit.fail(len(frontier) - len(seen), "duplicate seen-set rows")
        unit.fail(int(sorted(r["seq"] for r in frontier) != list(range(len(frontier)))),
                  "registration seqs not contiguous")
        unit.fail(sum(1 for i, u in enumerate(seeds) if u in seen and seen[u]["seq"] != i),
                  "seed seq out of URL order")
        unit.fail(sum(1 for u, r in seen.items()
                      if r["type_id"] != (PAGE_TYPE if u in page_of else DATA_TYPE)),
                  "wrong type_id")
        unit.fail(len(fetched_urls) - len(set(fetched_urls)), "URL fetched more than once")
        unit.fail(len(set(fetched_urls) ^ self.expected_batch()),
                  "fetched set differs from the expected priority batch")
        unit.fail(sum(1 for r in fetched if r["reason"] != "fetched"), "fetch not ok")
        unit.fail(abs(stats.requests - self.BATCH) + abs(stats.successful - self.BATCH),
                  "request count off")


class ReparseExport(Workload):
    """Re-parse a stored mirror into CSV without re-crawling, the way
    crab's ``export-csv`` does: latest documents ⋈ frontier → parse →
    tabulate → CSV.

    The mirror holds N_MIRROR pages (picked by the run seed) of an
    N_PAGES graph plus their data pages, each with FAT filler spans."""

    name = "reparse_export"
    N_PAGES = 1200
    N_HOSTS = 32
    N_MIRROR = 960
    FAT = 20
    MIN_UNITS = 3       # units are short; a median of three steadies them
    WARMUP_EXPORTS = 2  # the first exports in a JVM run slower (JIT warm-up)

    def build_inputs(self) -> None:
        rng = random.Random(self.seed)
        self.mirror_pages = sorted(rng.sample(range(1, self.N_PAGES + 1), self.N_MIRROR))
        wanted = local_df(self.spark, [(p,) for p in self.mirror_pages],
                          T.StructType([T.StructField("pid", T.LongType(), False)]))
        corpus = multihost_corpus_df(self.spark, self.N_PAGES, self.N_HOSTS, fat=self.FAT)
        num = F.regexp_extract("url", r"/(?:page|data)/(\d+)$", 1).cast("long")
        pid = F.when(F.col("type_id") == PAGE_TYPE, num).otherwise(F.floor(num / 10))
        self.mirror = _cache(corpus.withColumn("pid", pid)
                             .join(F.broadcast(wanted), "pid").drop("pid"))

    def prepare(self) -> None:
        """Write the mirror the way a crawl leaves it, a frontier row and
        a documents row per page, then export it WARMUP_EXPORTS times to
        warm up."""
        self.mirror_dir = self.fresh_dir("mirror")
        self.store = TableStore(self.mirror_dir, self.spark)
        self.n_docs = seed_frontier(self.store, self.mirror.select("url", "type_id"))
        # range-partitioned on URL: the same file layout whatever pages the
        # seed picked, so store bytes measure the encoding, not how the
        # sample fell into the generator's partitions
        self.store.append("documents", self.mirror.repartitionByRange(8, "url").select(
            F.col("url").alias("doc_id"), "spans", F.lit(1).alias("fetched_epoch")),
            tag="docs-000001")
        self.mirror.unpersist()
        for _ in range(self.WARMUP_EXPORTS):
            out = self.fresh_dir("warmup-csv")
            self._export(out, _no_span)
            shutil.rmtree(out, ignore_errors=True)

    def _export(self, out: Path, span) -> list[str]:
        with span("tabulator.export_table"):
            wide = export_table(parse_documents(_downloaded_docs(self.store), self.registry),
                                "default")
        with span("tabulator.write_csv"):
            write_csv(wide, str(out))
        return wide.columns

    def run_unit(self, tracer: SpanRecorder | None) -> Unit:
        out = self.fresh_dir("csv")
        span = tracer.span if tracer is not None else _no_span
        if tracer is not None:
            tracer.instrument_store(self.store)
        try:
            t0, cpu0 = time.monotonic(), process_tree_cpu_s()
            with span("unit"):
                columns = self._export(out, span)
            wall, cpu = time.monotonic() - t0, process_tree_cpu_s() - cpu0
        finally:
            if tracer is not None:
                tracer.restore()
        files, size = tree_stats(self.mirror_dir)
        unit = Unit(wall_s=wall, cpu_s=cpu, urls=self.n_docs, registered=self.n_docs,
                    store_files=files, store_bytes=size, columns=len(columns),
                    commits=manifest_commits(self.mirror_dir))
        self.check(unit, out, columns)
        shutil.rmtree(out, ignore_errors=True)
        return unit

    def check(self, unit: Unit, out: Path, columns: list[str]) -> None:
        """One CSV row per mirrored data page, each with output == input²."""
        want = {data_url(p * 10 + d, self.N_HOSTS): p * 10 + d
                for p in self.mirror_pages for d in range(10)}
        got: dict[str, int] = {}
        bad = 0
        header_ok = True
        for part in sorted(out.glob("part-*.csv")):
            with part.open(newline="") as f:
                reader = csv.reader(f)
                header = next(reader, None)
                if header is None:
                    continue
                header_ok &= header == ["doc_id", "row_idx", "input", "output"]
                for row in reader:
                    rec = dict(zip(header, row))
                    doc = rec.get("doc_id", "")
                    got[doc] = got.get(doc, 0) + 1
                    d = want.get(doc)
                    try:
                        ok = (d is not None and int(rec["input"]) == d
                              and int(rec["output"]) == int(rec["input"]) ** 2)
                    except (KeyError, ValueError):
                        ok = False
                    bad += not ok
        unit.rows = sum(got.values())
        unit.checked = max(unit.rows, len(want))
        unit.fail(int(not header_ok) + int(columns != ["doc_id", "row_idx", "input", "output"]),
                  "unexpected CSV columns")
        unit.fail(bad, "bad CSV row")
        unit.fail(len(set(want) - set(got)), "data page without a CSV row")
        unit.fail(sum(c - 1 for c in got.values() if c > 1), "duplicate CSV row")


WORKLOADS = {w.name: w for w in (PrioritySidecarCrawl, ReparseExport)}
