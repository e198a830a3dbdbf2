"""The two workloads, driven through the engine's public entry points.

Each workload is a closed loop with one client: a pass starts only after
the previous pass has committed its last snapshot.  A workload object has

- ``setup(spark)``: corpus load, pages-index build and cache, bootstrap
  commit of snapshot 0 (repeatable: the runner times several and reports
  the median);
- ``run_pass(spark, tag, rounds)``: one timed pass from a fresh store
  (all of the workload's rounds unless ``rounds`` says fewer), returning
  the URLs it fetched and the store;
- ``check(store)``: the pass's committed output against the expected
  output, outside the timed region.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import replace

import pyarrow.parquet as pq
from pyspark.sql import Observation, functions as F

from engine.crawl import (
    EngineConfig,
    pages_index,
    run_crawl,
    run_round,
    static_planning,
)
from engine.filters import adaptive_seen_filter_factory
from engine.frontier import frontier_from_seeds
from engine.io import load_corpus
from engine.snapstore import SnapStore

from perfbench import inputs
from perfbench.trace import Span, Tracer

SALT = 8  # politeness-window salt groups in budget_round


class TimedStore(SnapStore):
    """SnapStore with spans around reads and commits; the commit end times
    delimit the rounds that happen inside ``run_crawl``."""

    def __init__(self, root: str, tracer: Tracer):
        super().__init__(root)
        self.tracer = tracer
        self.commit_end: dict[int, float] = {}

    def read(self, spark, table, snapshot_id=None):
        with self.tracer.span("snapstore.read"):
            return super().read(spark, table, snapshot_id)

    def commit_state(self, sid, tables, metrics=None, metrics_fn=None, parallel=False):
        # snapshot 0 is the bootstrap: the seeded frontier's first write
        name = "frontier.bootstrap" if sid == 0 else "snapstore.commit"
        with self.tracer.span(name) as s:
            out = super().commit_state(sid, tables, metrics, metrics_fn, parallel)
        self.commit_end[sid] = s.end
        return out


def timed_factory(factory, tracer: Tracer):
    """A seen_filter_factory with a span around each call."""

    def call(spark, store, sid):
        with tracer.span("filters.factory"):
            return factory(spark, store, sid)

    return call


def storage_mb(spark) -> float:
    """Bytes held in Spark block storage (memory + disk), in MB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def _read_dirs(root: str, table: str, columns: list[str]):
    base = os.path.join(root, "data", table)
    for d in sorted(os.listdir(base)):
        yield pq.read_table(os.path.join(base, d), columns=columns).to_pylist()


class RoundWorkload:
    """budget_round: a whole-corpus frontier with a pre-seen set, then
    ``spec.rounds`` run_round calls per pass with the default ``auto`` seen
    filter (below its engage gate: the exact anti-join)."""

    def __init__(self, name: str, work: str, seed: int, tracer: Tracer):
        self.spec = inputs.ROUND_SPECS[name]
        self.work, self.tracer = work, tracer
        self.cdir = inputs.corpus_dir(work, self.spec.corpus)
        self.idir = inputs.round_inputs(work, name, seed)
        self.expected = inputs.expected_rounds(work, name, seed)
        self.cfg = EngineConfig(
            default_budget=self.spec.budget, max_rounds=self.spec.rounds, salt=SALT
        )
        self.base = os.path.join(work, "stores", "base")
        self.pidx = None

    def setup(self, spark) -> None:
        if self.pidx is not None:
            self.pidx.unpersist(blocking=True)
        shutil.rmtree(self.base, ignore_errors=True)
        t = load_corpus(spark, self.cdir)
        self.robots = t["robots"]
        with self.tracer.span("crawl.pages_index"):
            self.pidx = pages_index(t["pages"].select("url", "warc_ts", "html")).persist()
            self.index_rows = self.pidx.count()
        self.pages_index_mb = storage_mb(spark)
        seeds = spark.read.parquet(os.path.join(self.idir, "seeds.parquet"))
        seen0 = spark.read.parquet(os.path.join(self.idir, "preseen.parquet"))
        n_seen0 = pq.read_metadata(os.path.join(self.idir, "preseen.parquet")).num_rows
        fobs = Observation()
        frontier0 = frontier_from_seeds(seeds).observe(
            fobs, F.count(F.lit(1)).alias("frontier_rows")
        )
        TimedStore(self.base, self.tracer).commit_state(
            0,
            {"frontier": frontier0, "seen": seen0},
            {"round": -1, "fetch_seq_end": 0, "n_seen_end": n_seen0},
            metrics_fn=lambda: {"frontier_rows": int(fobs.get["frontier_rows"])},
        )

    def run_pass(self, spark, tag: str, rounds: int | None = None) -> tuple[int, TimedStore]:
        root = os.path.join(self.work, "stores", tag)
        shutil.rmtree(root, ignore_errors=True)
        shutil.copytree(self.base, root)
        store = TimedStore(root, self.tracer)
        factory = timed_factory(adaptive_seen_filter_factory(), self.tracer)
        fetched = 0
        with self.tracer.span("pass"), static_planning(spark):
            for rnd in range(rounds or self.spec.rounds):
                with self.tracer.span("round", f"{tag}r{rnd}"):
                    seen_filter = factory(spark, store, rnd)
                    offset = store.manifest(rnd)["metrics"]["fetch_seq_end"]
                    m = run_round(
                        spark, store, rnd, self.pidx, self.robots, self.cfg,
                        offset, seen_filter,
                    )
                fetched += m["n_selected"]
        return fetched, store

    def check(self, store: SnapStore) -> list[str]:
        exp = self.expected
        errors = []
        lineage = sorted(
            (r["round"], r["url"], r["fetch_seq"], r["status"])
            for rows in _read_dirs(store.root, "lineage", ["round", "url", "fetch_seq", "status"])
            for r in rows
        )
        if lineage != exp.lineage:
            errors.append(f"lineage: {len(lineage)} rows, expected {len(exp.lineage)}")
        texts = {
            (r["round"], r["url"]): inputs.text_sha(r["text"])
            for rows in _read_dirs(store.root, "pages_out", ["round", "url", "text"])
            for r in rows
        }
        if texts != exp.texts:
            bad = sum(texts.get(k) != v for k, v in exp.texts.items())
            errors.append(f"pages_out: {bad} texts differ, {len(texts)} vs {len(exp.texts)}")
        for rnd in range(self.spec.rounds):
            m = store.manifest(rnd + 1)["metrics"]
            got = (m["frontier_rows"], m["n_seen_end"])
            want = (exp.frontier_rows[rnd], exp.n_seen_end[rnd])
            if got != want:
                errors.append(f"round {rnd} (frontier_rows, n_seen_end) {got} != {want}")
        return errors


class SmallCrawl:
    """small_crawl: run_crawl on the golden S corpus from its 8 seeds for
    ``inputs.SMALL_ROUNDS`` rounds, checked against refspec.run_crawl."""

    def __init__(self, name: str, work: str, seed: int, tracer: Tracer):
        from fixtures.gen import gen_corpus
        from refspec import CrawlConfig, run_crawl as ref_crawl

        self.work, self.tracer = work, tracer
        self.cdir = inputs.corpus_dir(work, "S")
        self.idir = inputs.small_inputs(work, seed)
        corpus = gen_corpus("S")
        self.cfg = EngineConfig(
            default_budget=corpus.default_budget,
            budget_overrides=corpus.budget_overrides,
            max_rounds=inputs.SMALL_ROUNDS,
            salt=4,
        )
        self.ref = ref_crawl(
            corpus.pages,
            corpus.robots,
            CrawlConfig(
                seeds=tuple(inputs.small_seeds(seed)),
                default_budget=corpus.default_budget,
                budget_overrides=corpus.budget_overrides,
                max_rounds=inputs.SMALL_ROUNDS,
            ),
        )
        self.pidx = None

    def setup(self, spark) -> None:
        # run_crawl builds its own pages index per call (it is part of the
        # crawl's wall time); setup builds one to time the layer and warm
        # its code paths
        if self.pidx is not None:
            self.pidx.unpersist(blocking=True)
        t = load_corpus(spark, self.cdir)
        self.pages, self.robots = t["pages"], t["robots"]
        self.seeds = spark.read.parquet(os.path.join(self.idir, "seeds.parquet"))
        with self.tracer.span("crawl.pages_index"):
            self.pidx = pages_index(self.pages.select("url", "warc_ts", "html")).persist()
            self.index_rows = self.pidx.count()
        self.pages_index_mb = storage_mb(spark)

    def run_pass(self, spark, tag: str, rounds: int | None = None) -> tuple[int, TimedStore]:
        root = os.path.join(self.work, "stores", tag)
        shutil.rmtree(root, ignore_errors=True)
        store = TimedStore(root, self.tracer)
        cfg = replace(self.cfg, max_rounds=rounds or self.cfg.max_rounds)
        with self.tracer.span("pass") as p:
            run_crawl(
                spark, store, self.pages, self.robots, self.seeds, cfg,
                timed_factory(adaptive_seen_filter_factory(), self.tracer),
            )
        # rounds run inside run_crawl: each ends with its snapshot commit
        ends = [store.commit_end[s] for s in sorted(store.commit_end)]
        for rnd, (start, end) in enumerate(zip(ends, ends[1:])):
            self.tracer.add_round(Span("round", start, end, round=f"{tag}r{rnd}"), p)
        last = store.latest()
        return store.manifest(last)["metrics"]["fetch_seq_end"], store

    def check(self, store: SnapStore) -> list[str]:
        errors = []
        log = sorted(
            (r["round"], r["url"], r["status"], r["host"])
            for rows in _read_dirs(store.root, "lineage", ["round", "url", "status", "host"])
            for r in rows
        )
        if log != self.ref.fetch_log():
            errors.append(f"fetch log: {len(log)} rows, refspec {len(self.ref.lineage)}")
        seen = {
            r["url_hash"]: r["url"]
            for rows in _read_dirs(store.root, "seen", ["url_hash", "url"])
            for r in rows
        }
        if seen != self.ref.seen:
            errors.append(f"seen: {len(seen)} urls, refspec {len(self.ref.seen)}")
        texts = {
            r["url"]: r["text"]
            for rows in _read_dirs(store.root, "pages_out", ["url", "text"])
            for r in rows
        }
        if texts != self.ref.texts:
            errors.append(f"texts: {len(texts)}, refspec {len(self.ref.texts)}")
        return errors


WORKLOADS = {
    "budget_round": RoundWorkload,
    "small_crawl": SmallCrawl,
}
