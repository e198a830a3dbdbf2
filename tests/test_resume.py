"""Crash/resume (SURVEY.md §3.4, §5.5; BASELINE.json:14 'a killed crawl
resumes mid-round'): kill between the data write and the manifest commit,
resume, and the final state must be byte-for-byte the uninterrupted run's.
"""

from __future__ import annotations

import json
import os

import pytest

from engine.crawl import (
    EngineConfig,
    bootstrap,
    fetch_log,
    pages_index,
    run_crawl,
    run_round,
)
from engine.frontier import SEEN_SCHEMA
from engine.io import load_corpus
from engine.pure import canon, hash64
from engine.snapstore import SnapStore
from fixtures.gen import gen_corpus, write_parquet


class KillBeforeManifest(SnapStore):
    """Writes snapshot ``kill_at``'s data dirs, then dies before the
    manifest — the worst-case crash window of the commit protocol."""

    def __init__(self, root: str, kill_at: int):
        super().__init__(root)
        self.kill_at = kill_at

    def commit_state(self, sid, tables, metrics=None, **kwargs):
        if sid == self.kill_at:
            for name, df in tables.items():
                rel = os.path.join(name, f"s={sid:06d}")
                df.write.mode("overwrite").parquet(
                    os.path.join(self.data_dir, rel)
                )
            raise RuntimeError("simulated kill before manifest")
        return super().commit_state(sid, tables, metrics, **kwargs)


@pytest.fixture(scope="module")
def xs(tmp_path_factory):
    corpus = gen_corpus("XS")
    d = tmp_path_factory.mktemp("xs_corpus")
    write_parquet(corpus, str(d))
    return corpus, str(d)


def _cfg(corpus):
    return EngineConfig(
        default_budget=corpus.default_budget,
        budget_overrides=corpus.budget_overrides,
        max_rounds=100,
        salt=4,
    )


def _final_state(spark, store):
    log = [
        (r["round"], r["url"], r["status"])
        for r in fetch_log(spark, store).collect()
    ]
    seen = sorted(
        (r["url_hash"], r["url"], r["fetched_round"])
        for r in store.read(spark, "seen").collect()
    )
    return log, seen, store.latest()


def test_kill_resume_equals_uninterrupted(spark, xs, tmp_path_factory):
    corpus, corpus_dir = xs
    tables = load_corpus(spark, corpus_dir)
    cfg = _cfg(corpus)

    # uninterrupted reference run
    a = SnapStore(str(tmp_path_factory.mktemp("store_a")))
    run_crawl(spark, a, tables["pages"], tables["robots"], tables["seeds"], cfg)

    # killed run: dies writing snapshot 3's data, before its manifest
    b_root = str(tmp_path_factory.mktemp("store_b"))
    b_kill = KillBeforeManifest(b_root, kill_at=3)
    with pytest.raises(RuntimeError, match="simulated kill"):
        run_crawl(
            spark, b_kill, tables["pages"], tables["robots"], tables["seeds"], cfg
        )
    # orphan data dirs exist for snapshot 3, but it is invisible
    b = SnapStore(b_root)
    assert b.latest() == 2
    orphan = os.path.join(b.data_dir, "frontier", "s=000003")
    assert os.path.isdir(orphan)

    # resume re-runs round 2 (overwriting orphans) and finishes the crawl
    # plant an extra orphan that no re-run would overwrite: resume must
    # gc it (run_crawl calls gc_orphans on re-entry)
    stray = os.path.join(b.data_dir, "lineage", "s=000099")
    os.makedirs(stray, exist_ok=True)

    rounds = run_crawl(
        spark, b, tables["pages"], tables["robots"], tables["seeds"], cfg
    )
    assert rounds > 0
    assert not os.path.isdir(stray)
    # every remaining data dir is referenced by a committed manifest
    live = set()
    for s in b.snapshot_ids():
        live.update(b.manifest(s)["tables"].values())
    on_disk = {
        os.path.join(t, s)
        for t in os.listdir(b.data_dir)
        for s in os.listdir(os.path.join(b.data_dir, t))
    }
    assert on_disk <= live
    assert _final_state(spark, b) == _final_state(spark, a)


def test_finished_crawl_resume_is_noop(spark, xs, tmp_path_factory):
    corpus, corpus_dir = xs
    tables = load_corpus(spark, corpus_dir)
    cfg = _cfg(corpus)
    store = SnapStore(str(tmp_path_factory.mktemp("store_noop")))
    run_crawl(
        spark, store, tables["pages"], tables["robots"], tables["seeds"], cfg
    )
    before = _final_state(spark, store)
    assert (
        run_crawl(
            spark, store, tables["pages"], tables["robots"], tables["seeds"], cfg
        )
        == 0
    )
    assert _final_state(spark, store) == before


def test_gc_orphans_removes_only_uncommitted(spark, xs, tmp_path_factory):
    corpus, corpus_dir = xs
    tables = load_corpus(spark, corpus_dir)
    cfg = _cfg(corpus)
    root = str(tmp_path_factory.mktemp("store_gc"))
    kill = KillBeforeManifest(root, kill_at=2)
    with pytest.raises(RuntimeError):
        run_crawl(
            spark, kill, tables["pages"], tables["robots"], tables["seeds"], cfg
        )
    store = SnapStore(root)
    removed = store.gc_orphans()
    assert any("s=000002" in r for r in removed)
    # committed snapshots untouched and still readable
    assert store.latest() == 1
    assert store.read(spark, "frontier", 1).count() > 0


def test_manifest_cache_is_coherent_and_hit_after_commit(tmp_path):
    """Manifests are parsed once per store instance (the read path walks
    manifests 0..sid on EVERY append-table read, so an uncached store does
    O(R^2) JSON parses over an R-round crawl), and a re-commit of the same
    sid — resume overwriting a killed round's orphan — must refresh the
    cached doc, not serve the stale one."""
    store = SnapStore(str(tmp_path / "store"))

    # Hand-written manifest (no Spark needed: manifest() is pure fs).
    doc = {"snapshot": 0, "tables": {"seen": "seen/s=000000"}, "metrics": {}}
    with open(store._manifest_path(0), "w") as fh:
        json.dump(doc, fh)
    assert store.manifest(0) == doc

    # Cached: a disk mutation behind the store's back is NOT observed …
    with open(store._manifest_path(0), "w") as fh:
        json.dump({"snapshot": 0, "tables": {}, "metrics": {"x": 1}}, fh)
    assert store.manifest(0) == doc, "manifest(0) must be served from cache"

    # … but a fresh instance on the same root reads the current bytes,
    # which is what resume does.
    assert SnapStore(store.root).manifest(0)["metrics"] == {"x": 1}

    # commit_state on an existing sid refreshes the cache (empty tables
    # dict: no DataFrames required to exercise the manifest write path).
    metrics = store.commit_state(0, {}, metrics={"recommitted": True})
    assert metrics == {"recommitted": True}
    assert store.manifest(0)["metrics"] == {"recommitted": True}


class KillMidParallelWrite(SnapStore):
    """Dies during the PARALLEL multi-table write of snapshot ``kill_at``:
    exactly one table's data dir lands, the rest never start — the
    partial-write window a thread-pool crash (executor OOM, SIGKILL)
    leaves behind.  Manifest-last visibility must make the landed dir an
    invisible orphan."""

    def __init__(self, root: str, kill_at: int, land: str = "lineage"):
        super().__init__(root)
        self.kill_at = kill_at
        self.land = land

    def commit_state(self, sid, tables, metrics=None, **kwargs):
        if sid == self.kill_at:
            df = tables[self.land]
            rel = os.path.join(self.land, f"s={sid:06d}")
            df.write.mode("overwrite").parquet(
                os.path.join(self.data_dir, rel)
            )
            raise RuntimeError("simulated kill mid-parallel-write")
        return super().commit_state(sid, tables, metrics, **kwargs)


def test_kill_mid_parallel_write_resume_identical(
    spark, xs, tmp_path_factory
):
    """VERDICT r4 task #5: the commit protocol claims a crash anywhere
    inside the parallel four-table write is safe.  Land ONE table of
    snapshot 2, die, resume, and require the final state byte-identical
    to the uninterrupted run's."""
    corpus, corpus_dir = xs
    tables = load_corpus(spark, corpus_dir)
    cfg = _cfg(corpus)

    a = SnapStore(str(tmp_path_factory.mktemp("pw_a")))
    run_crawl(spark, a, tables["pages"], tables["robots"], tables["seeds"], cfg)

    b_root = str(tmp_path_factory.mktemp("pw_b"))
    kill = KillMidParallelWrite(b_root, kill_at=2, land="lineage")
    with pytest.raises(RuntimeError, match="mid-parallel-write"):
        run_crawl(
            spark, kill, tables["pages"], tables["robots"], tables["seeds"], cfg
        )
    b = SnapStore(b_root)
    # snapshot 2 invisible; the landed lineage dir is an orphan while the
    # other three tables of the round never hit disk
    assert b.latest() == 1
    assert os.path.isdir(os.path.join(b.data_dir, "lineage", "s=000002"))
    assert not os.path.isdir(os.path.join(b.data_dir, "frontier", "s=000002"))
    # lineage is an append table: the orphan layer must NOT be readable
    # (manifest-gated) — the crawl's row count at snapshot 1 is unchanged
    n_lineage_visible = b.read(spark, "lineage", 1).count()
    assert (
        n_lineage_visible
        == b.manifest(1)["metrics"]["fetch_seq_end"]
    )

    rounds = run_crawl(
        spark, b, tables["pages"], tables["robots"], tables["seeds"], cfg
    )
    assert rounds > 0
    assert _final_state(spark, b) == _final_state(spark, a)


def test_kill_during_bloom_delta_commit_resume_identical(
    spark, xs, tmp_path_factory
):
    """VERDICT r4 task #5, second kill point: die while committing the
    store-backed bloom filter's shard layer (kill_at == a compaction
    round, so the orphan is a FULL rebuilt layer — the worst case: a
    stale-but-complete shard set that must never be served).  Resume with
    the same factory; final state must equal the uninterrupted
    bloom-filtered run AND the exact-mode run (bloom is an optimization,
    never a semantics change)."""
    from engine.filters import bloom_seen_filter_factory

    corpus, corpus_dir = xs
    tables = load_corpus(spark, corpus_dir)
    cfg = _cfg(corpus)
    fac = bloom_seen_filter_factory(n_shards=4, fpp=1e-3, compact_every=2)

    a = SnapStore(str(tmp_path_factory.mktemp("bl_a")))
    run_crawl(
        spark, a, tables["pages"], tables["robots"], tables["seeds"], cfg,
        seen_filter_factory=fac,
    )

    # exact-mode reference: same final state regardless of filter
    ex = SnapStore(str(tmp_path_factory.mktemp("bl_ex")))
    run_crawl(spark, ex, tables["pages"], tables["robots"], tables["seeds"], cfg)
    assert _final_state(spark, a) == _final_state(spark, ex)

    # killed run: snapshot 4 is a compaction round (4 % compact_every == 0);
    # land ONLY its bloomshards layer, then die before the manifest
    b_root = str(tmp_path_factory.mktemp("bl_b"))
    kill = KillMidParallelWrite(b_root, kill_at=4, land="bloomshards")
    with pytest.raises(RuntimeError, match="mid-parallel-write"):
        run_crawl(
            spark, kill, tables["pages"], tables["robots"], tables["seeds"],
            cfg, seen_filter_factory=fac,
        )
    b = SnapStore(b_root)
    assert b.latest() == 3
    orphan = os.path.join(b.data_dir, "bloomshards", "s=000004")
    assert os.path.isdir(orphan)

    rounds = run_crawl(
        spark, b, tables["pages"], tables["robots"], tables["seeds"], cfg,
        seen_filter_factory=fac,
    )
    assert rounds > 0
    assert _final_state(spark, b) == _final_state(spark, a)
    # shard-table hygiene after resume: every bloomshards dir on disk is
    # manifest-referenced, and probing at the final snapshot reflects the
    # recommitted (not the orphaned) compaction layer
    live = set()
    for s in b.snapshot_ids():
        live.update(b.manifest(s)["tables"].values())
    shard_dirs = {
        os.path.join("bloomshards", d)
        for d in os.listdir(os.path.join(b.data_dir, "bloomshards"))
    }
    assert shard_dirs <= live
    sa = sorted(
        map(tuple, a.read(spark, "bloomshards").drop("bits").collect())
    )
    sb = sorted(
        map(tuple, b.read(spark, "bloomshards").drop("bits").collect())
    )
    assert sa == sb


class FailingCommit(SnapStore):
    """Raises from every commit after the bootstrap — a round that dies
    after its caches are filled but before anything is written.  Records
    the session's shuffle partition count and AQE setting the failing
    commit plans under."""

    def commit_state(self, sid, tables, metrics=None, **kwargs):
        if sid > 0:
            conf = next(iter(tables.values())).sparkSession.conf
            self.round_partitions = conf.get("spark.sql.shuffle.partitions")
            self.round_aqe = conf.get("spark.sql.adaptive.enabled")
            raise RuntimeError("simulated commit failure")
        return super().commit_state(sid, tables, metrics, **kwargs)


def test_failed_round_releases_its_caches(spark, xs, tmp_path_factory):
    """run_round persists three frames per round (robots-tagged
    candidates, extraction output, the range-partitioned lineage rows)
    and overrides the session's shuffle partitions for the round.  An
    exception mid-round must unpersist the frames and restore the
    partition count just like a clean round — a long-lived session would
    otherwise accumulate them.  At 24 session partitions on 8 cores the
    small XS round plans at one wave of 8."""
    corpus, corpus_dir = xs
    tables = load_corpus(spark, corpus_dir)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "24")
    try:
        store = FailingCommit(str(tmp_path_factory.mktemp("leak")))
        with pytest.raises(RuntimeError, match="simulated commit failure"):
            run_crawl(
                spark, store, tables["pages"], tables["robots"],
                tables["seeds"], _cfg(corpus),
            )
        assert store.round_partitions == "8"
        assert spark.conf.get(key) == "24"
    finally:
        spark.conf.set(key, prev)
    assert store.latest() == 0
    assert jsc.getPersistentRDDs().size() == before


def test_bare_run_round_plans_statically_and_restores(
    spark, xs, tmp_path_factory
):
    """run_round owns its planning: called with nothing around it and AQE
    explicitly on, it commits with AQE off at the round's partition count
    (one wave of 8 on the 8-core fixture), and after a clean round and a
    raising one alike the session reads AQE on and its prior 24
    partitions again."""
    corpus, corpus_dir = xs
    tables = load_corpus(spark, corpus_dir)
    aqe, shuffle = "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions"
    prev_aqe, prev_shuffle = spark.conf.get(aqe, None), spark.conf.get(shuffle)
    spark.conf.set(aqe, "true")
    spark.conf.set(shuffle, "24")
    pidx = pages_index(tables["pages"]).persist()
    try:
        args = (pidx, tables["robots"], _cfg(corpus), 0)
        ok = SnapStore(str(tmp_path_factory.mktemp("bare_ok")))
        bootstrap(spark, ok, tables["seeds"])
        run_round(spark, ok, 0, *args)
        assert ok.latest() == 1
        assert (spark.conf.get(aqe), spark.conf.get(shuffle)) == ("true", "24")

        failing = FailingCommit(str(tmp_path_factory.mktemp("bare_fail")))
        bootstrap(spark, failing, tables["seeds"])
        with pytest.raises(RuntimeError, match="simulated commit failure"):
            run_round(spark, failing, 0, *args)
        assert (failing.round_aqe, failing.round_partitions) == ("false", "8")
        assert (spark.conf.get(aqe), spark.conf.get(shuffle)) == ("true", "24")
    finally:
        pidx.unpersist()
        spark.conf.set(shuffle, prev_shuffle)
        if prev_aqe is None:
            spark.conf.unset(aqe)
        else:
            spark.conf.set(aqe, prev_aqe)


def test_preseen_bootstrap_is_never_fetched(
    spark, corpus, corpus_dir, tmp_path_factory
):
    """bootstrap takes the crawl's pre-seen set P: snapshot 0's manifest
    carries the same four keys as a seeds-only bootstrap, with n_seen_end
    = |P| observed on the seen write.  A crawl resumed from it
    (seeds=None) never fetches a url of P — two seeds and four pages the
    seeds-only crawl fetches in rounds 0-2 — and each later manifest
    chains n_seen_end and fetch_seq_end to the seen and lineage row
    counts of its snapshot."""
    tables = load_corpus(spark, corpus_dir)
    page_urls = {p["url"] for p in corpus.pages}
    picked = [
        f"http://{h}.example.test/p/{i}"
        for h, i in (("h2", 2), ("h4", 1), ("h5", 2), ("h6", 2))
    ]
    assert set(picked) <= page_urls
    pre = sorted({canon(u) for u, _ in corpus.seeds[:2]} | set(picked))
    seen0 = spark.createDataFrame(
        [(hash64(u), u, -1) for u in pre], SEEN_SCHEMA
    )
    store = SnapStore(str(tmp_path_factory.mktemp("preseen")))
    bootstrap(spark, store, tables["seeds"], seen0)
    n_frontier = len({canon(u) for u, _ in corpus.seeds})
    assert store.manifest(0)["metrics"] == {
        "round": -1,
        "fetch_seq_end": 0,
        "n_seen_end": len(pre),
        "frontier_rows": n_frontier,
    }

    cfg = EngineConfig(
        default_budget=corpus.default_budget,
        budget_overrides=corpus.budget_overrides,
        max_rounds=3,
        salt=4,
    )
    assert run_crawl(
        spark, store, tables["pages"], tables["robots"], None, cfg
    ) == 3
    fetched = {r["url"] for r in store.read(spark, "lineage").collect()}
    assert fetched and not fetched & set(pre)
    for sid in range(1, 4):
        m = store.manifest(sid)["metrics"]
        assert m["n_seen_end"] == store.read(spark, "seen", sid).count()
        assert m["fetch_seq_end"] == store.read(spark, "lineage", sid).count()
