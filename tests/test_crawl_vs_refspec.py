"""End-to-end: the Spark engine must equal the refspec oracle exactly
(SURVEY.md §5.2): identical fetch sequence (round, url), identical final
URL-seen set, byte-identical extracted text per url."""

from __future__ import annotations

import pytest

from engine.crawl import EngineConfig, fetch_log, run_crawl
from engine.io import load_corpus
from engine.snapstore import SnapStore


@pytest.fixture(scope="module")
def engine_store(spark, corpus, corpus_dir, tmp_path_factory):
    tables = load_corpus(spark, corpus_dir)
    store = SnapStore(str(tmp_path_factory.mktemp("snapstore")))
    cfg = EngineConfig(
        default_budget=corpus.default_budget,
        budget_overrides=corpus.budget_overrides,
        max_rounds=100,
        salt=4,
    )
    rounds = run_crawl(
        spark, store, tables["pages"], tables["robots"], tables["seeds"], cfg
    )
    assert rounds > 1
    return store


def test_fetch_ordering_matches_refspec(spark, engine_store, ref_result):
    eng = [
        (r["round"], r["url"], r["status"], r["host"])
        for r in fetch_log(spark, engine_store).collect()
    ]
    assert eng == ref_result.fetch_log()


def test_seen_set_matches_refspec(spark, engine_store, ref_result):
    eng = {
        (r["url_hash"], r["url"])
        for r in engine_store.read(spark, "seen").collect()
    }
    ref = set(ref_result.seen.items())
    assert eng == ref


def test_texts_byte_identical(spark, engine_store, ref_result):
    eng = {
        r["url"]: r["text"]
        for r in engine_store.read(spark, "pages_out").collect()
    }
    assert set(eng) == set(ref_result.texts)
    for url, text in ref_result.texts.items():
        assert eng[url].encode("utf-8") == text.encode("utf-8"), url


def test_fetch_seq_dense_and_ordered(spark, engine_store):
    rows = sorted(
        (r["round"], r["url"], r["fetch_seq"])
        for r in engine_store.read(spark, "lineage").collect()
    )
    seqs = [r[2] for r in rows]
    assert seqs == list(range(len(rows)))


def test_seen_frontier_disjoint_invariant(spark, engine_store):
    # op H5 intersect_invariant: seen ∩ frontier = ∅ at every snapshot
    for sid in engine_store.snapshot_ids():
        seen = engine_store.read(spark, "seen", sid).select("url_hash")
        frontier = engine_store.read(spark, "frontier", sid).select("url_hash")
        assert frontier.intersect(seen).count() == 0


def test_static_planning_restores_session_state(spark):
    """ADVICE r4: the crawl loop's AQE override must return the session to
    its PRIOR state — unset stays unset (resolving to the build default),
    an explicit non-default value is restored verbatim, and an exception
    inside the block restores just the same."""
    from engine.crawl import static_planning

    KEY = static_planning.KEY
    default = None
    try:
        spark.conf.unset(KEY)
        default = spark.conf.get(KEY)  # effective build default

        # inherited default -> restored to unset (still resolves default)
        with static_planning(spark):
            assert spark.conf.get(KEY) == "false"
        assert spark.conf.get(KEY) == default

        # explicit non-default -> restored verbatim
        explicit = "false" if default == "true" else "true"
        spark.conf.set(KEY, explicit)
        with static_planning(spark):
            assert spark.conf.get(KEY) == "false"
        assert spark.conf.get(KEY) == explicit
        spark.conf.unset(KEY)

        # exceptional exit restores too
        with pytest.raises(RuntimeError, match="boom"):
            with static_planning(spark):
                raise RuntimeError("boom")
        assert spark.conf.get(KEY) == default
    finally:
        spark.conf.unset(KEY)


@pytest.mark.parametrize(
    "p, cores, batch, frontier_rows, n",
    [
        (12, 4, 1000, 8, 4),
        (12, 4, 1000, 3816, 4),
        (12, 4, 1000, 4001, 8),
        (12, 4, 1000, 10**6, 12),
        (48, 2, 1000, 93194, 48),
        (2, 8, 1000, 5, 2),
    ],
)
def test_round_partitions_rule(p, cores, batch, frontier_rows, n):
    """A round's shuffles run in whole waves of one task per core, one
    cache batch of frontier rows per task per wave, capped at the
    session's partition count."""
    from engine.crawl import round_partitions

    assert round_partitions(p, cores, batch, frontier_rows) == n
