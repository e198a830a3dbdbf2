"""Crawl-domain operators (SURVEY.md §2 groups A, E, F1/F3/F4) as registry
entries.

These run over the deterministic XS synthetic corpus (fixtures/gen.py,
seed-free pure-hash generation — identical on every invocation), so the
driver's rows-only re-run check is stable.  Their full semantics are
oracled against refspec in pytest (tests/test_crawl_vs_refspec.py,
tests/test_pure.py); the entries here additionally give the driver a
value-hash oracle wherever a SQL twin exists (canonicalize_url on a
controlled url family, hash64 via sha256 hex in functions.py).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from engine.io import load_table
from engine.ops import op
from engine.ops.goldens import golden_oracle as _golden
from engine.udfs import canon_udf, extract_links_udf, extract_text_udf


def _xs_pages(spark):
    from fixtures.gen import gen_corpus

    c = gen_corpus("XS")
    return spark.createDataFrame(
        [
            (p["url"], p["warc_ts"], bytearray(p["html"]), p["text"], p["lang"])
            for p in c.pages
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


@op(
    "canonicalize_url",
    "SELECT doc_id, 'http://h' || doc_id || '.test/p/' || doc_id AS canon_url "
    "FROM documents",
    "F",
)
def canonicalize_url(spark, sf):
    # full F1 canon over a controlled messy-url family whose canonical form
    # is SQL-computable: uppercase host, default port, fragment — the
    # general case (dot-segments, %-escapes, query sort) is refspec- and
    # property-tested in tests/test_pure.py
    docs = load_table(spark, sf, "documents")
    messy = F.concat(
        F.lit("HTTP://H"),
        F.col("doc_id"),
        F.lit(".TEST:80/p/"),
        F.col("doc_id"),
        F.lit("#top"),
    )
    return docs.select("doc_id", canon_udf(messy).alias("canon_url"))


@op("extract_text", _golden("extract_text"), "F")
def extract_text_op(spark, sf):
    pages = _xs_pages(spark)
    return pages.select(
        "url", extract_text_udf("html").alias("text")
    )


@op("extract_links", _golden("extract_links"), "F")
def extract_links_op(spark, sf):
    pages = _xs_pages(spark)
    return pages.select(
        "url",
        F.explode(extract_links_udf("html", "url")).alias("dst"),
    )


_SCAN_SEEDS_SQL = (
    # closed-form oracle: the XS seed list is pinned fixture config; the
    # canonical urls are golden under the pinned canon rules (lowercase,
    # strip :80, drop fragment) and the hash is INDEPENDENTLY recomputed —
    # DuckDB sha256 + hex→uint64→int64 two's-complement, the exact
    # engine.pure.hash64 definition (first 8 bytes, big-endian signed)
    "WITH s(url, priority) AS (VALUES "
    "('http://h0.example.test/p/0', 100), "
    "('http://h1.example.test/p/0', 99), "
    "('http://h2.example.test/p/0', 98), "
    "('http://h3.example.test/p/0', 97)), "
    "h AS (SELECT url, priority, "
    "('0x' || substr(sha256(url), 1, 16))::UBIGINT::HUGEINT AS u FROM s) "
    "SELECT CAST(CASE WHEN u >= 9223372036854775808::HUGEINT "
    "THEN u - 18446744073709551616::HUGEINT ELSE u END AS BIGINT) AS url_hash, "
    "url, split_part(url, '/', 3) AS host, priority, 0 AS depth, "
    "0 AS discovered_round, '' AS src_url FROM h"
)


@op("scan_seeds", _SCAN_SEEDS_SQL, "A")
def scan_seeds(spark, sf):
    from engine.frontier import frontier_from_seeds
    from fixtures.gen import gen_corpus

    c = gen_corpus("XS")
    seeds = spark.createDataFrame(c.seeds, "url string, priority int")
    return frontier_from_seeds(seeds)


@op(
    "scan_robots",
    # the XS robots config restated as closed-form expected rows
    "SELECT * FROM (VALUES "
    "('h0.example.test', '/private/', 1), "
    "('h1.example.test', '/p/3|/private/', 2), "
    "('h2.example.test', '/private/', 1), "
    "('h3.example.test', '/private/', 1)"
    ") t(host, disallow_rules, n_rules)",
    "A",
)
def scan_robots(spark, sf):
    # output projected to scalar columns: the driver's rows-only hasher
    # sorts values with pandas, which cannot factorize list cells — the
    # disallow rules ride as a sorted '|'-joined string (same information,
    # deterministic order)
    from fixtures.gen import gen_corpus

    c = gen_corpus("XS")
    raw = spark.createDataFrame(
        sorted(c.robots.items()), "host string, disallow array<string>"
    )
    return raw.select(
        "host",
        F.array_join(F.sort_array("disallow"), "|").alias("disallow_rules"),
        F.size("disallow").alias("n_rules"),
    )


@op("snapshot_append", "SELECT range AS round FROM range(0, 8)", "A")
def snapshot_append(spark, sf):
    # append-table semantics: two commits, read sees the union
    from engine.snapstore import SnapStore

    store = SnapStore(tempfile.mkdtemp(prefix="snapop_"))
    df1 = spark.range(0, 5).select(F.col("id").alias("round"))
    df2 = spark.range(5, 8).select(F.col("id").alias("round"))
    store.commit_state(0, {"lineage": df1})
    store.commit_state(1, {"lineage": df2})
    return store.read(spark, "lineage", 1)


@op("snapshot_overwrite", "SELECT range AS url_hash FROM range(0, 3)", "A")
def snapshot_overwrite(spark, sf):
    from engine.snapstore import SnapStore

    store = SnapStore(tempfile.mkdtemp(prefix="snapop_"))
    store.commit_state(0, {"frontier": spark.range(0, 10).select(F.col("id").alias("url_hash"))})
    store.commit_state(1, {"frontier": spark.range(0, 3).select(F.col("id").alias("url_hash"))})
    return store.read(spark, "frontier", 1)  # replaced: 3 rows


@op(
    "snapshot_diff",
    "SELECT range AS round FROM range(5, 12)",
    "A",
)
def snapshot_diff(spark, sf):
    # Iceberg-style incremental read: exactly the rows appended in
    # (snapshot 0, snapshot 2] — three commits land [0,5), [5,9), [9,12);
    # the diff is [5,12).  The scan touches only the two delta layers
    # (O(delta), not O(history)); the oracle is the closed form.
    from engine.snapstore import SnapStore

    store = SnapStore(tempfile.mkdtemp(prefix="snapop_"))
    for i, (lo, hi) in enumerate([(0, 5), (5, 9), (9, 12)]):
        store.commit_state(
            i, {"lineage": spark.range(lo, hi).select(F.col("id").alias("round"))}
        )
    return store.read_incremental(spark, "lineage", 0, 2)


@op("time_travel_read", "SELECT range AS url_hash FROM range(0, 10)", "A")
def time_travel_read(spark, sf):
    from engine.snapstore import SnapStore

    store = SnapStore(tempfile.mkdtemp(prefix="snapop_"))
    store.commit_state(0, {"frontier": spark.range(0, 10).select(F.col("id").alias("url_hash"))})
    store.commit_state(1, {"frontier": spark.range(0, 3).select(F.col("id").alias("url_hash"))})
    return store.read(spark, "frontier", 0)  # AS OF snapshot 0: 10 rows


def _xs_crawl(spark, max_rounds: int):
    """The flagship crawl on the XS corpus from its seeds, at most
    ``max_rounds`` rounds, into a fresh store; returns the store."""
    from engine.crawl import EngineConfig, run_crawl
    from engine.snapstore import SnapStore
    from fixtures.gen import gen_corpus

    c = gen_corpus("XS")
    robots = spark.createDataFrame(
        [
            (h, d, c.crawl_delay_ms.get(h, 0))
            for h, d in sorted(c.robots.items())
        ],
        "host string, disallow array<string>, crawl_delay_ms int",
    )
    seeds = spark.createDataFrame(c.seeds, "url string, priority int")
    store = SnapStore(tempfile.mkdtemp(prefix="xscrawl_"))
    cfg = EngineConfig(
        default_budget=c.default_budget,
        budget_overrides=c.budget_overrides,
        max_rounds=max_rounds,
        salt=4,
    )
    run_crawl(spark, store, _xs_pages(spark), robots, seeds, cfg)
    return store


@op("crawl_round", None, "A")
def crawl_round(spark, sf):
    """One full crawl round on the XS corpus — the flagship pipeline
    (anti-join → robots gate → politeness window → fetch join → Arrow
    extraction → lineage).  entry() runs the same one-round crawl on a
    corpus built from sf0.001 documents (engine/entryquery.py)."""
    return _xs_crawl(spark, 1).read(spark, "lineage", 1)


@op("crawl_lineage_agg", _golden("crawl_lineage_agg"), "A")
def crawl_lineage_agg(spark, sf):
    """Per-round lineage rollup of the FULL flagship crawl on the XS
    corpus — the crawl pipeline's first value-hash driver row.  The
    pinned oracle VALUES come from refspec.run_crawl (the independent
    single-process executable spec, refspec/crawler.py:78), so a driver
    hash match re-proves engine≡refspec on the official record — crawl
    ordering, robots gating, politeness budgets, link extraction, and
    per-url text byte counts all fold into these aggregates."""
    lin = _xs_crawl(spark, 100).read(spark, "lineage")
    return lin.groupBy("round").agg(
        F.count("*").alias("n_fetched"),
        F.sum((F.col("status") == "200").cast("long")).alias("n_ok"),
        F.sum((F.col("status") != "200").cast("long")).alias("n_miss"),
        F.countDistinct("host").alias("n_hosts"),
        F.sum(F.col("n_links").cast("long")).alias("links_total"),
        F.sum(F.col("text_bytes").cast("long")).alias("text_bytes_total"),
    )


@op("crawl_fetch_log", _golden("crawl_fetch_log"), "A")
def crawl_fetch_log(spark, sf):
    """The full flagship-crawl fetch SEQUENCE on the XS corpus — every
    (round, fetch_seq, url, status, host) row of the lineage, pinned
    row-for-row from refspec.run_crawl (refspec/crawler.py:147 assigns
    fetch_seq as a dense counter over selected urls in (round, url)
    order; engine/crawl.py's _global_seq_by_url computes the identical
    rank with a range-partitioned two-level sequence, no single-partition
    window).  A driver hash match on this op oracles the north rule's
    "matching crawl ordering" claim itself — the exact fetch order, not
    just its per-round aggregate (crawl_lineage_agg)."""
    return _xs_crawl(spark, 100).read(spark, "lineage").select(
        F.col("round").cast("int").alias("round"),
        F.col("fetch_seq").cast("long").alias("fetch_seq"),
        "url",
        "status",
        "host",
    )


@op(
    "sink_bucketed_seen",
    # round-trip fidelity oracle: what was written bucketed must read back
    # as exactly the source projection (the LAYOUT property — bucketed
    # scan joins with zero exchange — is plan-asserted in
    # tests/test_plans.py::test_bucketed_seen_join_is_exchange_free)
    "SELECT substr(sha256(text), 1, 16) AS url_h, doc_id FROM documents",
    "A",
)
def sink_bucketed_seen(spark, sf):
    # The 10^10 seen-set layout (SURVEY.md §4) as a user-facing sink op:
    # persist the seen table BUCKETED by the url-hash key (the Iceberg
    # bucket-transform analog), one file per bucket (repartition and
    # bucketBy share Murmur3(key) % n, so each task writes exactly its
    # bucket), per-bucket sorted — the layout that turns every later
    # anti-join/equi-join on the key into a storage-partitioned local
    # merge with no wire shuffle.
    import shutil
    import tempfile
    import uuid

    from engine.io import load_table

    seen = load_table(spark, sf, "documents").select(
        F.substring(F.sha2("text", 256), 1, 16).alias("url_h"), "doc_id"
    )
    # per-invocation table name + cleaned-up temp dir: a fixed global name
    # collides across concurrent/re-entrant runs and leaks the mkdtemp path
    # (ADVICE r2).  The result is materialized from the bucketed table, then
    # catalog entry and files are dropped — the layout property itself is
    # exercised (with scoped names) in test_plans.py.
    tag = uuid.uuid4().hex[:12]
    tbl = f"sink_seen_bucketed_{tag}"
    path = tempfile.mkdtemp(prefix=f"sink_bucketed_seen_{tag}_")
    try:
        (
            seen.repartition(8, "url_h")
            .write.bucketBy(8, "url_h")
            .sortBy("url_h")
            .option("path", path)
            .mode("overwrite")
            .saveAsTable(tbl)
        )
        # eager localCheckpoint pins the rows in executor block storage so
        # the catalog entry + files can be dropped before returning — no
        # driver-side funnel, partitions stay distributed
        out = spark.table(tbl).select("url_h", "doc_id").localCheckpoint(eager=True)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(path, ignore_errors=True)
    return out
