"""The crawl loop — each round is one DataFrame pipeline (SURVEY.md §3.2).

Per round, exactly the pinned semantics the refspec oracle implements
(refspec/crawler.py): anti-join the frontier against the seen set, robots
gate, per-host top-B(host) selection under a total order, fetch = join
against the pages index, Arrow-UDF text/link extraction, lineage append,
lattice-merged frontier advance, manifest-last snapshot commit.

Scale notes (the 10^10 story, SURVEY.md §4):
- Shuffles per round: anti-join exchange on url_hash, politeness window
  exchange on (host, salt) then host, frontier-merge exchange on url_hash.
  With frontier+seen stored bucketed by url_hash (Iceberg bucket(url_hash))
  the url_hash exchanges become storage-partitioned no-ops.
- Partitions per round: every shuffle of a round runs at
  n_round = min(P, cores x ceil(frontier_rows / (cores x batch)))
  (round_partitions; P = spark.sql.shuffle.partitions, cores =
  defaultParallelism, batch = the pinned 1,000-row in-memory cache batch,
  frontier_rows from the previous manifest).  A small round runs whole
  waves of one task per core instead of P mostly-empty tasks, each paying
  task deserialization and an Arrow UDF call; a round above about
  P x batch frontier rows keeps P, so cluster-scale rounds are unchanged.
  The cached pages index keeps P (it is planned once, outside any round).
- The pages index join keys on url_hash; at cluster scale pages is bucketed
  the same way.  Only (url_hash, html) for the ≤ Σ B(host) SELECTED rows
  per round crosses the wire — html is pruned everywhere else.
- fetch_seq is a dense rank by url over the per-round SELECTED set
  (bounded by Σ B(host), i.e. politeness-budget-sized, NOT frontier-sized),
  computed without a single-partition window: the narrow lineage rows are
  range-partitioned by url, ranked within each partition and offset by
  per-partition counts (_global_seq_by_url); text and links never cross
  that exchange.  The frontier itself never passes through a global
  window.
- The optional bloom pre-filter (engine/filters.py) prunes the anti-join
  probe side; the exact anti-join stays authoritative (filters prune,
  never decide).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import (
    DataFrame,
    Observation,
    SparkSession,
    Window,
    functions as F,
)

from engine.frontier import (
    SEEN_SCHEMA,
    frontier_from_seeds,
    merge_frontier,
    with_host,
)
from engine.politeness import select_top_b
from engine.robots import robots_gate
from engine.snapstore import SnapStore
from engine.udfs import compress_html_udf, extract_both_z_udf, hash64_udf


@dataclass(frozen=True)
class EngineConfig:
    default_budget: int = 2
    budget_overrides: dict[str, int] = field(default_factory=dict)
    max_rounds: int = 100
    salt: int = 8  # politeness-window salt groups (1 = single-phase)


class session_conf:
    """Scoped override of session conf keys, restored on any exit.

    Restoring distinguishes "explicitly set on this session" from
    "inheriting the default": restoring an inherited default as an
    explicit value would pin it for the rest of the session even on
    deployments whose build default differs, so an inherited key is unset
    again instead.  ``get()`` with a None default returns None iff the key
    is unset on this session.  Every key's prior value is recorded before
    the conf is touched, so a failing ``set()`` loses nothing.

    Usable as a context manager or through ``apply()``/``restore()`` from
    a caller's own ``finally``.  Nesting is safe: an inner override
    records the outer one's explicit value and restores exactly that.
    """

    def __init__(self, spark: SparkSession, values: dict[str, str]):
        self.spark, self.values = spark, values

    def apply(self) -> None:
        self.prev = {k: self.spark.conf.get(k, None) for k in self.values}
        for k, v in self.values.items():
            self.spark.conf.set(k, v)

    def restore(self) -> None:
        for k, prev in self.prev.items():
            if prev is not None:
                self.spark.conf.set(k, prev)
            else:
                self.spark.conf.unset(k)

    def __enter__(self):
        self.apply()
        return self

    def __exit__(self, *exc):
        self.restore()
        return False


class static_planning(session_conf):
    """Context manager: adaptive query execution off (run_round's
    docstring says why), the previous setting restored on exit."""

    KEY = "spark.sql.adaptive.enabled"

    def __init__(self, spark: SparkSession):
        super().__init__(spark, {self.KEY: "false"})


SHUFFLE_KEY = "spark.sql.shuffle.partitions"


def round_partitions(
    p: int, cores: int, batch: int, frontier_rows: int
) -> int:
    """Shuffle partitions for a round whose frontier has ``frontier_rows``
    rows: whole waves of one task per core, one cache batch per task per
    wave, capped at the session's ``p`` — min(p, cores x ceil(rows /
    (cores x batch))).  An empty frontier still gets one wave."""
    waves = max(1, -(-frontier_rows // (cores * batch)))
    return min(p, cores * waves)


def _global_seq_by_url(
    rows: DataFrame, offset: int, n_par: int
) -> tuple[DataFrame, DataFrame]:
    """``rows`` with a dense global rank over ``url`` appended as
    ``fetch_seq``, without a single-partition window.

    Phase 1: range-partition by url (partitions are ordered slices of the
    url domain).  Phase 2: row_number within each partition (parallel).
    Phase 3: add each partition's cumulative base — an n_par-row collect on
    the persisted range-partitioned frame, folded in as a literal map.
    fetch_seq = offset + base[pid] + local_rank - 1 == offset + global rank
    by url, independent of where the range sampler places the boundaries.

    Every column of ``rows`` crosses the range exchange, so keep them
    narrow (the caller passes the lineage columns; text and links stay
    behind).  The range-partitioned frame is PERSISTED before the counts
    collect so the counts job and the caller's later write observe the
    SAME boundaries and pid assignment — without the pin, a cache eviction
    between the two jobs could re-sample different range boundaries and
    mis-base the ranks.  Returns (ranked rows, handle to unpersist).
    """
    rp = (
        rows.repartitionByRange(n_par, "url")
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    try:
        counts = rp.groupBy("_pid").count().collect()
    except BaseException:
        rp.unpersist()
        raise
    base: dict[int, int] = {}
    acc = offset
    for row in sorted(counts, key=lambda r: r["_pid"]):
        base[row["_pid"]] = acc
        acc += row["count"]
    kv = []
    for pid, b in sorted(base.items()):
        kv += [F.lit(pid), F.lit(b)]
    base_col = (
        F.create_map(*kv)[F.col("_pid")] if kv else F.lit(offset)
    )
    w_local = Window.partitionBy("_pid").orderBy("url")
    ranked = rp.select(
        *rows.columns,
        (base_col + F.row_number().over(w_local) - 1)
        .cast("long")
        .alias("fetch_seq"),
    )
    return ranked, rp


def pages_index(pages: DataFrame) -> DataFrame:
    """url_hash + as-of snapshot resolution (SURVEY.md §2 C5): keep, per
    url, the row with the greatest warc_ts.  One shuffle on url_hash; on a
    cluster this index is computed once and stored bucketed by url_hash.

    The body column is stored COMPRESSED (html_z = zlib-1, the WARC-gzip
    convention real crawl stores use): the index-build shuffle, the cache,
    every round's fetch join, and the Arrow hop to the extractor all move
    ~10x fewer bytes, and only the extractor inflates the selected pages
    (engine/udfs.extract_both_z_udf).  Profiling the uncompressed design
    showed the wide-parallelism ceiling was exactly this: each round
    materialized EVERY cached html value through the join's cache scan
    (UnsafeRow.getBinary/copyMemory dominated JFR samples) to fetch <=16%
    of them, saturating the memory subsystem at high core counts.

    The trailing explicit repartition pins HashPartitioning(url_hash, P)
    on the output (AQE would otherwise coalesce it away at persist time):
    when the caller persists this index, every round's fetch join sees a
    cached side that already satisfies its distribution requirement, so
    the html column NEVER crosses a shuffle after the one-time build —
    only the politeness-budget-sized selected set shuffles per round.
    This is the local analog of storing pages bucketed by url_hash in
    Iceberg (storage-partitioned join)."""
    spark = pages.sparkSession
    n_par = int(spark.conf.get(SHUFFLE_KEY))
    h = (
        pages.withColumn("url_hash", hash64_udf("url"))
        .withColumn("html_z", compress_html_udf("html"))
        .drop("html")
    )
    w = Window.partitionBy("url_hash").orderBy(
        F.col("warc_ts").desc(), F.col("url").asc()
    )
    return (
        h.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .repartition(n_par, "url_hash")
    )


def bootstrap(
    spark: SparkSession, store: SnapStore, seeds: DataFrame
) -> None:
    """Commit snapshot 0: seeded frontier + empty seen.  The frontier row
    count rides the write as an observed metric so the crawl loop never
    needs a separate count job to decide whether to run a round."""
    frontier0 = frontier_from_seeds(seeds)
    fobs = Observation()
    frontier0 = frontier0.observe(
        fobs, F.count(F.lit(1)).alias("frontier_rows")
    )
    seen0 = spark.createDataFrame([], SEEN_SCHEMA)
    store.commit_state(
        0,
        {"frontier": frontier0, "seen": seen0},
        {"round": -1, "fetch_seq_end": 0, "n_seen_end": 0},
        metrics_fn=lambda: {
            "frontier_rows": int(fobs.get["frontier_rows"] or 0)
        },
    )


def run_round(
    spark: SparkSession,
    store: SnapStore,
    rnd: int,
    pages_idx: DataFrame,
    robots: DataFrame,
    cfg: EngineConfig,
    fetch_seq_offset: int,
    seen_filter=None,
) -> dict:
    """Execute round ``rnd`` from snapshot ``rnd`` to snapshot ``rnd+1``.

    Returns the metrics dict that was committed with the snapshot.
    ``seen_filter`` optionally wraps the anti-join probe side with a
    store-backed seen filter (engine/filters.StoreBloomFilter /
    StoreCuckooFilter) — correctness-neutral.

    Planning: the round decides it, whoever calls it.  It overrides two
    session keys at its top and restores both in its ``finally`` on any
    exit (an inherited key is unset again, an explicit one reset):

    - ``spark.sql.shuffle.partitions`` = ``round_partitions(P, cores,
      batch, frontier_rows)`` (module scale notes), so every shuffle the
      round plans runs in whole waves of one task per core;
    - ``spark.sql.adaptive.enabled`` = false.  Every crawl exchange is
      pinned by design (explicit repartitions, bucket-analog partitioning),
      so AQE's partition coalescing is inert here, and its skew handling is
      superseded by the host-salted politeness window, the crawl's designed
      skew strategy.  What AQE still costs is real and linear in rounds:
      each adaptive query stage is materialized job by job with a
      driver-serial replan between stages, a fixed per-round latency that
      erodes wide-executor scaling — measured 1.1-2.0 s/round at local[16]
      (10-20% of a round), a wash at local[4].  AQE stays the session
      default for the ad-hoc/ops suite (engine/session.py), where
      data-dependent skew (minhash buckets, host rollups) is real.

    The override mutates shared session state: a round assumes exclusive
    use of its session while it runs (concurrent queries on the same
    session would plan under the round's settings; give them their own
    ``spark.newSession()``).

    Spark jobs per round (the scaling-efficiency lever — idle-core gaps
    between jobs are what erode efficiency as cores grow): all round
    metrics are observed on the table writes themselves — no separate
    aggregation, no per-round lineage count, no frontier empty-check job
    (both ride the manifest).  A round is still not one job:
    ``perfbench/run.py --trace 1`` (seed 1, local[4], P=12) measures 13
    jobs and 78 tasks per round on budget_round (14 and 79 on a one-round
    S crawl).  budget_round's 13 are 2 parquet schema/listing reads, 5
    under the fetch_seq partition-counts collect (which also fills the
    ext/tagged caches) and 6 across the four table writes submitted in
    PARALLEL, broadcast builds included.
    """
    m_prev = store.manifest(rnd)["metrics"]
    n_par = round_partitions(
        int(spark.conf.get(SHUFFLE_KEY)),
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.inMemoryColumnarStorage.batchSize")),
        m_prev["frontier_rows"],
    )
    # every shuffle this round plans — explicit repartitions, politeness
    # windows, anti-joins, frontier merge, the four writes — runs at
    # n_par, statically planned
    planning = session_conf(
        spark, {SHUFFLE_KEY: str(n_par), static_planning.KEY: "false"}
    )
    tagged = ext = rp_lineage = None
    try:
        planning.apply()
        frontier = store.read(spark, "frontier", rnd)
        seen = store.read(spark, "seen", rnd)

        # 1. candidates := frontier ANTI seen (op C1).  With a bloom filter
        # the probe side splits: `_maybe_seen` rows take the exact anti-join,
        # provably-unseen rows skip it (no false negatives ⇒ identical
        # result — filters prune, never decide; equivalence-tested in
        # tests/test_filters).
        seen_keys = seen.select("url_hash")
        if seen_filter is not None:
            tagged0 = seen_filter(frontier)
            maybe = tagged0.filter(F.col("_maybe_seen")).drop("_maybe_seen")
            definite = tagged0.filter(~F.col("_maybe_seen")).drop(
                "_maybe_seen"
            )
            cand = maybe.join(seen_keys, "url_hash", "left_anti").unionByName(
                definite
            )
        else:
            cand = frontier.join(seen_keys, "url_hash", "left_anti")

        # 2. robots gate (op B4): blocked rows exit to seen, no lineage.
        # PERSISTED: the politeness path (allowed) and the seen delta
        # (blocked) both read it, so the anti-join + gate run once per
        # round, not twice.
        tagged = robots_gate(cand, robots).persist()
        blocked = tagged.filter(F.col("robots_blocked")).drop("robots_blocked")
        allowed = tagged.filter(~F.col("robots_blocked")).drop("robots_blocked")

        # 3. politeness: per-host top-B under the pinned total order (op G1)
        selected = select_top_b(
            allowed, cfg.default_budget, cfg.budget_overrides, cfg.salt
        )

        # 4. fetch = left join pages index on url_hash (ops C4/C5).  The
        # selected side is repartitioned on url_hash FIRST, for two reasons:
        # (a) the persisted pages index is pinned to HashPartitioning
        # (url_hash, P), so a shuffled join needs no exchange on the html
        # side — when n_par != P the planner re-targets this repartition to
        # the index's P partitions instead of moving the index;
        # (b) the fetch batch is politeness-budget-sized, small in bytes but
        # CPU-heavy to extract: hash-spreading it keeps the Arrow extraction
        # (and the link explode in step 7) balanced across tasks.  At
        # budget_round's size the planner broadcasts the WHOLE cached index
        # (about 7 MB) every round instead — BroadcastHashJoin LeftOuter
        # BuildRight, and the selected side keeps n_par partitions —
        # because the round is statically planned and the InMemoryRelation's
        # size estimate is under the 10 MiB autoBroadcastJoinThreshold.
        fetched = selected.repartition(n_par, "url_hash").join(
            pages_idx.select("url_hash", "html_z"), "url_hash", "left"
        )

        # 5. Arrow-UDF extraction (ops F3/F4 fused — engine/pure.py
        # extract_text_and_links): the COMPRESSED body crosses to Python once,
        # is inflated and PARSED once per page, then dropped immediately
        ext = (
            fetched.withColumn("_eb", extract_both_z_udf("html_z", "url"))
            .withColumn(
                "status",
                F.when(F.col("html_z").isNotNull(), F.lit("200")).otherwise(
                    F.lit("404")
                ),
            )
            .withColumn("partition_id", F.spark_partition_id())
            .withColumn("text", F.col("_eb.text"))
            .withColumn("links", F.col("_eb.links"))
            .drop("html_z", "_eb")
        )
        ext = ext.persist()

        # 6. lineage with dense fetch_seq = global rank by url.  NOT a
        # single-partition Window.orderBy (that serializes the whole selected
        # set through one task — an OOM at cluster-scale budgets): the
        # lineage rows themselves are range-partitioned by url, ranked
        # locally per partition and offset by per-partition counts (one
        # n_par-row collect on the persisted range-partitioned rows — the
        # round's only action before the writes, which also fills the
        # ext/tagged caches).
        # Every lineage column is narrow; text and links stay in ext.
        lineage, rp_lineage = _global_seq_by_url(
            ext.select(
                F.lit(rnd).alias("round"),
                "partition_id",
                "host",
                "url_hash",
                "url",
                "status",
                F.when(F.col("links").isNull(), 0)
                .otherwise(F.size("links"))
                .alias("n_links"),
                F.when(F.col("text").isNull(), 0)
                .otherwise(F.octet_length("text"))
                .alias("text_bytes"),
            ),
            fetch_seq_offset,
            n_par,
        )
        # round metrics observe the lineage WRITE — no separate agg job.
        # (n_hosts is approx_count_distinct: observed metrics cannot contain
        # distinct aggregates; it is a monitoring figure, never compared.)
        obs = Observation()
        lineage = lineage.observe(
            obs,
            F.count(F.lit(1)).alias("n_selected"),
            F.sum(F.when(F.col("status") == "200", 1).otherwise(0)).alias(
                "n_200"
            ),
            F.sum("n_links").alias("n_links"),
            F.sum("text_bytes").alias("text_bytes"),
            F.approx_count_distinct("host").alias("n_hosts"),
        )

        # 7. advance state.  `removed` is selected ∪ robots-blocked — cheap
        # projections over the ext/tagged caches.  The seen table is
        # APPEND-only: this round commits just `seen_delta` (O(round), not
        # O(crawl history)).
        removed = ext.select("url_hash", "url").unionByName(
            blocked.select("url_hash", "url")
        )
        seen_delta = removed.withColumn("fetched_round", F.lit(rnd)).select(
            "url_hash", "url", "fetched_round"
        )
        seen_next = seen.unionByName(seen_delta)
        # cumulative seen size rides the manifest (n_seen_end) so the adaptive
        # filter engage rule (engine/filters.adaptive_seen_filter_factory) is
        # an O(1) JSON read, never a seen-table count: chain from the
        # previous manifest
        n_seen_prev = m_prev["n_seen_end"]
        sobs = Observation()
        seen_delta_w = seen_delta.observe(
            sobs, F.count(F.lit(1)).alias("n_seen_delta")
        )

        kids = (
            ext.filter(F.col("status") == "200")
            .select(
                F.col("url").alias("src_url"),
                F.greatest(F.lit(0), F.col("priority") - 1).alias("priority"),
                (F.col("depth") + 1).alias("depth"),
                F.explode("links").alias("url"),
            )
            # the canon+hash UDF runs MAP-SIDE on the exploded links: ext is
            # already hash-spread across n_par partitions (step 4's repartition
            # on url_hash), so per-partition link counts are balanced and no
            # exchange is needed before the UDF — the exploded stream crosses
            # exactly ONE shuffle (the url_hash exchange feeding the anti-join
            # and frontier lattice merge below), not two.  (An earlier revision
            # repartitioned by url here; that predates ext's even
            # pre-partitioning and doubled the widest per-round shuffle.)
            .withColumn("url_hash", hash64_udf("url"))
        )
        kids = with_host(kids).select(
            "url_hash",
            "url",
            "host",
            "priority",
            "depth",
            F.lit(rnd + 1).alias("discovered_round"),
            "src_url",
        )
        kids = kids.join(seen_next.select("url_hash"), "url_hash", "left_anti")

        survivors = frontier.join(
            removed.select("url_hash"), "url_hash", "left_anti"
        )
        frontier_next = merge_frontier(survivors.unionByName(kids))
        # the next round's empty-check rides this write as an observed metric
        fobs = Observation()
        frontier_next = frontier_next.observe(
            fobs, F.count(F.lit(1)).alias("frontier_rows")
        )

        # pages_out: the extracted-text artifact (byte-identity invariant,
        # BASELINE.json:15 — compared verbatim against refspec texts)
        pages_out = ext.filter(F.col("status") == "200").select(
            F.lit(rnd).alias("round"), "url_hash", "url", "text"
        )

        # round metrics into the snapshot manifest (B:14 "lineage + metrics") —
        # harvested from the write-side observations after the parallel table
        # writes land, before the manifest rename.  fetch_seq_end carries the
        # cumulative lineage row count forward so the next round's offset is a
        # manifest read, never an O(crawl-history) lineage scan.
        def _metrics() -> dict:
            m = obs.get
            n_selected = int(m["n_selected"] or 0)
            return {
                "round": rnd,
                "n_selected": n_selected,
                "n_200": int(m["n_200"] or 0),
                "n_404": n_selected - int(m["n_200"] or 0),
                "n_links": int(m["n_links"] or 0),
                "text_bytes": int(m["text_bytes"] or 0),
                "n_hosts": int(m["n_hosts"] or 0),
                "frontier_rows": int(fobs.get["frontier_rows"] or 0),
                "fetch_seq_end": fetch_seq_offset + n_selected,
                "n_seen_end": n_seen_prev + int(sobs.get["n_seen_delta"] or 0),
            }

        # store-backed seen filters (engine/filters.StoreBloomFilter /
        # StoreCuckooFilter) commit their per-round shard update with the
        # snapshot — executor-side, no shard bytes through the driver
        extra_tables = (
            seen_filter.delta_tables(seen_delta, seen_next)
            if seen_filter is not None
            else {}
        )
        return store.commit_state(
            rnd + 1,
            {
                "frontier": frontier_next,
                "seen": seen_delta_w,
                "lineage": lineage,
                "pages_out": pages_out,
                **extra_tables,
            },
            metrics_fn=_metrics,
            parallel=True,
        )
    finally:
        # released on every exit: a round that raises (a failed write, a
        # killed commit) must not leak its caches into a long-lived session,
        # nor its planning settings
        for df in (tagged, ext, rp_lineage):
            if df is not None:
                df.unpersist()
        planning.restore()


def run_crawl(
    spark: SparkSession,
    store: SnapStore,
    pages: DataFrame,
    robots: DataFrame,
    seeds: DataFrame | None,
    cfg: EngineConfig,
    seen_filter_factory=None,
) -> int:
    """Run (or resume — SURVEY.md §3.4) the crawl to completion.

    If the store has no committed snapshot, seeds bootstrap snapshot 0;
    otherwise the loop re-enters after the latest committed snapshot —
    a kill between data write and manifest write of round r simply re-runs
    round r (orphan dirs are overwritten; lineage never double-counts
    because visibility is manifest-gated).  Returns rounds executed.
    """
    if store.latest() is None:
        if seeds is None:
            raise ValueError("empty store and no seeds")
        bootstrap(spark, store, seeds)
    else:
        # resume: a kill between data write and manifest write left
        # invisible orphan data dirs — reclaim them before re-running
        store.gc_orphans()

    # the pages index (url_hash + as-of dedup) is round-invariant: compute
    # once, keep it cached across rounds (cluster analog: stored bucketed)
    pages_idx = pages_index(pages).persist()
    rounds_done = 0
    try:
        while True:
            sid = store.latest()
            rnd = sid  # next round number == current snapshot id
            if rnd >= cfg.max_rounds:
                break
            # empty-check and fetch_seq offset from the previous
            # round's manifest metrics: O(1) JSON reads, never a
            # frontier or lineage scan
            m_prev = store.manifest(sid)["metrics"]
            if m_prev["frontier_rows"] == 0:
                break
            seen_filter = (
                seen_filter_factory(spark, store, sid)
                if seen_filter_factory
                else None
            )
            run_round(
                spark,
                store,
                rnd,
                pages_idx,
                robots,
                cfg,
                m_prev["fetch_seq_end"],
                seen_filter,
            )
            rounds_done += 1
    finally:
        # released on every exit: long-lived sessions would leak it
        pages_idx.unpersist()
    return rounds_done


def fetch_log(spark: SparkSession, store: SnapStore, sid: int | None = None) -> DataFrame:
    """(round, url, status, host) ordered by (round, url) — the crawl
    ordering artifact compared against refspec (op H1 order_fetch_log)."""
    lin = store.read(spark, "lineage", sid)
    return lin.select("round", "url", "status", "host").orderBy("round", "url")
