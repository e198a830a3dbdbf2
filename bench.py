#!/usr/bin/env python
"""Per-round benchmark harness (driver contract: ONE JSON line on stdout).

Two parts, both timed end-to-end (plan build → materialization):

1. **Headline registry ops** at ``$SPARK_GRAFT_SF_DIR`` (default
   /root/testdata/sf0.1) — the relational/dedup/similarity core of the
   engine over the driver's TPC-H-ish tables, forced through Spark's noop
   sink so we measure execution, not result transfer.
2. **Crawl throughput** — the north-rule metric (BASELINE.json:2 "URLs
   fetched+deduped/sec"): a synthetic Common-Crawl-style frontier scaled
   to the bench SF (fixtures/gen.py corpus, cached as parquet in /tmp),
   bootstrapped with a BIG frontier (every page url, canon-hostile raw
   forms) and a pre-populated seen set (25% of urls) so every round does
   real anti-join/dedup/politeness/fetch/extract work, then
   ``engine.crawl.run_round`` for 3 rounds.

The crawl phase is measured as the MEDIAN of ``$SPARK_GRAFT_CRAWL_SAMPLES``
(default 5) runs, each in its own FRESH JVM subprocess (``--crawl-only``
mode): single-shot crawl numbers on this co-tenanted host swing up to ±2×
(BENCH/BASELINE.md documents 19.4–45.9 s for a byte-identical binary), so
a headline artifact must carry median + spread or it is evidence of
nothing (VERDICT r2 item 4).

Registry-op timings are per-query MEDIANS of $SPARK_GRAFT_QUERY_REPS
(default 3) executions — steady-state execution cost, because a fresh
JVM's FIRST execution of each query shape pays 0.5-2.5 s of one-off
JIT/codegen/scan warm-up (the BENCH_r03 early-suite inflation, bisected
in round 4); first-run times ride along in "queries_cold".

Output: {"metric": "headline_suite_sec", "value": <total sec>,
         "unit": "sec", "queries": {name: median sec, ...},
         "queries_cold": {name: first-run sec, ...}, "sf": <float>,
         "crawl": {"fetched_urls":…, "frontier_urls":…, "sec":…,
                   "urls_per_sec":…, "median_sec":…, "samples":[…]},
         "cpus": N}

Scaling-efficiency evidence (local[8] vs local[32]) is produced by
``scripts/bench_scaling.py``, which shells out to this file at two
parallelism levels (results in BENCH/BASELINE.md).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
ROUNDS = int(os.environ.get("SPARK_GRAFT_BENCH_ROUNDS", "3"))

# Registry ops benched at the full SF (others are covered by correctness
# runs; these are the ones whose cost scales with the data).
HEADLINE = [
    "anti_join_seen",       # the dedup core: 600k-row anti-join
    "equi_join_fetch",      # fetch join lineitem ⋈ orders
    "broadcast_join_robots",
    "politeness_topk",      # per-key top-B window
    "union_new_links",      # union + lattice groupBy merge
    "rollup_metrics",       # multi-grain aggregation
    "asof_join_latest",     # as-of via window
    "range_join_events",    # equi-key + interval predicate
    "order_fetch_log",      # global sort
    "dedup_exact",
    "dedup_minhash_lsh",    # shingle→minhash→band→bucket-join
    "dedup_simhash",
    "embed_cosine_topk",    # brute-force ANN baseline
    "lang_id",
    "quality_score",
    "token_count",
    "trap_guard",           # frontier-hygiene gate, pure codegen
    "redirect_resolve",     # pointer-doubling iterative self-join
    "pivot_status",         # explicit-values pivot, one shuffle
    "link_rank",            # 3 PageRank power iterations
    "tfidf_top_terms",      # explode → one-shuffle vocab agg → window top-k
    "contamination_ngrams",  # broadcast-pruned n-gram probe scan
    "dedup_incremental",    # O(batch) anti-join vs history + batch dedup
    "domain_cap_sample",    # WindowGroupLimit-pushed per-domain cap
    "c4_quality_filter",    # builtins-only quality gate, zero shuffle
    "exact_substring_contain",  # K-gram containment probe join
    "span_dedup",           # chunk-stream window dedup + re-assembly
    "unigram_freq_score",   # vocab agg + token⋈vocab scoring join
    "host_quality_rollup",  # key-dup marking join + source rollup
    "token_shard_plan",     # distributed two-level prefix sum
]


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _force(df) -> None:
    """Materialize fully without driver-side result transfer."""
    df.write.format("noop").mode("overwrite").save()


def _bench_corpus_dir(sf: float) -> tuple[str, int, int]:
    """Generate (once, cached) the bench corpus scaled to sf.

    ~800k pages/SF-unit: sf0.1 → 256 hosts × ~312 mean pages ≈ 80k urls,
    zipfian host sizes (hot-host skew is the point — SURVEY.md §4.2).
    """
    target_pages = max(2_000, int(800_000 * sf))
    n_hosts = max(16, min(512, target_pages // 300))
    mean_pages = max(6, target_pages // n_hosts)
    cache = f"/tmp/spark_graft_bench/corpus_{n_hosts}x{mean_pages}"
    marker = os.path.join(cache, "_DONE")
    if not os.path.exists(marker):
        from fixtures.gen import gen_corpus, write_parquet

        shutil.rmtree(cache, ignore_errors=True)
        corpus = gen_corpus(
            compute_text=False, n_hosts=n_hosts, mean_pages=mean_pages
        )
        write_parquet(corpus, cache)
        with open(marker, "w") as f:
            f.write("ok")
    return cache, n_hosts, mean_pages


def bench_crawl(spark, sf: float) -> dict:
    """North-rule throughput: URLs fetched+deduped/sec over ROUNDS rounds."""
    from pyspark.sql import Observation, functions as F

    from engine.crawl import EngineConfig, pages_index, run_round
    from engine.frontier import frontier_from_seeds
    from engine.io import load_corpus
    from engine.snapstore import SnapStore
    from engine.udfs import hash64_udf

    corpus_dir, n_hosts, mean_pages = _bench_corpus_dir(sf)
    t = load_corpus(spark, corpus_dir)
    pages, robots = t["pages"], t["robots"]

    # Big frontier: every page url in a canon-hostile raw form (uppercase
    # host — exercises the canonicalization UDF across the whole frontier),
    # priority = pmod(hash, 100).  Seen pre-populated with ~25% of urls so
    # the anti-join prunes real volume.
    urls = pages.select("url").distinct()
    seeds = urls.select(
        F.concat(
            F.lit("HTTP://"),
            F.upper(F.regexp_extract("url", r"http://([^/]+)/", 1)),
            F.regexp_extract("url", r"http://[^/]+(/.*)", 1),
        ).alias("url"),
        F.pmod(F.xxhash64("url"), F.lit(100)).cast("int").alias("priority"),
    )
    store = SnapStore(tempfile.mkdtemp(prefix="bench_crawl_"))
    pidx = pages_index(pages.select("url", "warc_ts", "html")).persist()

    t0 = time.time()
    seen0 = (
        urls.repartition(CPUS, "url")
        .withColumn("url_hash", hash64_udf("url"))
        .filter(F.pmod(F.col("url_hash"), F.lit(4)) == 0)
        .select("url_hash", "url", F.lit(-1).alias("fetched_round"))
    )
    n_seen0 = seen0.persist().count()
    # the frontier row count rides the bootstrap write (as in
    # engine.crawl.bootstrap): run_round sizes its shuffles from it
    fobs = Observation()
    frontier0 = frontier_from_seeds(seeds).observe(
        fobs, F.count(F.lit(1)).alias("frontier_rows")
    )
    store.commit_state(
        0,
        {"frontier": frontier0, "seen": seen0},
        {"round": -1, "n_seen_end": int(n_seen0)},
        metrics_fn=lambda: {"frontier_rows": int(fobs.get["frontier_rows"])},
    )

    budget = max(8, (mean_pages * 3) // (4 * ROUNDS))
    cfg = EngineConfig(default_budget=budget, max_rounds=ROUNDS, salt=8)
    fetched = 0
    for r in range(ROUNDS):
        m = run_round(spark, store, r, pidx, robots, cfg, fetched)
        fetched += m["n_selected"]
    sec = time.time() - t0

    frontier_n = urls.count()
    out = {
        "fetched_urls": int(fetched),
        "frontier_urls": int(frontier_n),
        "rounds": ROUNDS,
        "hosts": n_hosts,
        "budget_per_host": budget,
        "sec": round(sec, 3),
        "urls_per_sec": round(fetched / sec, 1),
    }
    shutil.rmtree(store.root, ignore_errors=True)
    return out


def _make_spark():
    from engine.session import get_spark

    spark = get_spark(
        master=f"local[{CPUS}]",
        app_name="bench",
        # 3x partitions per core (the 2-4x cluster rule): at exactly 1 task
        # per core one straggling Arrow-UDF task idles the other N-1 cores
        # for its whole tail — measured local[16] crawl rounds 120.4 s at
        # 1x vs 88.2 s at 3x (scripts/bench_scaling.py --shuffle-mult)
        shuffle_partitions=CPUS * 3,
        extra={
            "spark.ui.enabled": "false",
            "spark.driver.memory": os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM", "48g"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warmup(spark) -> None:
    # Untimed warm-up: first-query costs (codegen compilation, parquet
    # footer caches, Python-worker + Arrow channel startup) otherwise land
    # entirely on whichever op runs first (~4s on anti_join_seen at r1).
    # Measured phases should see steady-state execution only.
    from pyspark.sql import functions as F

    from engine.udfs import hash64_udf

    wa = spark.range(100_000).withColumn("k", F.pmod("id", F.lit(97)))
    wb = spark.range(1_000).withColumn("k", F.pmod("id", F.lit(97)))
    _force(wa.join(wb, "k", "left_anti"))
    _force(
        spark.range(1_000)
        .select(F.concat(F.lit("http://w/"), F.col("id")).alias("url"))
        .select(hash64_udf("url").alias("h"))
    )


def crawl_only() -> int:
    """One fresh-JVM crawl sample (spawned by main): warm-up + 3 measured
    rounds, ONE JSON line on stdout."""
    sf = _sf_from_dir(SF_DIR)
    spark = _make_spark()
    _warmup(spark)
    print(json.dumps(bench_crawl(spark, sf)))
    return 0


def _crawl_samples(k: int) -> list[dict]:
    """K crawl samples, each in its own fresh JVM subprocess — the
    single-shot number on this host swings ±2× with co-tenant load, so the
    headline artifact carries median + all samples.  Falls back to one
    in-process sample if spawning fails."""
    import subprocess

    out = []
    for i in range(k):
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--crawl-only"],
            capture_output=True,
            text=True,
            timeout=1200,
        )
        if r.returncode != 0:
            print(
                f"crawl sample {i} failed: {r.stderr[-500:]}", file=sys.stderr
            )
            continue
        out.append(json.loads(r.stdout.strip().splitlines()[-1]))
    return out


def main() -> int:
    if "--crawl-only" in sys.argv:
        return crawl_only()
    from engine.ops import REGISTRY, _load_all

    sf = _sf_from_dir(SF_DIR)

    # Crawl phase FIRST and in FRESH JVM subprocesses (median of K): crawl
    # timing is only stable in a fresh JVM (measured after the headline
    # suite the same 3 rounds swing 30-147 s from GC/ContextCleaner timing
    # in the long-lived heap), and a single fresh-JVM shot still swings
    # ±2× with host co-tenancy — median-of-K is the noise-proof headline.
    # Default 5: a median-of-5 tolerates TWO co-tenant-noised samples where
    # median-of-3 tolerates one — the observed spread on identical work is
    # up to 4x (57.975 vs 241.884 s in one r3 run minutes apart).
    k = int(os.environ.get("SPARK_GRAFT_CRAWL_SAMPLES", "5"))
    samples = _crawl_samples(k)

    spark = _make_spark()
    _load_all()
    _warmup(spark)

    if samples:
        # determinism check across fresh JVMs: the WORK must be identical,
        # only the wall time may move
        if len({s["fetched_urls"] for s in samples}) > 1:
            print(
                f"WARNING: fetched_urls differ across samples: "
                f"{[s['fetched_urls'] for s in samples]}",
                file=sys.stderr,
            )
        # interpolated median; the representative sample is the one
        # nearest it (an even count happens when a sample fails)
        secs = sorted(s["sec"] for s in samples)
        med_sec = round(statistics.median(secs), 3)
        crawl = dict(min(samples, key=lambda s: abs(s["sec"] - med_sec)))
        crawl["median_sec"] = med_sec
        crawl["samples"] = [
            {"sec": s["sec"], "urls_per_sec": s["urls_per_sec"]}
            for s in samples
        ]
        crawl["spread_sec"] = [secs[0], secs[-1]]
    else:  # spawn failure fallback: one in-process near-fresh sample
        crawl = bench_crawl(spark, sf)
        crawl["median_sec"] = crawl["sec"]
        crawl["samples"] = [
            {"sec": crawl["sec"], "urls_per_sec": crawl["urls_per_sec"]}
        ]
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()

    # Per-query MEDIAN of K executions (default 3): a first execution in
    # a fresh JVM pays 0.5-2.5 s of query-shape-specific JIT/codegen/scan
    # warm-up (bisected r4: anti_join_seen 3.29 -> 0.74 -> 0.60 s across
    # reps, identical under stock and fastdaemon workers), which is what
    # inflated BENCH_r03's early-suite numbers 1.4-2.8x after r3 moved the
    # crawl phase out of this JVM into subprocesses — r2's suite had been
    # riding the in-process crawl's warm-up.  The median is the
    # steady-state execution cost (the regression-detection signal); the
    # first-run times are retained in queries_cold so nothing is hidden.
    reps = int(os.environ.get("SPARK_GRAFT_QUERY_REPS", "3"))
    times: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in HEADLINE:
        spec = REGISTRY.get(name)
        if spec is None:
            continue
        samples = []
        for _ in range(reps):
            t0 = time.time()
            _force(spec.fn(spark, SF_DIR))
            samples.append(round(time.time() - t0, 3))
        cold[name] = samples[0]
        times[name] = round(statistics.median(samples), 3)

    times["crawl_3rounds"] = crawl["median_sec"]

    total = round(sum(times.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_suite_sec",
                "value": total,
                "unit": "sec",
                "queries": times,
                "queries_cold": cold,
                "query_reps": reps,
                "sf": sf,
                "crawl": crawl,
                "cpus": CPUS,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
