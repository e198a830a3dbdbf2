"""Probabilistic seen-set operators (SURVEY.md §2 group E) as registry
entries.  `seen_exact_verify` is the load-bearing one: it runs the full
bloom-prune → exact-verify composition and its oracle is the PLAIN
anti-join SQL — passing proves the filter path is correctness-neutral."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from engine.filters import CuckooShard, bloom_shards_df, bloom_tag_store
from engine.io import load_table
from engine.ops import op
from engine.ops.goldens import golden_oracle as _golden


@op(
    "bloom_build_shards",
    "SELECT CAST(o_orderkey % 32 AS INT) AS bucket, count(*) AS n_keys "
    "FROM orders GROUP BY CAST(o_orderkey % 32 AS INT)",
    "E",
)
def bloom_build_shards_op(spark, sf):
    # shard layout check: per-bucket key counts must match the oracle's
    # pmod grouping (the bloom bytes themselves are pytest-verified)
    seen = load_table(spark, sf, "orders").select(
        F.col("o_orderkey").alias("url_hash")
    )
    return bloom_shards_df(seen, n_shards=32).select("bucket", "n_keys")


@op("bloom_prune", _golden("bloom_prune"), "E")
def bloom_prune_op(spark, sf):
    # Pruning-power summary over a probe stream that is half present keys
    # (every l_orderkey exists in orders — TPC-H referential integrity)
    # and half definitely-absent keys (shifted beyond the key domain):
    # 'present' rows must ALL come back maybe_seen=true (the
    # no-false-negative contract), absent rows split into the (bit-OR
    # commutative, hence deterministic and PINNABLE) false-positive count
    # vs pruned count.  Oracle = pinned VALUES recomputed independently in
    # pure numpy by scripts/gen_golden_oracles.py.
    seen = load_table(spark, sf, "orders").select(
        F.col("o_orderkey").alias("url_hash")
    )
    shards = bloom_shards_df(seen, n_shards=32)
    li = load_table(spark, sf, "lineitem")
    probe = li.select(
        F.col("l_orderkey").alias("url_hash"), F.lit("present").alias("probe_kind")
    ).unionByName(
        li.select(
            (F.col("l_orderkey") + F.lit(1_000_000_000)).alias("url_hash"),
            F.lit("absent").alias("probe_kind"),
        )
    )
    tagged = bloom_tag_store(probe, shards, n_shards=32)
    return tagged.groupBy("probe_kind", "_maybe_seen").agg(
        F.count("*").alias("cnt")
    )


@op(
    "seen_exact_verify",
    "SELECT l_orderkey, l_linenumber FROM lineitem WHERE NOT EXISTS "
    "(SELECT 1 FROM orders WHERE o_orderkey = l_orderkey "
    "AND o_totalprice > 100000)",
    "E",
)
def seen_exact_verify(spark, sf):
    # bloom-pruned anti-join ≡ exact anti-join (the invariant): maybe-seen
    # rows take the exact anti-join, definitely-unseen rows skip it
    seen = (
        load_table(spark, sf, "orders")
        .filter(F.col("o_totalprice") > 100000)
        .select(F.col("o_orderkey").alias("url_hash"))
    )
    shards = bloom_shards_df(seen, n_shards=32)
    probe = load_table(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("url_hash"), "l_linenumber"
    )
    tagged = bloom_tag_store(probe, shards, n_shards=32)
    maybe = tagged.filter(F.col("_maybe_seen")).drop("_maybe_seen")
    definite = tagged.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
    survivors = maybe.join(seen, "url_hash", "left_anti").unionByName(definite)
    return survivors.select(
        F.col("url_hash").alias("l_orderkey"), "l_linenumber"
    )


_CUCKOO_UPDATE_SQL = (
    # closed-form, fully INDEPENDENT oracle (no pin needed): the projection
    # below reports, per shard bucket, the key count, the kept-key count,
    # and how many kept keys the cuckoo filter reports present — which the
    # no-false-negative contract forces to equal n_kept exactly, whatever
    # fingerprint collisions or insert order did inside the shard.  A
    # driver hash-match is therefore a real proof of the delete path's
    # safety, not a regression pin.
    "SELECT CAST(o_orderkey % 16 AS INT) AS bucket, count(*) AS n_keys, "
    "count(*) FILTER (o_orderkey % 3 <> 0) AS n_kept, "
    "count(*) FILTER (o_orderkey % 3 <> 0) AS n_kept_present "
    "FROM orders GROUP BY CAST(o_orderkey % 16 AS INT)"
)


@op("cuckoo_shard_update", _CUCKOO_UPDATE_SQL, "E")
def cuckoo_shard_update(spark, sf):
    """Per-bucket cuckoo shards with DELETE (re-crawl eviction): insert all
    keys, evict every key ≡ 0 mod 3, report per-bucket counts plus the
    no-false-negative invariant (every kept key still present).  Deleted
    keys may linger via fingerprint collisions — that residue is
    order-dependent, so it stays OUT of the oracled projection and is
    property-checked in tests/test_filters.py instead."""

    def update(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = pdf["url_hash"].to_numpy(dtype=np.int64)
        shard = CuckooShard(len(keys))
        u = keys.astype(np.uint64)
        for h in u:
            assert shard.insert(int(h))
        for h in u[keys % 3 == 0]:
            shard.delete(int(h))
        kept = keys % 3 != 0
        present = shard.contains_batch(keys)
        return pd.DataFrame(
            {
                "bucket": [int(pdf["bucket"].iloc[0])],
                "n_keys": [len(keys)],
                "n_kept": [int(kept.sum())],
                "n_kept_present": [int((kept & present).sum())],
            }
        )

    seen = load_table(spark, sf, "orders").select(
        F.col("o_orderkey").alias("url_hash"),
        F.pmod("o_orderkey", F.lit(16)).alias("bucket"),
    )
    return seen.groupBy("bucket").applyInPandas(
        update, "bucket int, n_keys long, n_kept long, n_kept_present long"
    )
