"""Frontier schema, seed bootstrap, and the merge lattice (SURVEY.md §1.2, §2 H3).

The frontier is one row per pending url_hash.  Duplicate discoveries merge
field-wise — min(discovered_round), max(priority), min(depth), min(src_url)
— a lattice, so the result is independent of discovery order and of
partitioning (never ``dropDuplicates``, which keeps an arbitrary row;
SURVEY.md §4 'deterministic results under parallelism').
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from engine.udfs import canon_hash_udf

FRONTIER_SCHEMA = StructType(
    [
        StructField("url_hash", LongType(), False),
        StructField("url", StringType(), False),
        StructField("host", StringType(), False),
        StructField("priority", IntegerType(), False),
        StructField("depth", IntegerType(), False),
        StructField("discovered_round", IntegerType(), False),
        StructField("src_url", StringType(), False),
    ]
)

SEEN_SCHEMA = StructType(
    [
        StructField("url_hash", LongType(), False),
        StructField("url", StringType(), False),
        StructField("fetched_round", IntegerType(), False),
    ]
)

# host of a canonical url == text between '://' and the next '/' (ports kept),
# exactly refspec.crawler._host_of.  JVM-side regexp — no UDF needed.
HOST_RE = r"^[a-z]+://([^/]+)"


def with_host(df: DataFrame, url_col: str = "url") -> DataFrame:
    return df.withColumn("host", F.regexp_extract(F.col(url_col), HOST_RE, 1))


def merge_frontier(df: DataFrame) -> DataFrame:
    """Lattice-merge duplicate url_hash rows (op H3).

    One hash-aggregate shuffle on url_hash; with the frontier stored
    bucketed by url_hash this is the partitioning every downstream op
    (anti-join vs seen, fetch join) reuses.
    """
    return df.groupBy("url_hash").agg(
        F.min("url").alias("url"),  # url is a function of url_hash
        F.min("host").alias("host"),
        F.max("priority").alias("priority"),
        F.min("depth").alias("depth"),
        F.min("discovered_round").alias("discovered_round"),
        F.min("src_url").alias("src_url"),
    )


def frontier_from_seeds(seeds_df: DataFrame) -> DataFrame:
    """Round-0 frontier: canonicalize + hash seeds (Arrow UDF), drop
    invalid urls, lattice-merge duplicates (keep max priority)."""
    # spread seeds across all cores before the CPU-bound canon UDF: the
    # bootstrap runs with the session's AQE, which would coalesce the
    # small-in-bytes seed set into a few partitions
    n_par = int(
        seeds_df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    canned = (
        seeds_df.repartition(n_par, "url")
        .select(
            canon_hash_udf(F.col("url")).alias("c"),
            F.col("priority").cast(IntegerType()).alias("priority"),
        )
        .select(
            F.col("c.url_hash").alias("url_hash"),
            F.col("c.url").alias("url"),
            "priority",
        )
        .filter(F.col("url").isNotNull())
    )
    canned = with_host(canned).select(
        "url_hash",
        "url",
        "host",
        "priority",
        F.lit(0).cast(IntegerType()).alias("depth"),
        F.lit(0).cast(IntegerType()).alias("discovered_round"),
        F.lit("").alias("src_url"),
    )
    return merge_frontier(canned)
