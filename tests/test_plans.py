"""Physical-plan assertions (SURVEY.md §4): the plans we designed for are
the plans Catalyst actually produces — filter pushdown to parquet, column
pruning, zero-exchange fetch join against the cached pages index, and
Arrow (not row-at-a-time) Python evaluation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_and_projection_pushed_to_parquet_scan(spark):
    df = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter(F.col("lang") == "en")
        .select("doc_id", "lang")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    # column pruning: the scan reads only the 2 referenced columns
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan
    assert "text" not in plan.split("ReadSchema")[1]


def test_fetch_join_reuses_cached_pages_index_partitioning(spark, corpus_dir):
    """The persisted pages index carries HashPartitioning(url_hash, P); the
    per-round fetch join must NOT re-shuffle the html side (engine/crawl.py
    step 4) — only the politeness-sized selected side gets one exchange.
    That holds too when a small round repartitions the selected side to
    fewer partitions than the index holds: the planner re-targets the
    selected side's exchange to the index's P."""
    from engine.crawl import pages_index
    from engine.io import load_corpus

    pages = load_corpus(spark, corpus_dir)["pages"]
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pidx = pages_index(pages.select("url", "warc_ts", "html")).persist()
        pidx.count()
        n_par = int(spark.conf.get("spark.sql.shuffle.partitions"))
        selected = pidx.select("url_hash").limit(10)
        for n_sel in (n_par, n_par // 2):
            joined = selected.repartition(n_sel, "url_hash").join(
                pidx.select("url_hash", "html_z"), "url_hash", "left"
            )
            plan = _plan(joined)
            assert "InMemoryTableScan" in plan
            # exactly one hash exchange at JOIN level: the REPARTITION_BY_NUM
            # on the selected side, at the index's partition count.  (The
            # InMemoryRelation node embeds its own BUILD-time plan text —
            # exchanges in there ran once at cache build, not per join, so
            # only count the text before the first cache node.)
            join_level = plan.split("InMemoryRelation")[0]
            exchanges = join_level.count("Exchange hashpartitioning(url_hash")
            assert exchanges == 1, plan
            assert f", {n_par}), REPARTITION_BY_NUM" in join_level, plan
            # and the cached html side feeds the join with NO exchange and NO
            # re-sort: between the join and its InMemoryTableScan there is
            # only the null filter (the window's build-time sort already
            # satisfies SMJ's ordering requirement)
            right = plan.split("+- Filter isnotnull", 1)[1].split(
                "InMemoryRelation"
            )[0]
            assert "Exchange" not in right and "Sort" not in right, plan
            assert joined.rdd.getNumPartitions() == n_par
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        pidx.unpersist()


def test_extraction_is_arrow_vectorized_not_per_row(spark, corpus_dir):
    from engine.io import load_corpus
    from engine.udfs import extract_links_udf, extract_text_udf

    pages = load_corpus(spark, corpus_dir)["pages"]
    df = pages.select(
        extract_text_udf("html").alias("text"),
        extract_links_udf("html", "url").alias("links"),
    )
    plan = _plan(df)
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan  # the per-row evaluator


def test_anti_join_is_hash_or_merge_not_nested_loop(spark):
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    anti = lineitem.select("l_orderkey").join(
        orders.select(F.col("o_orderkey").alias("l_orderkey")),
        "l_orderkey",
        "left_anti",
    )
    plan = _plan(anti)
    assert "NestedLoop" not in plan
    assert any(
        k in plan for k in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )


def test_politeness_window_uses_group_limit_pushdown(spark):
    """Spark 4's WindowGroupLimit must kick in for the top-B filter —
    partial limits run BEFORE the shuffle, which is what keeps the
    politeness step linear at 10^10 (observed in §4 plan review)."""
    from engine.politeness import select_top_b

    df = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(
            F.col("doc_id").alias("url_hash"),
            F.concat(F.lit("http://h/"), F.col("doc_id")).alias("url"),
            F.col("source").alias("host"),
            F.lit(1).alias("priority"),
            F.lit(0).alias("depth"),
            F.lit(0).alias("discovered_round"),
            F.lit("").alias("src_url"),
        )
    )
    plan = _plan(select_top_b(df, 2, {}, salt=8))
    assert "WindowGroupLimit" in plan


def test_round2_ops_plan_shapes(spark):
    """The round-2 operators keep their designed physical shapes:
    redirect_resolve's pointer-doubling self-joins and link_rank's
    per-iteration joins are hash/merge equi-joins (never a nested loop),
    and trap_guard / scan_sitemaps stay entirely JVM-side (no Python
    evaluation stage anywhere)."""
    from engine.ops import REGISTRY, _load_all

    _load_all()
    plan = _plan(REGISTRY["redirect_resolve"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("HashJoin" in plan)
    # link_rank: the ONLY nested loops are the broadcast 1-row scalar-N
    # joins (IdentityBroadcastMode build = the count aggregate); every
    # data-scale join (edge contribution, rank update) is hash/merge
    plan = _plan(REGISTRY["link_rank"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("HashJoin" in plan)
    assert plan.count("BroadcastNestedLoopJoin") == plan.count(
        "IdentityBroadcastMode"
    )
    for name in ("trap_guard", "scan_sitemaps", "pivot_status"):
        plan = _plan(REGISTRY[name].fn(spark, SF_DIR))
        assert "EvalPython" not in plan, name
    # pivot with explicit values: two-level aggregation — one exchange on
    # (cohort, event_type) after map-side partial aggregation, then one
    # tiny exchange of |cohorts| x |values| pre-aggregated rows for the
    # pivot aggregate.  No third job discovering pivot values.
    plan = _plan(REGISTRY["pivot_status"].fn(spark, SF_DIR))
    assert plan.count("Exchange") == 2
    assert plan.count("HashAggregate") == 4  # two partial+final pairs


def test_bucketed_seen_join_is_exchange_free(spark, tmp_path):
    """The cluster-scale seen-set story (SURVEY.md §4): persist `seen` and
    the frontier delta BUCKETED by url_hash (the Iceberg bucket-transform
    analog), and the per-round anti-join needs NO exchange on either side
    — the join is storage-partitioned.  At 10^10 urls this turns the one
    remaining wire shuffle of the dedup core into a local merge."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        F.xxhash64("text").alias("url_hash"), "doc_id"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # trusting the per-bucket sortBy order needs the (off-by-default since
    # 3.0) outputOrdering flag AND exactly one file per bucket
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try:
        for name, df in [
            ("seen_b", docs.filter(F.col("doc_id") % 3 == 0)),
            ("frontier_b", docs),
        ]:
            # repartition by the bucket key into numBuckets partitions:
            # repartition and bucketBy share Murmur3(key) % n, so each
            # task writes exactly one bucket → one file per bucket, which
            # is what lets the scan trust the on-disk sort order
            df.repartition(8, "url_hash").write.bucketBy(8, "url_hash").sortBy(
                "url_hash"
            ).option("path", str(tmp_path / name)).mode("overwrite").saveAsTable(
                name
            )
        anti = spark.table("frontier_b").join(
            spark.table("seen_b"), "url_hash", "left_anti"
        )
        plan = _plan(anti)
        assert "SortMergeJoin" in plan and "LeftAnti" in plan
        assert "Exchange" not in plan, plan
        # one file per bucket + sortBy ⇒ the merge needs no re-sort either
        assert "Sort " not in plan, plan
        n_unseen = anti.count()
        n_expect = docs.filter(F.col("doc_id") % 3 != 0).count()
        assert n_unseen == n_expect
    finally:
        spark.sql("DROP TABLE IF EXISTS seen_b")
        spark.sql("DROP TABLE IF EXISTS frontier_b")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")


def test_text_analysis_ops_plan_shapes(spark):
    """tfidf_top_terms: the exploded token stream collapses through ONE
    partially-aggregated exchange (groupBy term,lang); the scalar corpus-N
    arrives as the canonical 1-row broadcast (every nested loop is that
    IdentityBroadcastMode build); no Python evaluation anywhere.
    contamination_ngrams: the exploded n-gram stream is pruned by a
    BroadcastHashJoin BEFORE any exchange — the only aggregation exchange
    carries hit rows, and no nested-loop/cartesian join exists at all."""
    from engine.ops import REGISTRY, _load_all

    _load_all()
    plan = _plan(REGISTRY["tfidf_top_terms"].fn(spark, SF_DIR))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == plan.count(
        "IdentityBroadcastMode"
    )
    # token stream → vocab: partial + final pair on (term, lang)
    assert "HashAggregate" in plan

    plan = _plan(REGISTRY["contamination_ngrams"].fn(spark, SF_DIR))
    assert "EvalPython" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") == 2  # probe prune + zero-restore
    # the probe-prune broadcast join sits BELOW the first exchange: the
    # explode side reaches the join without shuffling
    first_bhj = plan.index("BroadcastHashJoin")
    assert "Generate explode" in plan  # JVM-side n-gram generation
    assert "Exchange" not in plan[:first_bhj].split("AdaptiveSparkPlan")[-1]


def test_dedup_incremental_plan_shape(spark):
    """The batch-vs-history anti-join is a hash/merge equi-join on the
    content key; the ONLY nested loops are the broadcast 1-row batch
    boundary (IdentityBroadcastMode); everything stays JVM-side."""
    from engine.ops import REGISTRY, _load_all

    _load_all()
    plan = _plan(REGISTRY["dedup_incremental"].fn(spark, SF_DIR))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )
    assert plan.count("BroadcastNestedLoopJoin") == plan.count(
        "IdentityBroadcastMode"
    )
