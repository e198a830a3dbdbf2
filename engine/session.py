"""SparkSession factory with the engine's pinned configuration.

One place for every config that affects plans or determinism, so tests,
bench, and spark-submit all run the same engine (SURVEY.md §4 'config'
rows).  All settings are plain Apache Spark configuration keys.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ENGINE_CONFS = {
    # determinism / semantics
    "spark.sql.session.timeZone": "UTC",
    # Arrow-vectorized pandas UDFs (BASELINE.json:15 — no per-row Python).
    # Batches are bounded by BYTES, not only records: html rows are ~20 KB,
    # so 10k-record batches would be ~200 MB each — at 32 concurrent UDF
    # tasks that is multi-GB of in-flight Arrow buffers and GC collapse
    # (measured: 4x slowdown at local[32]).  32 MB keeps wide-row batches
    # sane while tiny-row UDFs still get full 10k-record batches.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.execution.arrow.maxBytesPerBatch": "33554432",
    # adaptive execution: post-shuffle coalesce + skew-join splitting
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # runtime bloom-filter join pruning (complements our sharded filters)
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # parquet scan vectorization is on by default; keep explicit
    "spark.sql.parquet.enableVectorizedReader": "true",
    # gate the per-task importlib.invalidate_caches() zip-directory re-read
    # (engine/fastdaemon.py — measured 0.25-0.7 s of Python CPU per task,
    # the dominant wide-parallelism tax in BENCH/scaling_4to16.json)
    "spark.python.daemon.module": "engine.fastdaemon",
    # Force the sort-based shuffle writer.  Below this threshold Spark uses
    # BypassMergeSortShuffleWriter, which opens one file PER REDUCE
    # PARTITION per map task — at 48 partitions that is ~2,300 file
    # creates per shuffle and jstack sampling showed 18% of wide-level
    # executor busy samples inside FileOutputStream.open0 (kernel-side
    # create contention).  A 10^10-frontier job runs with P >> 200 and
    # would take the sort-based path anyway — this makes the local proxy
    # run the same writer (one spill file + index per map task).
    "spark.shuffle.sort.bypassMergeThreshold": "8",
    # Fewer, larger shuffle write syscalls (default 32k).
    "spark.shuffle.file.buffer": "1m",
    # Per-round persisted frames carry multi-KB text/html values: at the
    # default 10k-row cache batch a single column buffer is 70-200 MB,
    # and its doubling growth is a G1-humongous allocation + copyMemory
    # storm (measured: ByteBuffer.allocate/Platform.copyMemory dominated
    # the in-memory-cache build samples).  1k-row batches keep buffers
    # under the G1 region size at these row widths.
    "spark.sql.inMemoryColumnarStorage.batchSize": "1000",
}


def get_spark(
    master: str | None = None,
    app_name: str = "crawl-engine",
    shuffle_partitions: int = 32,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine session.

    ``master=None`` leaves the master to spark-submit (cluster path,
    BASELINE.json:14 'spark-submit --py-files'); tests pass local[N].
    """
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in ENGINE_CONFS.items():
        b = b.config(k, v)
    # Shuffle/spill local dirs: on this single-box proxy every executor
    # thread shares one virtio disk, so shuffle-file creation contends in
    # the fs journal; real executors get per-node local SSDs (YARN/K8s
    # provide LOCAL_DIRS/emptyDir and override spark.local.dir, so this is
    # inert on a cluster).  tmpfs keeps the measured cost the engine's,
    # not the shared disk's.  SPARK_LOCAL_DIRS overrides spark.local.dir,
    # so when it is set the directory is neither created nor configured.
    if "SPARK_LOCAL_DIRS" not in os.environ and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
        os.makedirs(local_dir, exist_ok=True)
        b = b.config("spark.local.dir", local_dir)
    # the daemon process imports engine.fastdaemon BEFORE py-files setup,
    # so the package root must be on the worker python path (cluster
    # equivalent: --conf spark.executorEnv.PYTHONPATH=engine.zip)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker_pp = os.pathsep.join(
        p for p in [repo_root, os.environ.get("PYTHONPATH", "")] if p
    )
    b = b.config("spark.executorEnv.PYTHONPATH", worker_pp)
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
