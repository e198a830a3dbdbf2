"""Scaling-efficiency evidence for the north rule (BASELINE.json:2,14):
throughput at N vs 4N parallelism on the SAME input must scale with
efficiency >= 0.8.  No multi-node cluster exists in this sandbox, so the
mandated proxy is the same job at N and 4N cores on this 32-vCPU host
(task brief; SURVEY.md §0.4/§6) — each level runs in its own resident JVM
subprocess, CPU-PINNED (taskset) to exactly its N cores.

Pinning is what makes the proxy faithful: a real N-core executor owns N
cores.  Unpinned, the hypervisor migrates the JVM+workers across all 32
vCPUs and the measured tree burns ~35% extra CPU in migrations/cache
misses at 16 threads (measured: round-0 907 core-sec unpinned vs 598
pinned for identical work) — noise that says nothing about the engine.
The substrate calibration below is pinned identically, so engine and
host are compared on the same footing.  The default pair is 2→8: probed
every run, this VM's aggregate compute stops scaling honestly past
~16-20 of its 32 vCPUs (overcommit), so 2→8 is the widest N→4N pair
whose BOTH endpoints sit on honestly-scaling hardware; 4→16 is also
reported when asked (--levels 4,16) but its top end straddles the knee.

Workload: the full crawl round pipeline (anti-join dedup → robots gate →
salted politeness top-B → fetch join → Arrow text/link extraction →
frontier merge → snapshot commit) over a Common-Crawl-shaped corpus:
~307k urls, zipfian host sizes, ~25 KB markup-DENSE pages (body_words=
3000 with inline tags — the html parser works per tag event, so markup
density, not byte count, sets extraction CPU; a plain-text body would
understate it by ~40x).  Budget is set so each measured round
fetches+extracts ~10^5 pages — big enough that per-round driver/
scheduling overhead (~4 s) amortizes, exactly the regime a real 10^10
crawl runs in.

Usage:
    python scripts/bench_scaling.py                 # orchestrate, write BENCH/
    python scripts/bench_scaling.py --render-only   # regenerate BENCH/TABLES.md
    python scripts/bench_scaling.py --worker --cpus 8 ...   # one level (internal)

Writes BENCH/scaling{--out-suffix}.json, regenerates the artifact tables in
BENCH/TABLES.md (render_tables) and prints one JSON line.  BENCH/BASELINE.md
holds the narrative and is maintained by hand.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BENCH_TMP = "/tmp/spark_graft_bench"
DEFAULT_CORPUS = os.path.join(BENCH_TMP, "scale_256x1200_w3000d")


def _spin_sha(dur: float) -> int:
    import hashlib
    import time as _t

    h = b"x"
    t0 = _t.time()
    c = 0
    while _t.time() - t0 < dur:
        h = hashlib.sha256(h).digest()
        c += 1
    return c


def _spin_parse(dur: float) -> int:
    """The engine's actual hot kernel: html_to_text + extract_links on a
    representative scaling-corpus page.  Allocation-heavy string parsing is
    memory-subsystem-bound in a way sha256 is not — calibrating with the
    real kernel is what makes 'engine vs substrate' meaningful."""
    import time as _t

    from engine.pure import extract_links, html_to_text
    from fixtures.gen import gen_corpus

    page = gen_corpus(n_hosts=4, mean_pages=6, body_words=3000).pages[0]
    html = page["html"]
    t0 = _t.time()
    c = 0
    while _t.time() - t0 < dur:
        html_to_text(html)
        extract_links(html, page["url"])
        c += 1
    return c


def _spin_stream(dur: float) -> int:
    """STREAM-style DRAM-bandwidth kernel: copy a buffer much larger than
    L3's per-core share, counting bytes moved.  The engine's dominant
    JVM-side work is decoding multi-GB cached columnar batches (lz4 +
    copyMemory) — bandwidth-bound, which neither sha (in-register) nor
    parse (small working set) calibrates.  Returns bytes copied."""
    import time as _t

    buf = bytearray(64 << 20)  # 64 MB source, streams past L2/L3 share
    view = memoryview(buf)
    t0 = _t.time()
    moved = 0
    while _t.time() - t0 < dur:
        dst = bytes(view)  # full copy: read 64MB + write 64MB
        moved += len(dst) * 2
    return moved


def _pin_to(cores) -> None:
    """Affinity-pin the calling process (pool worker) to the given core
    set — the same pinning the engine levels get via taskset."""
    try:
        os.sched_setaffinity(0, set(cores))
    except (AttributeError, OSError):
        pass


def substrate_eff(
    lo: int, hi: int, dur: float = 20.0, lo_cores=None, hi_cores=None
) -> dict:
    """Calibrate what the HOST itself can scale, with two kernels:
    sha256 (in-register compute) and the engine's real parse kernel
    (allocation/memory-bound).  The engine cannot out-scale its
    substrate.  Each kernel pool is CPU-pinned to exactly the level's
    cores — identical footing to the engine levels — so
    engine-vs-substrate is apples-to-apples.  A real N→4N cluster adds
    DRAM channels and disks with the nodes, so any substrate ceiling
    measured here does not exist there."""
    import multiprocessing as mp

    core_sets = {
        lo: list(lo_cores) if lo_cores is not None else list(range(lo)),
        hi: list(hi_cores) if hi_cores is not None else list(range(hi)),
    }
    out = {}
    for name, fn in (
        ("sha", _spin_sha),
        ("parse", _spin_parse),
        ("stream", _spin_stream),
    ):
        rates = {}
        for procs in (lo, hi):
            cores = core_sets[procs]
            with mp.Pool(procs, initializer=_pin_to, initargs=(cores,)) as p:
                t0 = time.time()
                res = p.map(fn, [dur] * procs)
                rates[procs] = sum(res) / (time.time() - t0)
        out[name] = {
            "per_sec": {str(k): round(v, 1) for k, v in rates.items()},
            "eff": round((rates[hi] / rates[lo]) / (hi / lo), 3),
        }
    return out


def _tree_cpu_seconds() -> float:
    """Total CPU seconds (utime+stime) consumed so far by this process and
    every descendant (the local-mode JVM + all pyspark worker daemons) —
    read from /proc, no extra deps.  Used to compute achieved parallelism
    per round: cpu_delta / (wall * cores).

    Under spark-submit the driver JVM is this script's ANCESTOR, not a
    descendant — climb to the topmost java/spark ancestor first so the
    JVM and its python daemons are inside the measured tree."""
    me = os.getpid()
    tick = os.sysconf("SC_CLK_TCK")
    procs = {}
    names = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                raw = fh.read()
                head, tail = raw.rsplit(")", 1)
                pid = int(head.split("(")[0])
                name = head.split("(", 1)[1]
                f = tail.split()
                ppid = int(f[1])
                cpu = (int(f[11]) + int(f[12])) / tick
            procs[pid] = (ppid, cpu)
            names[pid] = name
        except (OSError, ValueError, IndexError):
            continue
    # climb: while a parent looks like part of the spark launch chain
    while me in procs:
        parent = procs[me][0]
        pname = names.get(parent, "")
        if parent in procs and (
            "java" in pname or "spark" in pname or pname in ("bash", "sh")
        ):
            me = parent
        else:
            break
    # walk descendants of me
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    total, stack = 0.0, [me]
    by = {"java": 0.0, "python": 0.0, "other": 0.0}
    while stack:
        p = stack.pop()
        if p in procs:
            total += procs[p][1]
            nm = names.get(p, "")
            key = (
                "java"
                if "java" in nm
                else "python" if "python" in nm else "other"
            )
            by[key] += procs[p][1]
        stack.extend(kids.get(p, []))
    _tree_cpu_seconds.last_split = by  # side-channel for the caller
    return total


def _jvm_thread_cpu() -> dict[str, float]:
    """Per-thread-GROUP CPU seconds of the driver JVM, from
    /proc/<jvm>/task/*/stat (Java writes thread names into comm, truncated
    to 15 chars).  Attributes the JVM-side CPU inflation at high
    parallelism to its actual owner (GC threads, C2 JIT, task executors,
    shuffle clients, Arrow writers…).  Keyed by a normalized name prefix
    (digits stripped) so pools aggregate."""
    # find the JVM: nearest java ancestor (same climb as _tree_cpu_seconds)
    me = os.getpid()
    tick = os.sysconf("SC_CLK_TCK")
    parents = {}
    names = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                head, tail = fh.read().rsplit(")", 1)
            pid = int(head.split("(")[0])
            names[pid] = head.split("(", 1)[1]
            parents[pid] = int(tail.split()[1])
        except (OSError, ValueError, IndexError):
            continue
    jvm = None
    p = me
    while p in parents:
        if "java" in names.get(p, ""):
            jvm = p
            break
        p = parents[p]
    if jvm is None:
        _jvm_thread_cpu.last_sys = {}
        return {}
    out: dict[str, float] = {}
    sys_out: dict[str, float] = {}
    for tstat in glob.glob(f"/proc/{jvm}/task/[0-9]*/stat"):
        try:
            with open(tstat) as fh:
                head, tail = fh.read().rsplit(")", 1)
            name = head.split("(", 1)[1]
            f = tail.split()
            cpu = (int(f[11]) + int(f[12])) / tick
            stime = int(f[12]) / tick
        except (OSError, ValueError, IndexError):
            continue
        key = re.sub(r"[-#]?\d+$", "", name).strip() or "?"
        out[key] = out.get(key, 0.0) + cpu
        sys_out[key] = sys_out.get(key, 0.0) + stime
    # side-channel (same pattern as _tree_cpu_seconds.last_split): the
    # stime-only view separates kernel-side inflation (tmpfs writes, page
    # faults, futex churn) from user-side (lock spinning, memory stalls)
    _jvm_thread_cpu.last_sys = sys_out
    return out


def _steal_seconds(cores: set[int] | None = None) -> float:
    """Cumulative KVM steal seconds summed over `cores` (default: this
    process's pinned affinity set), from /proc/stat field 8.  Steal is NOT
    in utime/stime, so a per-round delta directly prices host overcommit
    inside a measured window — the one substrate effect the sha/parse
    calibration kernels can only approximate."""
    if cores is None:
        cores = os.sched_getaffinity(0)
    tick = os.sysconf("SC_CLK_TCK")
    total = 0.0
    try:
        with open("/proc/stat") as fh:
            for line in fh:
                if not line.startswith("cpu"):
                    continue
                f = line.split()
                if f[0] == "cpu" or not f[0][3:].isdigit():
                    continue
                if int(f[0][3:]) in cores:
                    total += int(f[8]) / tick
    except (OSError, ValueError, IndexError):
        return 0.0
    return total


def _tlb_shootdowns(cores: set[int] | None = None) -> int:
    """Cumulative TLB-shootdown interrupts summed over `cores` (default:
    this process's affinity), from /proc/interrupts.  Every munmap of a
    mapped buffer (direct ByteBuffers, Arrow allocations) IPIs every
    OTHER core currently running the process — a cost that scales with
    core count and shows up as uniform user-CPU inflation."""
    if cores is None:
        cores = os.sched_getaffinity(0)
    try:
        with open("/proc/interrupts") as fh:
            header = fh.readline().split()
            idx = [i for i, c in enumerate(header)]
            ncpu = len(header)
            for line in fh:
                if line.startswith("TLB:"):
                    vals = line.split()[1 : 1 + ncpu]
                    return sum(
                        int(v)
                        for i, v in enumerate(vals)
                        if i in cores
                    )
    except (OSError, ValueError):
        pass
    return 0


def _fork_count() -> int:
    """System-wide cumulative fork count (/proc/stat `processes`).  The
    per-round delta counts subprocess storms — e.g. Hadoop
    RawLocalFileSystem.setPermission shelling `chmod` per created
    file/dir when libhadoop native IO is absent (jstack-confirmed: 8/16
    executor threads inside Shell.runCommand during snapshot writes)."""
    try:
        with open("/proc/stat") as fh:
            for line in fh:
                if line.startswith("processes "):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def _jvm_gc_seconds(spark) -> float:
    """Cumulative stop-the-world GC seconds of the driver JVM (local mode:
    the only JVM) via the management MXBeans — the per-round delta says
    whether CPU inflation at high parallelism is garbage collection."""
    try:
        beans = (
            spark._jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans()
        )
        return sum(b.getCollectionTime() for b in beans) / 1000.0
    except Exception:
        return 0.0


def ensure_corpus(path: str, n_hosts: int, mean_pages: int, body_words: int) -> None:
    marker = os.path.join(path, "_DONE")
    if os.path.exists(marker):
        return
    from fixtures.gen import gen_corpus, write_parquet

    print(
        f"generating scaling corpus {n_hosts}x{mean_pages} bw={body_words} …",
        file=sys.stderr,
        flush=True,
    )
    shutil.rmtree(path, ignore_errors=True)
    t0 = time.time()
    corpus = gen_corpus(
        compute_text=False,
        n_hosts=n_hosts,
        mean_pages=mean_pages,
        body_words=body_words,
    )
    write_parquet(corpus, path)
    with open(marker, "w") as f:
        # corpus parameters travel WITH the corpus so a run pointed at a
        # pre-existing --corpus dir records the actual generation params,
        # not this invocation's --hosts/--mean-pages defaults
        json.dump(
            {
                "hosts": n_hosts,
                "mean_pages": mean_pages,
                "body_words": body_words,
            },
            f,
        )
    print(f"corpus ready in {time.time()-t0:.0f}s", file=sys.stderr, flush=True)


def bench_inputs(pages, n_par: int, preseen_mod: int = 4, preseen_keep: int = 1):
    """(seeds, pre-seen set) for a whole-corpus bench crawl over ``pages``.

    Seeds: every distinct page url in a canon-hostile raw form (scheme
    and host uppercased, so the canon UDF sees every url), priority =
    pmod(xxhash64(url), 100).  Pre-seen: ``SEEN_SCHEMA`` rows for the
    urls with pmod(url_hash, preseen_mod) < preseen_keep (default 1/4),
    so the first round's anti-join prunes real volume; the url_hash UDF
    runs over ``n_par`` url-partitions.  Both frames are lazy and
    deterministic: pass them to ``engine.crawl.bootstrap``."""
    from pyspark.sql import functions as F

    from engine.udfs import hash64_udf

    urls = pages.select("url").distinct()
    seeds = urls.select(
        F.concat(
            F.lit("HTTP://"),
            F.upper(F.regexp_extract("url", r"http://([^/]+)/", 1)),
            F.regexp_extract("url", r"http://[^/]+(/.*)", 1),
        ).alias("url"),
        F.pmod(F.xxhash64("url"), F.lit(100)).cast("int").alias("priority"),
    )
    seen = (
        urls.repartition(n_par, "url")
        .withColumn("url_hash", hash64_udf("url"))
        .filter(F.pmod(F.col("url_hash"), F.lit(preseen_mod)) < preseen_keep)
        .select("url_hash", "url", F.lit(-1).alias("fetched_round"))
    )
    return seeds, seen


def _corpus_params(args) -> dict:
    """Actual generation parameters of the corpus a run used.

    Prefers the _DONE marker metadata (written at generation), then the
    canonical ``scale_{hosts}x{mean}_w{words}`` dirname, then the CLI args
    — so pointing --corpus at a pre-existing dir records that corpus's
    params, not this invocation's defaults."""
    marker = os.path.join(args.corpus, "_DONE")
    try:
        with open(marker) as f:
            d = json.load(f)
        return {
            "hosts": d["hosts"],
            "mean_pages": d["mean_pages"],
            "body_words": d["body_words"],
        }
    except (OSError, ValueError, KeyError):
        pass
    m = re.search(r"scale_(\d+)x(\d+)_w(\d+)", os.path.basename(args.corpus))
    if m:
        return {
            "hosts": int(m.group(1)),
            "mean_pages": int(m.group(2)),
            "body_words": int(m.group(3)),
        }
    return {
        "hosts": args.hosts,
        "mean_pages": args.mean_pages,
        "body_words": args.body_words,
    }


def _du_local_dir(root: str = "/dev/shm/spark-local") -> int:
    """Byte footprint of the tmpfs spark.local.dir (shuffle files, spills,
    disk-spilled cache blocks).  Fast enough to run between samples; never
    called inside a measured round."""
    total = 0
    for dirpath, _dirnames, filenames in os.walk(root):
        for f in filenames:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def run_worker(args) -> dict:
    """One parallelism level: bootstrap (unmeasured warm-up) + measured rounds."""
    from pyspark.sql import functions as F

    from engine.crawl import EngineConfig, bootstrap, pages_index, run_round
    from engine.io import load_corpus
    from engine.session import get_spark
    from engine.snapstore import SnapStore
    from engine.udfs import hash64_udf

    cpus = args.cpus
    # Partition protocol: --partitions N pins the SAME shuffle-partition
    # count at every level — the cluster-faithful reading of "the same job
    # at two cluster sizes".  On a real cluster the shuffle partitioning is
    # data-driven (AQE sizes partitions by bytes; the table's bucketing
    # does not change when executors are added), so scaling N→4N executors
    # re-schedules the SAME tasks wider, it does not quadruple the task
    # count.  The legacy per-core mode (partitions=0 → cpus*shuffle_mult)
    # makes the 4N level pay 4x the per-task fixed cost (task deser, codegen
    # lookup, shuffle writer setup, Arrow stream + UDF unpickle per python
    # task) for identical data — measured at 16 vs 4 cores as +35 JVM
    # core-sec and +30 python core-sec per small round, i.e. a protocol
    # artifact, not an engine scaling property.
    n_shuffle = args.partitions or cpus * args.shuffle_mult
    spark = get_spark(
        master=f"local[{cpus}]",
        app_name=f"scaling-{cpus}",
        shuffle_partitions=n_shuffle,
        extra={
            "spark.ui.enabled": "false",
            "spark.driver.memory": "56g",
            # DISK_ONLY cache blocks land on the tmpfs local dir; this
            # corpus family's html compresses ~15x, so compressing cached
            # blocks keeps a multi-10-GB index from exhausting /dev/shm
            # (two resident workers share it) at one lz4 decode per
            # access, identical at both levels
            "spark.rdd.compress": "true",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    t = load_corpus(spark, args.corpus)
    pages, robots = t["pages"], t["robots"]

    # warm-up (unmeasured): build + cache the pages index — round-invariant
    # (on a cluster: a one-time bucketed Iceberg write).  The as-of-resolved
    # index is also CORPUS-invariant, so it is materialized to parquet once
    # per corpus and reloaded on later samples: the interleaved multi-sample
    # protocol would otherwise spend most of its wall-clock re-deriving an
    # artifact the measurement never times (two full-html shuffles).  The
    # reload still pays the repartition to HashPartitioning(url_hash, P) —
    # that pinned distribution is what the measured fetch joins rely on.
    t0 = time.time()
    idx_cache = args.corpus.rstrip("/") + "_pidxz"
    idx_marker = os.path.join(idx_cache, "_DONE")
    if not os.path.exists(idx_marker):
        pages_index(pages.select("url", "warc_ts", "html")).write.mode(
            "overwrite"
        ).parquet(idx_cache)
        with open(idx_marker, "w") as fh:
            fh.write("ok")
    n_par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # Cache storage level is SIZE-ADAPTIVE.  The r7 aging signature
    # (round-0-only wall+CPU inflation of later resident pairs, level-16
    # only) is what thrash-eviction of a deserialized in-heap cache looks
    # like once the index outgrows the JVM's guaranteed storage fraction:
    # execution pressure evicts blocks, the next sample's biggest round
    # pays a re-scan+re-cache, repeat.  The decision input is the
    # DESERIALIZED size — parquet footers' total_uncompressed_size, an
    # O(files) metadata read — compared against the JVM's guaranteed
    # storage headroom (heap × memory.fraction 0.6 × storageFraction 0.5):
    # this corpus family's synthetic html compresses ~15-17× (693 MB
    # parquet ≈ 12 GB in-heap for the 614k corpus), so parquet bytes
    # mis-price the cache by an order of magnitude — exactly how the r7
    # protocol thrashed a 40 g resident heap while the parquet-bytes rule
    # said it fit.  When the index cannot honestly stay resident, cache
    # DISK_ONLY instead: blocks live POST-repartition (the fetch join's
    # exchange-free HashPartitioning is preserved) on the tmpfs local dir
    # — the single-box analog of an executor's local-SSD cache — paying
    # one decode per access, identically at both levels, and leaving the
    # whole unified-memory region to execution.  Below the threshold the
    # protocol is unchanged (deserialized in-memory, the r2-r7
    # configuration).
    from pyspark import StorageLevel

    def _uncompressed_bytes(d: str) -> int:
        import pyarrow.parquet as pq

        total = 0
        for fn in os.listdir(d):
            if not fn.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(d, fn)).metadata
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for c in range(g.num_columns):
                    total += g.column(c).total_uncompressed_size
        return total

    heap = int(spark.sparkContext._jvm.Runtime.getRuntime().maxMemory())
    storage_headroom = int(heap * 0.6 * 0.5)  # Spark unified-memory defaults
    # in-heap CachedBatch columns carry object headers + offset arrays on
    # top of the raw encoded bytes — ~1.5x on this string-heavy schema
    idx_est = int(_uncompressed_bytes(idx_cache) * 1.5)
    lvl = (
        StorageLevel.DISK_ONLY
        if idx_est > storage_headroom
        else StorageLevel.MEMORY_AND_DISK_DESER
    )
    pidx = (
        spark.read.parquet(idx_cache)
        .repartition(n_par, "url_hash")
        .persist(lvl)
    )
    print(
        f"[{cpus} cores] pidx cache level "
        f"{'DISK_ONLY' if lvl == StorageLevel.DISK_ONLY else 'MEMORY_AND_DISK_DESER'}"
        f" (idx est in-heap {idx_est / (1 << 30):.1f} GB"
        f" vs storage headroom {storage_headroom / (1 << 30):.1f} GB)",
        file=sys.stderr,
        flush=True,
    )
    n_pages = pidx.count()
    # touch every Arrow UDF once so python-worker spawn + module import +
    # JIT happen before the measured rounds (a real long-running crawl
    # amortizes this; a 3-round measurement window must not eat it)
    from engine.udfs import extract_both_z_udf

    pidx.limit(2000).select(
        hash64_udf("url"),
        extract_both_z_udf("html_z", "url"),
    ).write.format("noop").mode("overwrite").save()

    # --preseen-mod K --preseen-keep J pre-seeds J/K of the corpus
    # (default 1/4); the seen>>frontier stress passes 9/10 so the exact
    # anti-join's build side is ~9x the per-round frontier — the regime the
    # store-backed bloom's engage gate is designed for.  Every sample
    # bootstraps a fresh store from these lazy frames (bootstrap_sec,
    # unmeasured).
    seeds, seen0 = bench_inputs(
        pages, cpus, args.preseen_mod, args.preseen_keep
    )
    warm_sec = time.time() - t0

    cfg = EngineConfig(
        default_budget=args.budget, max_rounds=args.rounds, salt=8
    )
    # --seen-filter bloom: route the anti-join probe through the
    # store-backed sharded bloom filter (engine/filters.StoreBloomFilter,
    # the flagship 10^10 acceleration structure) — same factory protocol
    # run_crawl uses, correctness-neutral, so fetched counts must be
    # IDENTICAL to the exact run (the comparison's determinism check).
    factory = None
    if args.seen_filter == "bloom":
        from engine.filters import bloom_seen_filter_factory

        factory = bloom_seen_filter_factory()
    elif args.seen_filter == "auto":
        # adaptive engage rule (engine/filters.adaptive_seen_filter_factory):
        # exact anti-join below the seen-rows threshold, store-backed bloom
        # above it — fetched urls identical either way
        from engine.filters import adaptive_seen_filter_factory

        factory = adaptive_seen_filter_factory()

    def one_sample() -> dict:
        # fresh store per sample; its bootstrap (canon + hash over the
        # whole corpus, snapshot-0 commit) is unmeasured (bootstrap_sec)
        tb = time.time()
        store = SnapStore(tempfile.mkdtemp(prefix=f"scale{cpus}_"))
        bootstrap(spark, store, seeds, seen0)
        boot_sec = time.time() - tb
        rounds = []
        for r in range(args.rounds):
            sfilter = factory(spark, store, r) if factory else None
            offset = store.manifest(r)["metrics"]["fetch_seq_end"]
            tr = time.time()
            cpu0 = _tree_cpu_seconds()
            split0 = dict(_tree_cpu_seconds.last_split)
            gc0 = _jvm_gc_seconds(spark)
            steal0 = _steal_seconds()
            forks0 = _fork_count()
            tlb0 = _tlb_shootdowns()
            th0 = _jvm_thread_cpu() if args.thread_profile else {}
            th0_sys = dict(getattr(_jvm_thread_cpu, "last_sys", {}))
            m = run_round(spark, store, r, pidx, robots, cfg, offset, sfilter)
            sec = time.time() - tr
            cpu = _tree_cpu_seconds() - cpu0
            split1 = _tree_cpu_seconds.last_split
            gc1 = _jvm_gc_seconds(spark)
            steal1 = _steal_seconds()
            row = {
                "round": r,
                "fetched": m["n_selected"],
                "sec": round(sec, 2),
                "cpu_core_sec": round(cpu, 1),
                "parallel_util": round(cpu / (sec * cpus), 3),
                "cpu_java": round(split1["java"] - split0["java"], 1),
                "cpu_python": round(split1["python"] - split0["python"], 1),
                "gc_sec": round(gc1 - gc0, 2),
                "steal_sec": round(steal1 - steal0, 2),
                "forks": _fork_count() - forks0,
                "tlb_shootdowns": _tlb_shootdowns() - tlb0,
            }
            if args.thread_profile:
                th1 = _jvm_thread_cpu()
                th1_sys = dict(getattr(_jvm_thread_cpu, "last_sys", {}))
                delta = {
                    k: round(v - th0.get(k, 0.0), 1)
                    for k, v in th1.items()
                    if v - th0.get(k, 0.0) >= 1.0
                }
                row["jvm_threads"] = dict(
                    sorted(delta.items(), key=lambda kv: -kv[1])[:12]
                )
                delta_sys = {
                    k: round(v - th0_sys.get(k, 0.0), 1)
                    for k, v in th1_sys.items()
                    if v - th0_sys.get(k, 0.0) >= 1.0
                }
                row["jvm_threads_sys"] = dict(
                    sorted(delta_sys.items(), key=lambda kv: -kv[1])[:8]
                )
            rounds.append(row)
            print(
                f"[{cpus} cores] round {r}: {m['n_selected']} urls, "
                f"{sec:.1f}s, util {rounds[-1]['parallel_util']}",
                file=sys.stderr,
                flush=True,
            )
        # split real fetches from dangling-link 404s (404s cost no
        # extraction; reporting them as throughput would flatter the numbers)
        lin = store.read(spark, "lineage")
        status = {
            r["status"]: r["n"]
            for r in lin.groupBy("status")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        # manifest growth check (the O(1)-driver-side claim): per-snapshot
        # manifest JSON bytes must stay flat as crawl history accumulates
        manifest_bytes = {
            f: os.path.getsize(os.path.join(store.manifest_dir, f))
            for f in sorted(os.listdir(store.manifest_dir))
        }
        fetched_total = store.manifest(store.latest())["metrics"][
            "fetch_seq_end"
        ]
        shutil.rmtree(store.root, ignore_errors=True)
        return {
            "cpus": cpus,
            "seen_filter": args.seen_filter,
            "n_pages": int(n_pages),
            "warm_sec": round(warm_sec, 2),
            "bootstrap_sec": round(boot_sec, 2),
            "rounds": rounds,
            "fetched_total": int(fetched_total),
            "fetched_200": int(status.get("200", 0)),
            "fetched_404": int(status.get("404", 0)),
            "round_sec_total": round(sum(r["sec"] for r in rounds), 2),
            "manifest_bytes": manifest_bytes,
        }

    if not args.serve:
        return one_sample()
    # --serve: resident-worker protocol.  The JVM (and its cached pidx +
    # warmed python workers) stays alive across samples; the orchestrator
    # alternates RUN between the lo and hi resident workers so each
    # (lo, hi) sample pair is measured minutes — not tens of minutes —
    # apart on this drifting host, and the warm-up is paid once.  The
    # control channel is the FILESYSTEM (cmd_<k> / result_<k>.json in
    # --ctl-dir): spark-submit's PythonRunner does not forward the JVM's
    # stdin to the python app, so a stdin protocol never wakes up.
    os.makedirs(args.ctl_dir, exist_ok=True)
    ready_tmp = os.path.join(args.ctl_dir, "ready.json.tmp")
    with open(ready_tmp, "w") as fh:
        json.dump({"cpus": cpus, "warm_sec": round(warm_sec, 2)}, fh)
    os.rename(ready_tmp, os.path.join(args.ctl_dir, "ready.json"))
    k = 0
    while True:
        cmd_path = os.path.join(args.ctl_dir, f"cmd_{k}")
        if not os.path.exists(cmd_path):
            time.sleep(0.2)
            continue
        with open(cmd_path) as fh:
            cmd = fh.read().strip()
        if cmd == "EXIT":
            break
        res = one_sample()
        # Between-sample JVM hygiene + evidence (r7 aging investigation).
        # The resident worker's 56g bench heap is deliberately oversized so
        # GC never perturbs a measured round — but Spark's ContextCleaner
        # frees stale shuffle files / broadcasts only when driver GC
        # processes their weak refs, so an idle heap lets the tmpfs
        # spark.local.dir accumulate dead shuffle state across samples
        # (page-cache pressure a normally-sized executor heap never sees).
        # Record the local-dir footprint, run the GC a real executor's
        # heap cadence would have run, record it again — unmeasured,
        # between pairs.
        res["local_dir_bytes_pre_gc"] = _du_local_dir()
        try:
            spark.sparkContext._jvm.System.gc()
            time.sleep(2.0)  # let ContextCleaner drain its ref queue
        except Exception:
            pass
        res["local_dir_bytes_post_gc"] = _du_local_dir()
        res_tmp = os.path.join(args.ctl_dir, f"result_{k}.json.tmp")
        with open(res_tmp, "w") as fh:
            json.dump(res, fh)
        os.rename(res_tmp, os.path.join(args.ctl_dir, f"result_{k}.json"))
        k += 1
    return None


def engine_zip() -> str | None:
    """Package engine/ + fixtures/ for ``spark-submit --py-files`` — the
    north rule's deployment surface (BASELINE.json:14).  None when
    spark-submit is not on PATH: workers then run in plain python."""
    if shutil.which("spark-submit") is None:
        return None
    zip_path = os.path.join(BENCH_TMP, "engine.zip")
    os.makedirs(BENCH_TMP, exist_ok=True)
    if os.path.exists(zip_path):
        os.remove(zip_path)
    subprocess.run(
        ["zip", "-qr", zip_path, "engine/", "fixtures/"], cwd=REPO, check=True
    )
    return zip_path


def launch_cmd(
    worker_args: list[str],
    cpus: int,
    zip_path: str | None,
    submit_args: list[str] | None = None,
    core0: int = 0,
) -> list[str]:
    """Command line of one ``--worker`` at local[cpus]: spark-submit with
    *submit_args* when *zip_path* is set (JVM memory flags MUST be on the
    submit line — the driver JVM exists before the worker runs), plain
    python otherwise.  The whole tree (JVM + python workers) is pinned to
    cores core0..core0+cpus-1 — the N-core-executor proxy (module
    docstring)."""
    script = [os.path.abspath(__file__), "--worker", "--cpus", str(cpus)]
    if zip_path:
        cmd = [
            "spark-submit", "--master", f"local[{cpus}]", *(submit_args or []),
            "--py-files", zip_path, *script, *worker_args,
        ]
    else:
        cmd = [sys.executable, *script, *worker_args]
    if shutil.which("taskset"):
        cmd = ["taskset", "-c", f"{core0}-{core0 + cpus - 1}", *cmd]
    return cmd


def orchestrate(args) -> int:
    ensure_corpus(args.corpus, args.hosts, args.mean_pages, args.body_words)
    levels = [int(x) for x in args.levels.split(",")]
    zip_path = engine_zip()
    # Substrate repairs for the single-box proxy (each diagnosed from
    # per-thread stime + jstack + fork counters, see BENCH/BASELINE.md):
    #   fsshim  — Hadoop RawLocalFileSystem forks a `chmod` per created
    #             file/dir without libhadoop; at 16 threads the fork storm
    #             serializes kernel-side.  The nio shim removes every
    #             such fork (cluster filesystems set permissions via RPC).
    #   pretouch — G1 lazily commits heap; expansion during a measured
    #             round zero-fills pages in GC threads (188 core-sec of
    #             stime observed).  -Xms=-Xmx + AlwaysPreTouch moves that
    #             to JVM start, inside the unmeasured warm-up.
    #   locality.wait=0 — CPU-bound rounds should never park a free slot
    #             3 s hoping for cache locality (standard cluster setting
    #             for compute-bound jobs).
    # Heap is 32g/level (not 56g): with the size-adaptive pidx cache the
    # heap no longer holds the corpus index, and two resident pretouched
    # JVMs must fit beside the tmpfs disk-cache blocks.
    fsshim_jar = os.path.join(BENCH_TMP, "fsshim.jar")
    if zip_path and not os.path.exists(fsshim_jar):
        try:
            subprocess.run(
                [os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "build_fsshim.sh"), fsshim_jar],
                check=True,
            )
        except (subprocess.CalledProcessError, OSError):
            fsshim_jar = None  # javac unavailable: run without the shim
    heap = "32g"
    submit_perf_args = [
        "--driver-memory", heap,
        "--driver-java-options", f"-Xms{heap} -XX:+AlwaysPreTouch",
        "--conf", "spark.locality.wait=0",
    ] + (
        [
            "--jars", fsshim_jar,
            "--conf", f"spark.driver.extraClassPath={fsshim_jar}",
            "--conf", f"spark.executor.extraClassPath={fsshim_jar}",
            "--conf",
            "spark.hadoop.fs.file.impl=sparkgraft.NioRawLocalFileSystem",
            "--conf", "spark.hadoop.fs.file.impl.disable.cache=true",
        ]
        if fsshim_jar
        else []
    )

    # INTERLEAVED sampling (lo, hi, lo, hi, …): this co-tenanted host
    # drifts on a minutes timescale, so two levels measured back-to-back
    # see comparable conditions while two levels measured 10 minutes apart
    # do not — single-sample sequential runs have attributed up to ±2x of
    # pure host drift to the engine (the recorded 0.40 vs 0.66 on the same
    # binary).  Each (lo, hi) adjacent pair yields one pairwise efficiency;
    # the reported figure is the MEDIAN of the pairwise efficiencies, with
    # every sample retained in the artifact.
    # The substrate is calibrated PER PAIR (not once at the end): the
    # host's own per-core retention at the wide level drifts on the same
    # minutes timescale as the engine samples (parse-kernel eff has
    # measured 0.73-0.84 across runs hours apart), so engine-vs-substrate
    # is only meaningful when numerator and denominator share a window.
    #
    # RESIDENT paired workers: both levels' workers are spawned ONCE, on
    # DISJOINT pinned core sets (lo on cores 0..lo-1, hi on lo..lo+hi-1
    # unless --lo-core0/--hi-core0 place them), warm up their cached pages
    # index, then alternate measured samples on command.  This (a) pays
    # the multi-minute unmeasured warm-up once per level instead of once
    # per sample, so a (lo, hi) pair completes minutes apart instead of
    # tens of minutes, and (b) matches a real long-running crawl, which
    # amortizes JVM/python-worker startup exactly this way.  The idle JVM
    # parks on its own cores and consumes ~0 CPU while the other level
    # measures.  Substrate kernels are pinned to the SAME disjoint sets.
    lo, hi = min(levels), max(levels)
    core_of = {
        lo: 0 if args.lo_core0 is None else args.lo_core0,
        hi: lo if args.hi_core0 is None else args.hi_core0,
    }
    cores = {c: range(core_of[c], core_of[c] + c) for c in levels}
    if set(cores[lo]) & set(cores[hi]):
        raise SystemExit("lo/hi core sets overlap")
    runs: dict[int, list[dict]] = {c: [] for c in levels}
    warm_runs: dict[int, list[dict]] = {c: [] for c in levels}
    pair_subs: list[dict] = []
    # keep the orchestrator (and anything it forks un-pinned) off the
    # measurement cores; worker/substrate children re-pin themselves
    spare = set(range(os.cpu_count())) - set(cores[lo]) - set(cores[hi])
    if spare:
        try:
            os.sched_setaffinity(0, spare)
        except OSError:
            pass

    def _await_file(p, path: str, log_path: str, timeout_s: float = 3600):
        t0 = time.time()
        while not os.path.exists(path):
            if p.poll() is not None:
                raise RuntimeError(
                    f"resident worker exited early (see {log_path})"
                )
            if time.time() - t0 > timeout_s:
                raise RuntimeError(f"timed out waiting for {path}")
            time.sleep(0.2)
        with open(path) as fh:
            return json.load(fh)

    os.makedirs(BENCH_TMP, exist_ok=True)
    procs, logs, ctls = {}, {}, {}
    kidx = {c: 0 for c in levels}

    def _sample(cpus: int) -> dict:
        k = kidx[cpus]
        with open(os.path.join(ctls[cpus], f"cmd_{k}"), "w") as fh:
            fh.write("RUN")
        r = _await_file(
            procs[cpus],
            os.path.join(ctls[cpus], f"result_{k}.json"),
            logs[cpus],
        )
        kidx[cpus] += 1
        return r

    try:
        for cpus in (lo, hi):  # lo first: builds the pidx cache solo
            ctls[cpus] = tempfile.mkdtemp(prefix=f"scalectl{cpus}_")
            worker_args = [
                "--serve", "--ctl-dir", ctls[cpus],
                "--corpus", args.corpus,
                "--rounds", str(args.rounds),
                "--budget", str(args.budget),
                "--seen-filter", args.seen_filter,
                "--shuffle-mult", str(args.shuffle_mult),
                "--partitions", str(args.partitions),
                "--preseen-mod", str(args.preseen_mod),
                "--preseen-keep", str(args.preseen_keep),
            ] + (["--thread-profile"] if args.thread_profile else [])
            cmd = launch_cmd(
                worker_args, cpus, zip_path, submit_perf_args, core_of[cpus]
            )
            logs[cpus] = os.path.join(BENCH_TMP, f"resident_{cpus}.log")
            with open(logs[cpus], "ab") as log:
                procs[cpus] = subprocess.Popen(
                    cmd, stdout=log, stderr=subprocess.STDOUT, cwd=REPO
                )
            ready = _await_file(
                procs[cpus], os.path.join(ctls[cpus], "ready.json"), logs[cpus]
            )
            print(
                f"resident local[{cpus}] ready on cores "
                f"{core_of[cpus]}-{core_of[cpus] + cpus - 1} "
                f"(warm {ready['warm_sec']}s)",
                file=sys.stderr,
                flush=True,
            )
        # discarded warm pairs: the wide worker's first full crawl is
        # still JIT/page-cache warming even after the UDF touch
        for w in range(args.warm_pairs):
            for cpus in (lo, hi):
                warm_runs[cpus].append(_sample(cpus))
                print(
                    f"warm pair {w} level {cpus}: rounds "
                    f"{warm_runs[cpus][-1]['round_sec_total']}s (discarded)",
                    file=sys.stderr,
                    flush=True,
                )
        for s in range(args.samples):
            for cpus in (lo, hi):
                runs[cpus].append(_sample(cpus))
                print(
                    f"pair {s} level {cpus}: rounds "
                    f"{runs[cpus][-1]['round_sec_total']}s",
                    file=sys.stderr,
                    flush=True,
                )
            print(
                f"calibrating substrate (pair {s}) …",
                file=sys.stderr,
                flush=True,
            )
            pair_subs.append(
                substrate_eff(
                    lo, hi, dur=10.0, lo_cores=cores[lo], hi_cores=cores[hi]
                )
            )
    finally:
        for cpus, p in procs.items():
            try:
                with open(
                    os.path.join(ctls[cpus], f"cmd_{kidx[cpus]}"), "w"
                ) as fh:
                    fh.write("EXIT")
                p.wait(timeout=120)
            except Exception:
                p.kill()
        for ctl in ctls.values():
            shutil.rmtree(ctl, ignore_errors=True)

    def _thr(r: dict) -> float:
        return r["fetched_total"] / r["round_sec_total"]

    pair_effs = [
        round((_thr(runs[hi][s]) / _thr(runs[lo][s])) / (hi / lo), 3)
        for s in range(args.samples)
    ]
    pair_med_round_effs = []
    for s in range(args.samples):
        per_round = [
            (rl["sec"] / rh["sec"]) / (hi / lo)
            for rl, rh in zip(runs[lo][s]["rounds"], runs[hi][s]["rounds"])
        ]
        pair_med_round_effs.append(round(statistics.median(per_round), 3))

    eff = statistics.median(pair_effs)
    med_eff = statistics.median(pair_med_round_effs)
    # representative sample per level: the one nearest the interpolated
    # median of round_sec_total (an even --samples has no middle sample);
    # keeps the single-sample artifact shape for the results table
    def _rep(rs: list[dict]) -> dict:
        med = statistics.median(r["round_sec_total"] for r in rs)
        return min(rs, key=lambda r: abs(r["round_sec_total"] - med))

    results = {c: _rep(runs[c]) for c in levels}
    thr = {c: _thr(results[c]) for c in levels}
    # per-pair engine-vs-substrate: engine median-round eff of pair s
    # normalized by the parse-kernel eff measured in the same window
    pair_evs = [
        round(min(1.0, e / ps["parse"]["eff"]), 3)
        for e, ps in zip(pair_med_round_effs, pair_subs)
        if ps["parse"]["eff"]
    ]
    # representative substrate = the pair whose engine totals eff is
    # nearest the (interpolated) median
    rep_pair = min(
        range(len(pair_effs)), key=lambda i: abs(pair_effs[i] - eff)
    )
    sub = pair_subs[rep_pair]
    report = {
        "metric": "scaling_efficiency",
        "pinned": shutil.which("taskset") is not None,
        "value": round(eff, 3),
        "median_round_eff": round(med_eff, 3),
        "samples": args.samples,
        "protocol": "resident_paired_workers",
        "core_sets": {
            str(c): f"{core_of[c]}-{core_of[c] + c - 1}" for c in levels
        },
        "pairwise_eff": pair_effs,
        "pairwise_median_round_eff": pair_med_round_effs,
        "sample_round_sec_totals": {
            str(c): [r["round_sec_total"] for r in runs[c]] for c in levels
        },
        # tmpfs local-dir footprint after each sample, before/after the
        # between-sample ContextCleaner GC (resident-JVM aging evidence)
        "local_dir_bytes": {
            str(c): [
                [
                    r.get("local_dir_bytes_pre_gc"),
                    r.get("local_dir_bytes_post_gc"),
                ]
                for r in runs[c]
            ]
            for c in levels
        },
        "warm_pairs": args.warm_pairs,
        "warm_round_sec_totals": {
            str(c): [r["round_sec_total"] for r in warm_runs[c]]
            for c in levels
            if warm_runs[c]
        },
        "shuffle_mult": args.shuffle_mult,
        "partitions": args.partitions,
        "substrate": sub,
        "substrate_per_pair": pair_subs,
        "pairwise_engine_vs_substrate": pair_evs,
        "engine_vs_substrate": (
            round(statistics.median(pair_evs), 3) if pair_evs else None
        ),
        "unit": f"eff_{lo}to{hi}",
        "throughput_urls_per_sec": {str(c): round(thr[c], 1) for c in levels},
        "per_core_urls_per_sec": {
            str(c): round(thr[c] / c, 1) for c in levels
        },
        "levels": results,
        "corpus": {
            "path": args.corpus,
            **_corpus_params(args),
            "n_pages": results[lo]["n_pages"],
        },
        "budget_per_host": args.budget,
        "rounds": args.rounds,
    }
    bench_dir = os.path.join(REPO, "BENCH")
    os.makedirs(bench_dir, exist_ok=True)
    with open(os.path.join(bench_dir, f"scaling{args.out_suffix}.json"), "w") as f:
        json.dump(report, f, indent=2)
    render_tables(bench_dir)
    print(json.dumps(report))
    return 0


def _load(pattern: str, bench_dir: str) -> list[tuple[str, dict]]:
    out = []
    for fp in sorted(glob.glob(os.path.join(bench_dir, pattern))):
        with open(fp) as fh:
            out.append((os.path.basename(fp), json.load(fh)))
    return out


def _median(d: dict, samples_key: str, value_key: str) -> str:
    """Interpolated median of an artifact's per-pair list; artifacts
    written before the per-pair fields existed hold one sample, whose
    stored value is its own median."""
    xs = d.get(samples_key)
    x = statistics.median(xs) if xs else d.get(value_key)
    return "—" if x is None else f"{x:.3f}"


def _table(header: list[str], rows: list[list]) -> list[str]:
    return [
        "| " + " | ".join(header) + " |",
        "|" + " --- |" * len(header),
        *("| " + " | ".join(str(c) for c in r) + " |" for r in rows),
    ]


def render_tables(bench_dir: str) -> str:
    """The generated tables of *bench_dir*'s artifacts: one row per
    ``scaling*.json``, ``m_crawl*.json`` and ``l_crawl*.json`` file, the
    per-mode M/L medians, and the fetched-totals check across seen-filter
    modes.  Writes ``<bench_dir>/TABLES.md`` and returns its text.  The
    narrative lives in the hand-maintained BENCH/BASELINE.md, which no
    script writes."""
    scaling = []
    for fn, d in _load("scaling*.json", bench_dir):
        scaling.append([
            f"`{fn}`",
            # artifacts predating the protocol field ran one fresh JVM per
            # level per sample
            d.get("protocol", "sequential_fresh_jvm"),
            d.get("unit"),
            d.get("samples") or 1,
            d.get("rounds"),
            d.get("budget_per_host"),
            d.get("partitions") or "per-core",
            f"{d['corpus']['n_pages']:,}",
            _median(d, "pairwise_eff", "value"),
            _median(d, "pairwise_median_round_eff", "median_round_eff"),
            d.get("substrate", {}).get("parse", {}).get("eff", "—"),
            _median(d, "pairwise_engine_vs_substrate", "engine_vs_substrate"),
            d.get("pairwise_eff") or "—",
        ])
    runs, modes, checks = [], [], []
    for size, pattern in (("M", "m_crawl*.json"), ("L", "l_crawl*.json")):
        by_mode, by_workload = {}, {}
        for fn, d in _load(pattern, bench_dir):
            lv = d["level"]
            manifests = lv.get("manifest_bytes") or {}
            runs.append([
                f"`{fn}`", size, d["seen_filter"], d["cpus"],
                d["budget_per_host"], d["rounds"],
                f"{d['corpus']['n_pages']:,}", f"{lv['fetched_total']:,}",
                lv["round_sec_total"], d["value"], d["per_core"],
                max(manifests.values()) if manifests else "—",
            ])
            by_mode.setdefault(d["seen_filter"], []).append(d["value"])
            workload = (d["corpus"]["n_pages"], d["budget_per_host"], d["rounds"])
            by_workload.setdefault(workload, []).append(
                (d["seen_filter"], lv["fetched_total"])
            )
        for mode, xs in sorted(by_mode.items()):
            modes.append([
                size, mode, len(xs), f"{statistics.median(xs):.1f}",
                f"{min(xs)}–{max(xs)}" if len(xs) > 1 else "—",
            ])
        # the one correctness check the M/L runs carry: every run of the
        # same workload fetches the same url count, whatever its seen filter
        for (pages, budget, rounds), got in sorted(by_workload.items()):
            fetched = sorted({f for _mode, f in got})
            checks.append([
                size, f"{pages:,}", budget, rounds,
                ", ".join(sorted({mode for mode, _f in got})),
                ", ".join(f"{f:,}" for f in fetched),
                "IDENTICAL" if len(fetched) == 1 else "**DIFFERENT — BUG**",
            ])
    lines = [
        "# BENCH/TABLES.md — generated benchmark tables",
        "",
        "Generated from the BENCH/*.json artifacts by",
        "`python scripts/bench_scaling.py --render-only`; do not edit by hand.",
        "Protocols, readings and negative results: BENCH/BASELINE.md.",
        "Efficiencies are interpolated medians (`statistics.median`) of each",
        "artifact's per-pair values.",
        "",
        "## Scaling pairs (`scaling*.json`)",
        "",
        *_table(
            ["artifact", "protocol", "pair", "pairs", "rounds", "budget",
             "partitions", "pages", "totals eff", "median-round eff",
             "parse-substrate eff", "engine÷substrate", "pairwise totals"],
            scaling,
        ),
        "",
        "## M and L crawls (`m_crawl*.json`, `l_crawl*.json`)",
        "",
        *_table(
            ["artifact", "size", "seen filter", "cpus", "budget", "rounds",
             "pages", "fetched", "round secs", "urls/s", "urls/s/core",
             "max manifest B"],
            runs,
        ),
        "",
        "### Median throughput per seen-filter mode",
        "",
        *_table(["size", "seen filter", "samples", "median urls/s", "range"], modes),
        "",
        "### Fetched totals across seen-filter modes (filters prune, never decide)",
        "",
        *_table(
            ["size", "pages", "budget", "rounds", "modes", "fetched",
             "check"],
            checks,
        ),
    ]
    text = "\n".join(lines) + "\n"
    with open(os.path.join(bench_dir, "TABLES.md"), "w") as fh:
        fh.write(text)
    return text


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--worker", action="store_true")
    # regenerate BENCH/TABLES.md from the artifacts — no Spark
    p.add_argument("--render-only", action="store_true")
    # resident-worker protocol: stay alive, run a sample per cmd_<k> file
    p.add_argument("--serve", action="store_true")
    p.add_argument("--ctl-dir", default=os.path.join(BENCH_TMP, "ctl"))
    p.add_argument("--cpus", type=int, default=32)
    p.add_argument("--corpus", default=DEFAULT_CORPUS)
    p.add_argument("--levels", default="2,8")
    p.add_argument("--rounds", type=int, default=3)
    p.add_argument("--out-suffix", default="")
    p.add_argument("--budget", type=int, default=500)
    p.add_argument("--seen-filter", default="exact", choices=["exact", "bloom", "auto"])
    p.add_argument("--thread-profile", action="store_true")
    # partitions per core for the round pipeline's explicit repartitions.
    # 3x (the cluster-standard 2-4x rule): with exactly 1 task per core a
    # single straggling UDF task idles the other N-1 cores for its whole
    # tail — measured at local[16]: rounds total 120.4 s at 1x vs 88.2 s
    # at 3x on the same input (parallel_util 0.73 → 0.88 on the tail
    # rounds), while local[4] is unchanged (315 vs 319 s).  Stage-tail
    # smoothing is exactly what grows with parallelism.
    p.add_argument("--shuffle-mult", type=int, default=3)
    # fixed level-invariant shuffle-partition count (0 = cpus*shuffle_mult).
    # For the 4→16 pair use 48: the measured round-0 shuffle moves ~6 GB of
    # uncompressed html (307k pages x ~20 KB), and AQE's 128 MB advisory
    # target puts that at ~48 partitions — data-driven, same at both levels.
    p.add_argument("--partitions", type=int, default=0)
    # interleaved samples per level (lo,hi,lo,hi,…); median of the
    # pairwise efficiencies is reported
    p.add_argument("--samples", type=int, default=3)
    # discarded warm sample pairs before the measured ones: the wide
    # resident worker keeps JIT/page-cache warming through its first full
    # crawl even after the UDF-touch warm-up — measured 177→93→74→67 s
    # across four 16-core samples with the first one clearly still
    # warming.  A real long-running crawl amortizes this.
    p.add_argument("--warm-pairs", type=int, default=1)
    # explicit per-level placement (default: lo on cores 0.., hi right
    # after it): this VM's vCPUs are not interchangeable — measured
    # steady-state 16-core rounds are ~67-74 s on cores 4-19 but 74-104 s
    # on cores 16-31, and cores 0-3 (IRQ/timer targets) made the 4-core
    # level bimodal (208-350 s)
    p.add_argument("--lo-core0", type=int, default=None)
    p.add_argument("--hi-core0", type=int, default=None)
    p.add_argument("--preseen-mod", type=int, default=4)
    p.add_argument("--preseen-keep", type=int, default=1)
    p.add_argument("--hosts", type=int, default=256)
    p.add_argument("--mean-pages", type=int, default=1200)
    p.add_argument("--body-words", type=int, default=3000)
    args = p.parse_args()
    if args.render_only:
        render_tables(os.path.join(REPO, "BENCH"))
        print("rendered BENCH/TABLES.md")
        return 0
    if args.worker:
        res = run_worker(args)
        if res is not None:  # --serve writes result_<k>.json files itself
            print(json.dumps(res))
        return 0
    return orchestrate(args)


if __name__ == "__main__":
    sys.exit(main())
