#!/usr/bin/env python3
"""The repo's benchmark: one command, one workload per call.

    python3 perfbench/run.py --workload budget_round --seed 1 --seconds 12 --trace 0

Workloads (see BENCHMARK.json for why each exists):

- ``budget_round``: a budget-bound round over a whole-corpus frontier of
  ~28 KB pages; extraction and the fetch join's index scan do the work.
- ``small_crawl``: run_crawl on the golden S corpus; per-round fixed cost
  is the whole cost.

A run generates its inputs from ``--seed`` (corpora are cached under
``.perfbench_work/``, outside every timed region), times several set-ups
and reports their median, warms up with one untimed round, then runs
passes from a fresh store until they add up to ``--seconds``.  Between
passes, outside the timed region, each pass's committed output is checked
and its store deleted.

The last stdout line is one JSON object: ``correct``, ``attempted`` and
``failed`` (measured rounds) and ``metrics`` -- the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.  A traced
run turns on Spark's event log and folds it per round span; after its
traced passes it runs one more pass with the event log detached (the
tracing overhead), and it starts one untraced local[1] child run for the
1->4 scaling efficiency.  The line before the result records the
environment.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

CORES = 4
SHUFFLE_PARTITIONS = 12  # 3 per core at local[4]; kept at local[1]
HEAP = "2g"
SETUP_REPS = 3
# C1-only JIT: a run lasts about a minute, too short for C2 to finish
# compiling Spark's planner, so with it every pass is faster than the last
# and a run's figures depend on how far JIT got.  C1 reaches its steady
# state within the warm-up.  C1-only shrinks the default code cache to
# 48 MB, which Spark's generated classes fill within a minute (the JVM then
# stops compiling and later passes run slower), so it is set larger.  The
# parallel collector runs no concurrent GC threads next to the tasks, and
# the whole heap is touched at start-up, not during the measured passes.
JVM_OPTS = (
    f"-Djava.io.tmpdir={WORK}/tmp -XX:-UsePerfData -XX:TieredStopAtLevel=1"
    " -XX:ReservedCodeCacheSize=256m -XX:+UseParallelGC -XX:+AlwaysPreTouch"
)

END_TO_END = {
    "urls_per_s": "urls/s",
    "crawl_s": "s",
    "round_p50_s": "s",
    "setup_s": "s",
}

# per-layer metric -> (unit, the end-to-end metric it should move, and on
# which workload).  Per measured round unless the name says otherwise.
PER_LAYER = {
    "session.start_s": ("s", "setup_s on both"),
    "spark.jobs_per_round": ("count", "round_p50_s on small_crawl"),
    "spark.tasks_per_round": ("count", "round_p50_s on small_crawl"),
    "spark.idle_frac": ("ratio", "round_p50_s on small_crawl"),
    "spark.deser_s": ("s", "round_p50_s on small_crawl"),
    "spark.cpu_s": ("s", "urls_per_s on budget_round"),
    "spark.run_s": ("s", "urls_per_s on budget_round"),
    "spark.gc_s": ("s", "urls_per_s on budget_round"),
    "spark.shuffle_mb": ("MB", "urls_per_s on budget_round"),
    "spark.cache_mb": ("MB", "setup_s on budget_round"),
    "snapstore.read_s": ("s", "round_p50_s on small_crawl"),
    "snapstore.commit_s": ("s", "round_p50_s on small_crawl"),
    "snapstore.write_mb.frontier": ("MB", "urls_per_s on budget_round"),
    "snapstore.write_mb.seen": ("MB", "urls_per_s on budget_round"),
    "snapstore.write_mb.lineage": ("MB", "urls_per_s on budget_round"),
    "snapstore.write_mb.pages_out": ("MB", "urls_per_s on budget_round"),
    "snapstore.manifest_bytes": ("bytes", "none; must stay flat"),
    "crawl.pages_index_s": ("s", "setup_s on budget_round"),
    "crawl.pages_index_mb": ("MB", "setup_s on budget_round"),
    "crawl.fetched_per_round": ("count", "base of urls_per_s on budget_round"),
    "crawl.fetch_scan_rows": ("count", "urls_per_s on budget_round"),
    "crawl.fetch_useful_frac": ("ratio", "urls_per_s on budget_round"),
    "udfs.extract_py_s": ("s", "urls_per_s on budget_round"),
    "udfs.extract_in_mb": ("MB", "urls_per_s on budget_round"),
    "udfs.hash_py_s": ("s", "urls_per_s on budget_round"),
    "udfs.worker_start_s": ("s", "round_p50_s on small_crawl"),
    "filters.factory_s": ("s", "round_p50_s on both"),
    "politeness.window_rows": ("count", "urls_per_s on budget_round"),
    "politeness.task_skew": ("ratio", "urls_per_s on budget_round"),
    "frontier.rows": ("count", "urls_per_s on budget_round"),
    "frontier.bootstrap_s": ("s", "setup_s on budget_round"),
    "trace.overhead_frac": ("ratio", "none; traced vs untraced urls_per_s"),
    "scaling.eff_1to4": ("ratio", "none; local[1] vs local[4] urls_per_s"),
}


def make_spark(cores: int, event_dir: str | None):
    from engine.session import get_spark

    extra = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": JVM_OPTS,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if event_dir:
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(
        master=f"local[{cores}]",
        app_name="perfbench",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def detach_event_log(spark) -> None:
    """Stop feeding Spark's event log (it still closes cleanly on stop).
    Waits for the listener bus to drain first, so every event so far is
    logged.  Uses SparkContext internals: the event logger and the bus."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    sc.removeSparkListener(sc.eventLogger().get())


def _dir_mb(path: str) -> float:
    if not os.path.isdir(path):
        return 0.0
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    ) / 1e6


def measure(args, event_dir: str | None) -> dict:
    """Set up, warm up, run timed passes, check them; returns the run's
    figures (end-to-end metrics plus what the per-layer fold needs)."""
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, storage_mb

    tracer = Tracer()
    wl = WORKLOADS[args.workload](args.workload, WORK, args.seed, tracer)
    errors: list[str] = []
    spark = None
    try:
        with tracer.span("setup"):
            with tracer.span("session.start"):
                spark = make_spark(args.cores, event_dir)
            for _ in range(args.setup_reps):
                with tracer.span("setup.data"):
                    wl.setup(spark)
            cache_mb = storage_mb(spark)
            with tracer.span("setup.warmup"):
                _, warm = wl.run_pass(spark, "w", rounds=1)
        discard(spark, warm)

        passes = []
        while sum(d for _, d, _ in passes) < args.seconds:
            passes.append(checked_pass(wl, spark, f"m{len(passes)}", errors))
        untraced = []
        if event_dir:
            # one more pass with the event log detached: the tracing
            # overhead in the same JVM
            detach_event_log(spark)
            untraced = [checked_pass(wl, spark, "u0", errors)]
        version = spark.version
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(os.path.join(WORK, "stores"), ignore_errors=True)

    rounds = [s for s in tracer.named("round") if s.round.startswith("m")]
    return {
        "errors": errors,
        "attempted": len(rounds),
        "spark_version": version,
        "tracer": tracer,
        "rounds": rounds,
        "fetched": sum(f for f, _, _ in passes),
        "pass_s": [d for _, d, _ in passes + untraced],
        "urls_per_s": statistics.median(f / d for f, d, _ in passes),
        "untraced_urls_per_s": statistics.median(f / d for f, d, _ in untraced)
        if untraced
        else None,
        "crawl_s": statistics.median(d for _, d, _ in passes),
        "round_p50_s": statistics.median(r.dur for r in rounds),
        "setup_s": tracer.named("session.start")[0].dur
        + statistics.median(s.dur for s in tracer.named("setup.data"))
        + tracer.named("setup.warmup")[0].dur,
        "spark.cache_mb": cache_mb,
        "crawl.pages_index_mb": wl.pages_index_mb,
        "crawl.index_rows": wl.index_rows,
        **passes[-1][2],
    }


def discard(spark, store) -> None:
    """Delete a pass's store, and collect the driver's garbage so Spark's
    cleaner drops the pass's shuffle files: passes do not pile up files
    in the checkout."""
    shutil.rmtree(store.root)
    spark.sparkContext._jvm.System.gc()


def checked_pass(wl, spark, tag: str, errors: list[str]) -> tuple[int, float, dict]:
    """Run one pass and check its output; returns (URLs fetched, wall
    seconds, figures of the store it committed)."""
    fetched, store = wl.run_pass(spark, tag)
    dur = wl.tracer.named("pass")[-1].dur
    errors += wl.check(store)
    n_rounds = store.latest()
    stats = {
        "snapstore.manifest_bytes": max(
            os.path.getsize(os.path.join(store.manifest_dir, f))
            for f in os.listdir(store.manifest_dir)
        ),
        "frontier.rows": store.manifest(n_rounds)["metrics"]["frontier_rows"],
    }
    for table in ("frontier", "seen", "lineage", "pages_out"):
        # snapshot 0 is set-up; the rest are written by the pass's rounds
        tdir = os.path.join(store.data_dir, table)
        written = [
            os.path.join(tdir, d)
            for d in (os.listdir(tdir) if os.path.isdir(tdir) else [])
            if not d.endswith("000000")
        ]
        stats[f"snapstore.write_mb.{table}"] = sum(map(_dir_mb, written)) / n_rounds
    discard(spark, store)
    return fetched, dur, stats


def _child(args, cores: int) -> dict:
    """An untraced run of the same workload and seed in a fresh process,
    measuring one pass after one set-up (a traced run must end within
    three minutes)."""
    cmd = [
        sys.executable, os.path.abspath(__file__),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", "1", "--trace", "0", "--cores", str(cores),
        "--setup-reps", "1",
    ]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=170, cwd=ROOT)
    if r.returncode != 0:
        raise RuntimeError(f"child run failed: {r.stderr[-2000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def per_layer(args, run: dict, event_dir: str) -> tuple[dict, list[str]]:
    from perfbench.trace import EventLog

    tracer, rounds = run["tracer"], run["rounds"]

    def per_round(name: str) -> float:
        return tracer.per_round(name, rounds)

    def median_span(name: str) -> float:
        spans = tracer.named(name)
        return statistics.median(s.dur for s in spans) if spans else 0.0

    m = EventLog.load(event_dir).fold(rounds)
    m.update({k: v for k, v in run.items() if k in PER_LAYER})
    fetched = run["fetched"] / len(rounds)
    m.update(
        {
            "session.start_s": tracer.named("session.start")[0].dur,
            "snapstore.read_s": per_round("snapstore.read"),
            "snapstore.commit_s": per_round("snapstore.commit"),
            "crawl.pages_index_s": median_span("crawl.pages_index"),
            "crawl.fetched_per_round": fetched,
            "crawl.fetch_useful_frac": fetched / m["crawl.fetch_scan_rows"]
            if m["crawl.fetch_scan_rows"]
            else 0.0,
            "filters.factory_s": per_round("filters.factory"),
            "frontier.bootstrap_s": median_span("frontier.bootstrap"),
        }
    )
    errors = []
    child = _child(args, 1)
    if not child["correct"]:
        errors.append("untraced local[1] child run failed its checks")
    untraced = run["untraced_urls_per_s"]
    m["trace.overhead_frac"] = 1.0 - run["urls_per_s"] / untraced
    m["scaling.eff_1to4"] = untraced / (CORES * child["metrics"]["urls_per_s"]["value"])
    tracer.dump(os.path.join(WORK, "traces", f"{args.workload}-{args.seed}.json"))
    # the trace against facts known from the event log of an S crawl and
    # from the fetch join's design (it scans every index row each round)
    print(
        f"trace check: {m['spark.jobs_per_round']:.1f} jobs/round; task deserialize "
        f"{m['spark.deser_s']:.2f} s vs executor CPU {m['spark.cpu_s']:.2f} s per round; "
        f"index rows scanned {m['crawl.fetch_scan_rows']:.0f}/round of {run['crawl.index_rows']}",
        file=sys.stderr,
    )
    return m, errors


def environment(spark_version: str, cores: int) -> dict:
    import pyspark

    try:
        head = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True
        ).stdout.strip() or "unknown"
    except OSError:
        head = "unknown"
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": f"local[{cores}]",
        "heap": HEAP,
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "spark": spark_version,
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "git_head": head,
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["budget_round", "small_crawl"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # for the traced run's local[1] child only
    ap.add_argument("--cores", type=int, default=CORES, help=argparse.SUPPRESS)
    ap.add_argument("--setup-reps", type=int, default=SETUP_REPS, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if os.environ.get("PYTHONHASHSEED") != "0":
        # one hash seed for every run: this process's and the Python
        # workers' set and dict orders are the same from run to run
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, os.path.abspath(__file__), *argv])

    if not os.path.isdir(os.path.join(ROOT, "engine")):
        print(f"no engine package under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ.pop("SPARK_GRAFT_CONF_JSON", None)  # no outside conf overrides

    from perfbench import inputs

    # load generation: the first run in a checkout builds every corpus
    for name in [*inputs.CORPORA, "S"]:
        inputs.corpus_dir(WORK, name)

    event_dir = None
    if args.trace:
        event_dir = os.path.join(WORK, "eventlog", args.workload)
        shutil.rmtree(event_dir, ignore_errors=True)
        os.makedirs(event_dir)
    run = measure(args, event_dir)
    errors = run["errors"]
    if args.trace:
        values, child_errors = per_layer(args, run, event_dir)
        errors += child_errors
        metrics = {k: {"value": values[k], "unit": u} for k, (u, _) in PER_LAYER.items()}
    else:
        metrics = {k: {"value": run[k], "unit": u} for k, u in END_TO_END.items()}
    for e in errors:
        print(f"check failed: {e}", file=sys.stderr)
    print("passes (s): " + " ".join(f"{d:.2f}" for d in run["pass_s"]), file=sys.stderr)
    print(json.dumps({"environment": environment(run["spark_version"], args.cores)}))
    print(
        json.dumps(
            {
                "correct": not errors,
                "attempted": run["attempted"],
                "failed": run["attempted"] if errors else 0,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
