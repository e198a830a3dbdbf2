"""M- and L-size crawl benches: one parallelism level (local[16] by
default — the widest honestly-scaling level on this VM, see
bench_scaling.substrate_eff) of the scaling bench's worker over a bigger
corpus.  Same worker protocol: unmeasured warm-up (pages index + UDF
touch), whole-corpus bootstrap frontier with 25% pre-seen, then measured
crawl rounds.

- M (SURVEY.md §6 / FIXTURES §2.5): the ~10^6-URL frontier data point the
  10^10 design claims rest on — two-phase range-partitioned fetch_seq,
  append-only seen deltas, manifest-carried offsets at 3x the scaling
  corpus.  ~6 KB html: M stresses FRONTIER size, the scaling bench
  stresses extraction CPU.
- L: one decade past M, a ~10^7-URL frontier with zipfian hosts.  A
  STRUCTURE stress, not a throughput headline: it is where driver/
  manifest-side costs invisible at 10^6 first show up (manifest JSON
  size, snapshot-listing scans, bootstrap canon+hash over the whole
  frontier, the bloom backfill over a 10^7-key seen set).  Pages stay
  ~0.5 KB so corpus generation and extraction do not drown the signal.

Usage:
    python scripts/bench_size.py --size M     # writes BENCH/m_crawl.json
    python scripts/bench_size.py --size L     # writes BENCH/l_crawl.json

Each run also regenerates BENCH/TABLES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

from bench_scaling import (  # noqa: E402
    BENCH_TMP,
    engine_zip,
    ensure_corpus,
    launch_cmd,
    render_tables,
)

SIZES = {
    "M": {
        "corpus": os.path.join(BENCH_TMP, "m_200x5000_w600"),
        "hosts": 200,
        "mean_pages": 5000,
        "body_words": 600,
        "heap": "56g",
        "rounds": 3,
        "budget": 1000,
        "seen_filter": "exact",
        "timeout": 5400,
    },
    "L": {
        "corpus": os.path.join(BENCH_TMP, "l_1000x10000_w24"),
        "hosts": 1000,
        "mean_pages": 10_000,
        "body_words": 24,
        "heap": "80g",
        "rounds": 2,
        "budget": 250,
        "seen_filter": "bloom",
        "timeout": 10800,
    },
}


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--size", required=True, choices=sorted(SIZES))
    p.add_argument("--cpus", type=int, default=16)
    # unset options take the size's row in SIZES
    p.add_argument("--rounds", type=int)
    p.add_argument("--budget", type=int)
    p.add_argument("--corpus")
    p.add_argument("--seen-filter", choices=["exact", "bloom", "auto"])
    p.add_argument("--out", help="default: <size>_crawl.json")
    args = p.parse_args()
    row = SIZES[args.size]
    for k in ("rounds", "budget", "corpus", "seen_filter"):
        if getattr(args, k) is None:
            setattr(args, k, row[k])
    out = args.out or f"{args.size.lower()}_crawl.json"

    ensure_corpus(args.corpus, row["hosts"], row["mean_pages"], row["body_words"])
    worker_args = [
        "--corpus", args.corpus,
        "--rounds", str(args.rounds), "--budget", str(args.budget),
        "--seen-filter", args.seen_filter,
    ]
    cmd = launch_cmd(
        worker_args, args.cpus, engine_zip(), ["--driver-memory", row["heap"]]
    )
    print(
        f"=== {args.size}-size crawl, local[{args.cpus}], seen-filter="
        f"{args.seen_filter} ===",
        file=sys.stderr,
        flush=True,
    )
    res = subprocess.run(
        cmd, capture_output=True, text=True, cwd=REPO, timeout=row["timeout"]
    )
    sys.stderr.write(res.stderr[-4000:])
    if res.returncode != 0:
        print(f"{args.size} worker failed", file=sys.stderr)
        return 1
    level = json.loads(res.stdout.strip().splitlines()[-1])
    thr = level["fetched_total"] / level["round_sec_total"]
    report = {
        "metric": f"{args.size.lower()}_crawl_urls_per_sec",
        "value": round(thr, 1),
        "seen_filter": args.seen_filter,
        "per_core": round(thr / args.cpus, 1),
        "cpus": args.cpus,
        "budget_per_host": args.budget,
        "rounds": args.rounds,
        "corpus": {
            "path": args.corpus,
            "hosts": row["hosts"],
            "mean_pages": row["mean_pages"],
            "body_words": row["body_words"],
            "n_pages": level["n_pages"],
        },
        # per-snapshot manifest bytes live in level["manifest_bytes"]: the
        # driver-side O(1) claim is that they stay flat as history grows
        "level": level,
    }
    bench_dir = os.path.join(REPO, "BENCH")
    os.makedirs(bench_dir, exist_ok=True)
    with open(os.path.join(bench_dir, out), "w") as f:
        json.dump(report, f, indent=2)
    render_tables(bench_dir)
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
