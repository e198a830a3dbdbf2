"""scripts/bench_scaling.render_tables: the generated BENCH/TABLES.md.

The renderer computes tables from the BENCH/*.json artifacts and nothing
else — interpolated medians, one row per artifact file, the fetched-totals
check across seen-filter modes — and never touches the hand-maintained
BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

from bench_scaling import render_tables  # noqa: E402


def _size_run(seen_filter: str, fetched: int) -> dict:
    return {
        "metric": "m_crawl_urls_per_sec",
        "value": 1000.0,
        "seen_filter": seen_filter,
        "per_core": 250.0,
        "cpus": 4,
        "budget_per_host": 10,
        "rounds": 2,
        "corpus": {"n_pages": 500},
        "level": {"fetched_total": fetched, "round_sec_total": 2.0},
    }


def _row(text: str, artifact: str) -> list[str]:
    (line,) = [ln for ln in text.splitlines() if ln.startswith(f"| `{artifact}`")]
    return [c.strip() for c in line.strip("|").split("|")]


def test_render_tables_medians_check_and_baseline_untouched(tmp_path):
    artifacts = {
        "scaling_x.json": {
            "protocol": "resident_paired_workers",
            "unit": "eff_2to8",
            "samples": 4,
            "rounds": 1,
            "budget_per_host": 10,
            "partitions": 8,
            "corpus": {"n_pages": 500},
            # median_high (the stored value) is 0.7; interpolated is 0.65
            "value": 0.7,
            "pairwise_eff": [0.5, 0.9, 0.6, 0.7],
            "median_round_eff": 0.7,
            "pairwise_median_round_eff": [0.5, 0.9, 0.6, 0.7],
        },
        "m_crawl.json": _size_run("exact", 100),
        "m_crawl_bloom.json": _size_run("bloom", 101),
    }
    for name, d in artifacts.items():
        (tmp_path / name).write_text(json.dumps(d))
    baseline = tmp_path / "BASELINE.md"
    baseline.write_bytes(b"# hand-written narrative\n\nkeep me\n")
    before = baseline.read_bytes()

    text = render_tables(str(tmp_path))

    assert (tmp_path / "TABLES.md").read_text() == text
    row = _row(text, "scaling_x.json")
    assert row[8] == "0.650" and row[9] == "0.650"
    assert "0.700" not in row
    # one row per artifact file
    assert _row(text, "m_crawl.json")[2] == "exact"
    assert _row(text, "m_crawl_bloom.json")[2] == "bloom"
    (check,) = [ln for ln in text.splitlines() if ln.startswith("| M | 500 |")]
    assert "DIFFERENT" in check and "IDENTICAL" not in check
    assert baseline.read_bytes() == before


def test_committed_tables_match_artifacts(tmp_path):
    bench = os.path.join(REPO, "BENCH")
    with open(os.path.join(bench, "TABLES.md")) as fh:
        committed = fh.read()
    copy = tmp_path / "BENCH"
    shutil.copytree(bench, copy)
    assert committed == render_tables(str(copy)), (
        "BENCH/TABLES.md is stale: run "
        "`python scripts/bench_scaling.py --render-only`"
    )
