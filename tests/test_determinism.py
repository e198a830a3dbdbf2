"""Determinism under parallelism (SURVEY.md §4 'deterministic results
under parallelism', §5.2): the same crawl at local[2] and local[8] — fresh
JVM each, different partition counts — must produce identical fetch logs
and seen sets.  A third store runs local[2] at 16 session partitions: its
small rounds plan at 2 partitions against a 16-partition pages index, so
round and index partitioning differ.  Compared through DuckDB directly on
the stores' parquet.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb
import pytest

from fixtures.gen import gen_corpus, write_parquet

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def stores(tmp_path_factory):
    corpus_dir = str(tmp_path_factory.mktemp("xs_corpus_det"))
    write_parquet(gen_corpus("XS"), corpus_dir)
    out = {}
    for level, shuffle in (("local[2]", 2), ("local[8]", 8), ("local[2]", 16)):
        store = str(tmp_path_factory.mktemp(f"store_{shuffle}"))
        res = subprocess.run(
            [
                sys.executable, os.path.join(REPO, "scripts", "run_crawl.py"),
                "--corpus", corpus_dir, "--store", store,
                "--master", level, "--shuffle-partitions", str(shuffle),
                "--budget", "2", "--salt", "4",
            ],
            capture_output=True, text=True, cwd=REPO, timeout=900,
        )
        assert res.returncode == 0, res.stderr[-2000:]
        out[shuffle] = (store, json.loads(res.stdout.strip().splitlines()[-1]))
    return out


def _q(store: str, sql: str):
    con = duckdb.connect()
    return con.execute(sql.format(d=os.path.join(store, "data"))).fetchall()


def _all_equal(results: list) -> bool:
    return all(r == results[0] for r in results[1:])


def test_summaries_identical(stores):
    assert _all_equal([summary for _, summary in stores.values()])


def test_fetch_log_identical(stores):
    sql = (
        "SELECT round, url, status, host, fetch_seq "
        "FROM '{d}/lineage/*/*.parquet' ORDER BY round, url"
    )
    assert _all_equal([_q(store, sql) for store, _ in stores.values()])


def test_seen_set_identical(stores):
    sql = (
        "SELECT url_hash, url, fetched_round FROM '{d}/seen/*/*.parquet' "
        "ORDER BY url_hash"
    )
    assert _all_equal([_q(store, sql) for store, _ in stores.values()])


def test_extracted_texts_identical(stores):
    sql = (
        "SELECT url, md5(text) FROM '{d}/pages_out/*/*.parquet' ORDER BY url"
    )
    assert _all_equal([_q(store, sql) for store, _ in stores.values()])
