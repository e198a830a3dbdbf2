"""The flagship query for the driver smoke check (__spark_entry__.entry).

Loads /root/testdata/sf0.001 `documents`, deterministically synthesizes a
pages/seeds/robots micro-corpus from it (SURVEY.md §3.3 — one host per
`source`, html wrapping each doc's text with canon-hostile outlinks), and
runs ONE full crawl round: anti-join → robots gate → salted politeness
window → fetch join → Arrow text/link extraction → lineage.  Returns the
round's lineage DataFrame (rows > 0, stable schema).
"""

from __future__ import annotations

import tempfile
from datetime import timedelta

from engine.io import load_table
from engine.pure import stable_hash
from fixtures.gen import EPOCH


def _doc_pages(docs_rows):
    """documents rows → synthetic web: url per doc, links within/between
    sources, deliberately non-canonical hrefs (uppercase host, :80)."""
    by_source: dict[str, list] = {}
    for r in sorted(docs_rows, key=lambda r: r["doc_id"]):
        by_source.setdefault(r["source"], []).append(r)
    pages, seeds = [], []
    sources = sorted(by_source)
    for si, src in enumerate(sources):
        rows = by_source[src]
        host = f"{src}.example.test"
        for j, r in enumerate(rows):
            url = f"http://{host}/d/{r['doc_id']}"
            links = []
            for i in range(stable_hash(url) % 4):
                r2 = stable_hash(f"{url}/l{i}") % 100
                if r2 < 70:  # same source
                    tgt = rows[(j * 7 + i + 1) % len(rows)]
                    links.append(
                        f'<a href="http://{host.upper()}:80/d/{tgt["doc_id"]}#x">L{i}</a>'
                    )
                else:  # cross source
                    tsrc = sources[(si * 13 + i + 1) % len(sources)]
                    trows = by_source[tsrc]
                    tgt = trows[(j * 7 + i) % len(trows)]
                    links.append(
                        f'<a href="http://{tsrc}.example.test/d/{tgt["doc_id"]}">L{i}</a>'
                    )
            html = (
                f"<html><head><title>d{r['doc_id']}</title></head><body>"
                f"<h1>Doc {r['doc_id']}</h1><p>{r['text']}</p>"
                f"{''.join(links)}</body></html>"
            ).encode("utf-8")
            pages.append(
                (
                    url,
                    EPOCH + timedelta(seconds=stable_hash(url) % 86400),
                    bytearray(html),
                    r["lang"],
                )
            )
        seeds.append((f"HTTP://{host.upper()}:80/d/{rows[0]['doc_id']}", 100 - si))
    robots = [(f"{s}.example.test", ["/private/"], 0) for s in sources]
    return pages, seeds[:8], robots


def flagship(spark, sf_dir: str = "/root/testdata/sf0.001"):
    from engine.crawl import EngineConfig, run_crawl
    from engine.snapstore import SnapStore

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", "lang", "source")
        .collect()
    )
    pages_rows, seeds_rows, robots_rows = _doc_pages(docs)
    pages = spark.createDataFrame(
        pages_rows, "url string, warc_ts timestamp, html binary, lang string"
    )
    seeds = spark.createDataFrame(seeds_rows, "url string, priority int")
    robots = spark.createDataFrame(
        robots_rows, "host string, disallow array<string>, crawl_delay_ms int"
    )
    store = SnapStore(tempfile.mkdtemp(prefix="flagship_"))
    cfg = EngineConfig(default_budget=2, max_rounds=1, salt=4)
    run_crawl(spark, store, pages, robots, seeds, cfg)
    return store.read(spark, "lineage", 1)
