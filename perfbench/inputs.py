"""Load generation: corpora, per-seed crawl inputs and their expected outputs.

Nothing here is the system under test.  Corpora come from
``fixtures.gen`` and are cached per parameter set under the work
directory; the per-url facts a checker needs (canonical hash, sha256 of
``engine.pure.html_to_text``, canonical out-links) are computed once with
the corpus, so checking a run costs dict operations, not HTML parsing.

A workload seed changes only the frontier priorities and which urls start
out pre-seen; the corpus shape is fixed per workload.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass

# corpus shape per round workload: fixtures.gen.gen_corpus arguments
CORPORA = {
    "budget_round": dict(n_hosts=48, mean_pages=80, body_words=3000),
}


@dataclass(frozen=True)
class RoundSpec:
    """A budget-bound round workload: the whole corpus is the frontier."""

    corpus: str
    preseen_pct: int  # share of frontier urls in the seen set at snapshot 0
    budget: int  # politeness budget per host
    rounds: int  # run_round calls per pass


ROUND_SPECS = {"budget_round": RoundSpec("budget_round", 25, 30, 1)}

# small_crawl: the golden S corpus from its 8 seeds, one round per pass (a
# pass is then short enough that a run measures several)
SMALL_ROUNDS = 1


def text_sha(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()[:16]


def raw_form(url: str) -> str:
    """Canon-hostile frontier form of a canonical page url (upper-case
    scheme and host), the same shape bench.py feeds the crawl."""
    host, path = url[len("http://") :].split("/", 1)
    return f"HTTP://{host.upper()}/{path}"


def priority(seed: int, url: str) -> int:
    from engine.pure import stable_hash

    return stable_hash(f"{seed}/{url}") % 100


def is_preseen(seed: int, url: str, pct: int) -> bool:
    from engine.pure import stable_hash

    return stable_hash(f"{seed}#seen/{url}") % 100 < pct


def _write_atomic(build, out_dir: str) -> None:
    """Run ``build(tmp_dir)`` and publish it as ``out_dir`` by rename."""
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.replace(tmp, out_dir)


def _pageinfo(pages: list[dict]) -> dict[str, list]:
    """url -> [url_hash, text sha, canonical links] of the as-of page."""
    from engine.pure import extract_links, hash64, html_to_text

    latest: dict[str, tuple] = {}
    for row in pages:
        prev = latest.get(row["url"])
        if prev is None or row["warc_ts"] > prev[0]:
            latest[row["url"]] = (row["warc_ts"], row["html"])
    return {
        url: [
            hash64(url),
            text_sha(html_to_text(html) or ""),
            extract_links(html, url) or [],
        ]
        for url, (_, html) in latest.items()
    }


def corpus_dir(work: str, name: str) -> str:
    """Generate (once) the named corpus; returns its cache directory,
    holding the parquet tables plus ``pageinfo.json`` and
    ``robots.json``."""
    from fixtures.gen import gen_corpus, write_parquet

    params = CORPORA.get(name)
    tag = "S" if params is None else "{n_hosts}x{mean_pages}w{body_words}".format(**params)
    out = os.path.join(work, "corpus", tag)
    if os.path.isdir(out):
        return out
    os.makedirs(os.path.dirname(out), exist_ok=True)

    def build(tmp: str) -> None:
        if params is None:
            corpus = gen_corpus("S")
        else:
            corpus = gen_corpus(compute_text=False, **params)
        write_parquet(corpus, tmp)
        with open(os.path.join(tmp, "pageinfo.json"), "w") as fh:
            json.dump(_pageinfo(corpus.pages), fh)
        with open(os.path.join(tmp, "robots.json"), "w") as fh:
            json.dump(corpus.robots, fh)

    _write_atomic(build, out)
    return out


def load_json(cdir: str, name: str):
    with open(os.path.join(cdir, name)) as fh:
        return json.load(fh)


def round_inputs(work: str, workload: str, seed: int) -> str:
    """Per-seed frontier seeds (raw url, priority) and pre-seen rows of a
    round workload, as parquet; returns their directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    spec = ROUND_SPECS[workload]
    cdir = corpus_dir(work, spec.corpus)
    out = os.path.join(work, "inputs", f"{workload}-{seed}")
    if os.path.isdir(out):
        return out
    os.makedirs(os.path.dirname(out), exist_ok=True)
    info = load_json(cdir, "pageinfo.json")

    def build(tmp: str) -> None:
        urls = sorted(info)
        pq.write_table(
            pa.table(
                {
                    "url": [raw_form(u) for u in urls],
                    "priority": pa.array(
                        [priority(seed, u) for u in urls], pa.int32()
                    ),
                }
            ),
            os.path.join(tmp, "seeds.parquet"),
        )
        seen = [u for u in urls if is_preseen(seed, u, spec.preseen_pct)]
        pq.write_table(
            pa.table(
                {
                    "url_hash": pa.array([info[u][0] for u in seen], pa.int64()),
                    "url": seen,
                    "fetched_round": pa.array([-1] * len(seen), pa.int32()),
                }
            ),
            os.path.join(tmp, "preseen.parquet"),
        )

    _write_atomic(build, out)
    return out


def small_seeds(seed: int) -> list[tuple[str, int]]:
    """The S corpus' 8 seeds with seed-derived priorities."""
    from fixtures.gen import gen_corpus

    return [(raw, priority(seed, raw)) for raw, _ in gen_corpus("S").seeds]


def small_inputs(work: str, seed: int) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = os.path.join(work, "inputs", f"small_crawl-{seed}")
    if os.path.isdir(out):
        return out
    os.makedirs(os.path.dirname(out), exist_ok=True)
    seeds = small_seeds(seed)

    def build(tmp: str) -> None:
        pq.write_table(
            pa.table(
                {
                    "url": [u for u, _ in seeds],
                    "priority": pa.array([p for _, p in seeds], pa.int32()),
                }
            ),
            os.path.join(tmp, "seeds.parquet"),
        )

    _write_atomic(build, out)
    return out


@dataclass
class Expected:
    """What a pass of a round workload must commit."""

    lineage: list[tuple]  # (round, url, fetch_seq, status), sorted
    texts: dict[tuple, str]  # (round, url) -> text sha, 200s only
    frontier_rows: list[int]  # per round
    n_seen_end: list[int]  # per round


def expected_rounds(work: str, workload: str, seed: int) -> Expected:
    """Replay the pinned round semantics of refspec/crawler.py on the
    workload's inputs: a pre-seeded frontier of every corpus url and a
    pre-seen set, ``rounds`` budget-bound rounds."""
    from engine.pure import hash64
    from refspec.crawler import _blocked, _host_of, _path_of

    spec = ROUND_SPECS[workload]
    cdir = corpus_dir(work, spec.corpus)
    info = load_json(cdir, "pageinfo.json")
    robots = load_json(cdir, "robots.json")

    # url_hash -> [url, host, priority, depth, discovered_round, src_url]
    frontier = {
        v[0]: [u, _host_of(u), priority(seed, u), 0, 0, ""]
        for u, v in info.items()
    }
    seen = {
        v[0] for u, v in info.items() if is_preseen(seed, u, spec.preseen_pct)
    }
    out = Expected([], {}, [], [])
    fetch_seq = 0
    for rnd in range(spec.rounds):
        by_host: dict[str, list] = {}
        blocked = []
        for h, e in frontier.items():
            if h in seen:
                continue
            if _blocked(_path_of(e[0]), robots.get(e[1])):
                blocked.append(h)
            else:
                by_host.setdefault(e[1], []).append((h, e))
        selected = []
        for rows in by_host.values():
            rows.sort(key=lambda he: (-he[1][2], he[1][4], he[1][0]))
            selected.extend(rows[: spec.budget])
        selected.sort(key=lambda he: he[1][0])
        parents = []
        for h, e in selected:
            page = info.get(e[0])
            status = "404" if page is None else "200"
            out.lineage.append((rnd, e[0], fetch_seq, status))
            fetch_seq += 1
            if page is not None:
                out.texts[(rnd, e[0])] = page[1]
                parents.append((e, page[2]))
        removed = [h for h, _ in selected] + blocked
        seen.update(removed)
        for h in removed:
            frontier.pop(h)
        for parent, links in parents:
            pri = max(0, parent[2] - 1)
            for dst in links:
                dh = hash64(dst)
                if dh in seen:
                    continue
                e = frontier.get(dh)
                if e is None:
                    frontier[dh] = [dst, _host_of(dst), pri, parent[3] + 1, rnd + 1, parent[0]]
                else:
                    e[2] = max(e[2], pri)
                    e[3] = min(e[3], parent[3] + 1)
                    e[4] = min(e[4], rnd + 1)
                    e[5] = min(e[5], parent[0])
        out.frontier_rows.append(len(frontier))
        out.n_seen_end.append(len(seen))
    out.lineage.sort()
    return out
