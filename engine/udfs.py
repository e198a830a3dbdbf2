"""Vectorized Arrow/pandas UDFs wrapping the pure primitives (SURVEY.md §2 F).

Every UDF here is a pandas UDF (Arrow batch transfer, BASELINE.json:15 "no
per-row Python" — i.e. no row-at-a-time ``udf()``); each batch crosses the
JVM↔Python boundary once as Arrow columns.  The per-element work inside a
batch calls the same pure functions the refspec oracle calls, which is what
makes byte-identity an invariant by construction rather than a hope
(tests/test_properties.py asserts vectorized ≡ scalar on identical inputs).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from engine.pure import (
    canon,
    compress_html,
    decompress_html,
    extract_links,
    extract_text_and_links,
    hash64,
    html_to_text,
)

# struct returned by canon_hash: canonical url (or null) + its hash64
CANON_HASH_TYPE = StructType(
    [
        StructField("url", StringType(), True),
        StructField("url_hash", LongType(), True),
    ]
)


@F.pandas_udf(StringType())
def canon_udf(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: canon(u) if u is not None else None)


@F.pandas_udf(LongType())
def hash64_udf(urls: pd.Series) -> pd.Series:
    # nullable int64 → use object->Int64 to keep nulls; Spark accepts Int64
    return urls.map(lambda u: hash64(u) if u is not None else None).astype("Int64")


@F.pandas_udf(CANON_HASH_TYPE)
def canon_hash_udf(urls: pd.Series) -> pd.DataFrame:
    """One Arrow pass producing (canonical url, hash64) together."""
    canons = urls.map(lambda u: canon(u) if u is not None else None)
    hashes = canons.map(lambda c: hash64(c) if c is not None else None).astype("Int64")
    return pd.DataFrame({"url": canons, "url_hash": hashes})


@F.pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return html.map(lambda b: html_to_text(b) if b is not None else None)


@F.pandas_udf(ArrayType(StringType()))
def extract_links_udf(html: pd.Series, base_url: pd.Series) -> pd.Series:
    out = [
        extract_links(b, u) if b is not None else None
        for b, u in zip(html, base_url)
    ]
    return pd.Series(out, dtype=object)


# struct returned by extract_both_z_udf: text + canonical outlinks in ONE
# parse — html crosses the Arrow boundary once and is parsed once
# (engine/pure.py extract_text_and_links), instead of once per F3/F4 UDF
EXTRACT_BOTH_TYPE = StructType(
    [
        StructField("text", StringType(), True),
        StructField("links", ArrayType(StringType()), True),
    ]
)


@F.pandas_udf(BinaryType())
def compress_html_udf(html: pd.Series) -> pd.Series:
    """One-time, at pages-index build: html -> zlib(level=1) bytes.  From
    here on the engine moves ~10x fewer bytes per fetched page (see
    engine/pure.compress_html)."""
    return html.map(compress_html)


@F.pandas_udf(EXTRACT_BOTH_TYPE)
def extract_both_z_udf(html_z: pd.Series, base_url: pd.Series) -> pd.DataFrame:
    """Text + canonical outlinks over the COMPRESSED pages index: inflate
    each selected page inside the same Arrow batch, parse once, drop the
    bytes.  The result equals extract_text_and_links on the original html
    because zlib round-trips losslessly
    (tests/test_pure_fast.py::test_html_z_roundtrip)."""
    texts: list[str | None] = []
    links: list[list[str] | None] = []
    for zb, u in zip(html_z, base_url):
        if zb is None:
            texts.append(None)
            links.append(None)
            continue
        t, ls = extract_text_and_links(decompress_html(zb), u)
        texts.append(t)
        links.append(ls)
    return pd.DataFrame({"text": texts, "links": pd.Series(links, dtype=object)})
