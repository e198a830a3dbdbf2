"""Sharded bloom + cuckoo filters for the URL-seen set — built from scratch
(BASELINE.json:14 "partitioned bloom-filter + cuckoo-filter URL-seen set";
SURVEY.md §2 group E).

numpy bit-twiddling inside Arrow UDF boundaries; no JVM filter code.  The
invariant that keeps these safe at any scale: **filters prune, never
decide** — a bloom "maybe-seen" still goes through the exact anti-join
against the `seen` table; a bloom "definitely-unseen" skips it (bloom has
no false negatives, so skipping is sound).  The final seen set is therefore
byte-identical to the exact plan (property- and equivalence-tested).

Scale shape: one shard per url_hash bucket, each sized for n/P keys.  At a
10^10 frontier with P=4096 buckets and fpp 1e-3, a bloom shard is ~4.3 MB.
Shards live in the snapshot store (append-only ``bloomshards`` layers, the
``cuckooshards`` replace table), are built and updated executor-side by
grouped Arrow UDFs, and are probed by a cogroup on bucket =
pmod(url_hash, P): each task sees only its own bucket's shard rows and
probes whole batches vectorized.  No shard byte passes through the driver.

Cuckoo shards add deletion (re-crawl eviction) with 4-slot buckets and
16-bit fingerprints (partial-key cuckoo hashing, Fan et al. 2014 — public
algorithm; cf. PAPERS.md sliding-window cuckoo work for the motivation).
"""

from __future__ import annotations

import math

import numpy as np

# ---------------------------------------------------------------- bloom

_H2_MULT = np.uint64(0x9E3779B97F4A7C15)  # odd → permutation mod 2^64


def bloom_params(n_keys: int, fpp: float = 1e-3) -> tuple[int, int]:
    """(n_bits, k) sized for n_keys at the target false-positive rate."""
    n_keys = max(n_keys, 1)
    n_bits = int(-n_keys * math.log(fpp) / (math.log(2) ** 2))
    n_bits = max(64, (n_bits + 63) // 64 * 64)
    k = max(1, round(n_bits / n_keys * math.log(2)))
    return n_bits, min(k, 16)


def _indices(hashes: np.ndarray, n_bits: int, k: int) -> np.ndarray:
    """(k, n) bit positions via double hashing: h1 + i*h2 mod n_bits."""
    h1 = hashes
    with np.errstate(over="ignore"):
        h2 = (hashes * _H2_MULT) | np.uint64(1)
        i = np.arange(k, dtype=np.uint64)[:, None]
        return ((h1[None, :] + i * h2[None, :]) % np.uint64(n_bits)).astype(
            np.uint64
        )


def bloom_build(hashes: np.ndarray, n_bits: int, k: int) -> bytes:
    bits = np.zeros(n_bits // 8, dtype=np.uint8)
    if hashes.size:
        idx = _indices(hashes.astype(np.uint64), n_bits, k).ravel()
        np.bitwise_or.at(bits, (idx >> 3).astype(np.int64), (1 << (idx & 7)).astype(np.uint8))
    return bits.tobytes()


def bloom_contains(bloom: bytes, n_bits: int, k: int, hashes: np.ndarray) -> np.ndarray:
    """Vectorized membership: bool array, True = maybe-present."""
    if hashes.size == 0:
        return np.zeros(0, dtype=bool)
    bits = np.frombuffer(bloom, dtype=np.uint8)
    idx = _indices(hashes.astype(np.uint64), n_bits, k)  # (k, n)
    present = (bits[(idx >> 3).astype(np.int64)] >> (idx & 7).astype(np.uint8)) & 1
    return present.all(axis=0).astype(bool)


def bloom_shards_df(
    seen_df,
    n_shards: int = 32,
    fpp: float = 1e-3,
    gen: int = 0,
    full: bool = False,
):
    """One bloom shard per bucket via a grouped Arrow UDF (applyInPandas):
    the build runs where the seen partitions live; only finished shard
    bytes leave the executors.  Returns a DataFrame
    (bucket, bloom, n_bits, k, n_keys, gen, full).

    ``gen`` stamps the layer's generation (snapshot id); ``full=True``
    marks a COMPACTION layer built over the whole seen set — probes then
    ignore every layer older than the newest full generation, which is
    what bounds per-bucket probe cost over a long crawl (see
    StoreBloomFilter.delta_tables)."""
    import pandas as pd
    from pyspark.sql import functions as F

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        h = pdf["url_hash"].to_numpy(dtype=np.int64).astype(np.uint64)
        n_bits, k = bloom_params(len(h), fpp)
        return pd.DataFrame(
            {
                "bucket": [int(pdf["bucket"].iloc[0])],
                "bloom": [bloom_build(h, n_bits, k)],
                "n_bits": [n_bits],
                "k": [k],
                "n_keys": [len(h)],
                "gen": [gen],
                "full": [full],
            }
        )

    return (
        seen_df.select(
            "url_hash", F.pmod("url_hash", F.lit(n_shards)).alias("bucket")
        )
        .groupBy("bucket")
        .applyInPandas(
            _build,
            "bucket int, bloom binary, n_bits long, k int, n_keys long, "
            "gen int, full boolean",
        )
    )


def _tag_by_bucket(df, shards_df, n_shards: int, col: str, member):
    """Executor-side probe shared by both filters: cogroup the probe rows
    with the shard rows on bucket = pmod(col, P) and add ``_maybe_seen``.
    ``member(hashes, shard_rows)`` answers for one bucket's rows; a bucket
    with no shard row holds no seen keys, so its rows come back False.

    No shard byte ever touches the driver: shard rows flow shuffle→task,
    each task sees only its own bucket's rows.  The one exchange (probe
    side on pmod(url_hash, P)) is url_hash-aligned — with frontier and
    shards stored bucketed by url_hash it is a storage-partitioned no-op."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import BooleanType, StructField, StructType

    out_schema = StructType(
        df.schema.fields + [StructField("_maybe_seen", BooleanType(), False)]
    )
    cols = df.columns
    fr = df.withColumn(
        "_bucket", F.pmod(F.col(col), F.lit(n_shards)).cast("int")
    )

    def probe(key, rows: pd.DataFrame, shard_rows: pd.DataFrame) -> pd.DataFrame:
        rows = rows.drop(columns=["_bucket"])
        if rows.empty:
            return pd.DataFrame({c: [] for c in [*cols, "_maybe_seen"]})
        h = rows[col].to_numpy(dtype=np.int64)
        rows["_maybe_seen"] = (
            member(h, shard_rows)
            if len(shard_rows)
            else np.zeros(len(h), dtype=bool)
        )
        return rows

    return (
        fr.groupBy("_bucket")
        .cogroup(shards_df.groupBy("bucket"))
        .applyInPandas(probe, out_schema)
    )


def _bloom_member(h: np.ndarray, layers) -> np.ndarray:
    """True where ANY layer reports maybe-present (layers are per-round
    delta blooms — union of layers ≡ bloom over the whole seen set, and
    bloom's no-false-negatives property survives the union trivially).  A
    full (compaction) layer covers every key up to its gen, so layers older
    than the newest full gen are skipped."""
    if layers["full"].any():
        cutoff = layers.loc[layers["full"], "gen"].max()
        layers = layers[layers["gen"] >= cutoff]
    u = h.astype(np.uint64)
    maybe = np.zeros(len(h), dtype=bool)
    for lay in layers.itertuples(index=False):
        maybe |= bloom_contains(
            bytes(lay.bloom), int(lay.n_bits), int(lay.k), u
        )
        if maybe.all():
            break
    return maybe


def bloom_tag_store(df, shards_df, n_shards: int, col: str = "url_hash"):
    """Bloom probe over the ``bloomshards`` layers: a row is `_maybe_seen`
    iff any live layer of its bucket reports maybe-present."""
    return _tag_by_bucket(df, shards_df, n_shards, col, _bloom_member)


class StoreBloomFilter:
    """Round-scoped seen filter backed by the snapshot store (the 10^10
    path — VERDICT round 1 finding #2): shard layers live in the
    append-only ``bloomshards`` table, the probe is a bucket cogroup, and
    the per-round update is a bloom over ONLY the round's seen delta.
    Nothing is collected; nothing rides a task closure.

    Compaction: every ``compact_every`` snapshots the committed layer is
    a FULL bloom over the whole seen set (gen-stamped, full=True); probes
    skip layers older than the newest full gen, so per-bucket probe cost
    is bounded by compact_every instead of growing with crawl length.
    On the snapdir backend stale layer files are still read (and dropped
    executor-side); on Iceberg the same maintenance is rewriteDataFiles +
    expire_snapshots, which deletes them physically."""

    def __init__(
        self,
        shards_df,
        n_shards: int,
        fpp: float,
        sid: int,
        compact_every: int = 8,
        backfill_df=None,
    ):
        self.shards_df = shards_df
        self.n_shards = n_shards
        self.fpp = fpp
        self.sid = sid
        self.compact_every = max(int(compact_every), 1)
        self._backfill = backfill_df  # layers covering pre-existing seen
                                      # rows of a store with no shard table

    def __call__(self, frontier):
        return bloom_tag_store(frontier, self.shards_df, self.n_shards)

    def delta_tables(self, seen_delta, seen_next) -> dict:
        """Tables run_round commits alongside snapshot sid+1: normally one
        delta layer over this round's seen delta; on compaction rounds a
        single full layer over the whole next seen set; plus a one-time
        full backfill when the store predates the shard table."""
        nxt = self.sid + 1
        if nxt % self.compact_every == 0:
            return {
                "bloomshards": bloom_shards_df(
                    seen_next.select("url_hash"),
                    self.n_shards,
                    self.fpp,
                    gen=nxt,
                    full=True,
                )
            }
        delta = bloom_shards_df(
            seen_delta.select("url_hash"), self.n_shards, self.fpp, gen=nxt
        )
        if self._backfill is not None:
            delta = self._backfill.unionByName(delta)
        return {"bloomshards": delta}


def bloom_seen_filter_factory(
    n_shards: int = 32, fpp: float = 1e-3, compact_every: int = 8
):
    """seen_filter_factory for engine.crawl.run_crawl — store-backed: read
    the committed shard layers at snapshot sid (building them from the
    seen table only when the store has never carried shards), probe via
    bucket cogroup, and hand run_round the per-round delta (or periodic
    full-compaction) layer to commit with the snapshot."""

    def factory(spark, store, sid):
        try:
            shards = store.read(spark, "bloomshards", sid)
            backfill = None
        except FileNotFoundError:
            seen = store.read(spark, "seen", sid).select("url_hash")
            shards = bloom_shards_df(seen, n_shards, fpp, gen=sid, full=True)
            backfill = shards
        return StoreBloomFilter(
            shards, n_shards, fpp, sid, compact_every, backfill
        )

    return factory


# Engage threshold for the adaptive rule, expressed as BYTES of seen-set
# state (estimated as n_seen_end × SEEN_ROW_BYTES — the manifest metric ×
# a conservative row width, both O(1) reads).  The probe pass costs
# O(frontier) python CPU per round (measured ~100 core-sec at L's 10^7
# frontier) while it can only save work proportional to the SEEN side, so
# bloom is a tax whenever the exact anti-join's build side still fits in
# executor unified memory: measured 0.707× exact at M (5×10^5 seen) and
# 0.605× at L (the tax GROWS with frontier/seen ratio — SURVEY.md §6
# round-4 L stress).  Engagement is therefore sized to the point where
# seen state stops fitting: ~32 GiB ≈ the per-executor memory scale where
# a sharded in-memory build side is no longer realistic and the exact
# path must re-shuffle GBs of url_hash keys EVERY round, growing with
# crawl length, while the sharded bloom probe stays O(frontier) with a
# fixed ~1.2 GB/10^9-key layer footprint — the 10^10 design point
# (SURVEY.md §4).  At the default width this lands at ~3.6×10^8 rows.
ADAPTIVE_BLOOM_ENGAGE_BYTES = 32 << 30
# conservative seen-row width: url_hash int64 (8) + canonical url string
# (~70 B avg on web corpora, prefix-dedup-hostile) + fetched_round int +
# per-row parquet/arrow overhead
SEEN_ROW_BYTES = 96
# the gate in rows: the seen-row count whose estimated bytes first reach
# ADAPTIVE_BLOOM_ENGAGE_BYTES (ceil)
ADAPTIVE_BLOOM_ENGAGE_ROWS = -(-ADAPTIVE_BLOOM_ENGAGE_BYTES // SEEN_ROW_BYTES)


def adaptive_seen_filter_factory(
    engage_rows: int = ADAPTIVE_BLOOM_ENGAGE_ROWS,
    inner_factory=None,
    **bloom_kw,
):
    """seen_filter_factory that engages the store-backed bloom pass only
    once the seen set outgrows executor memory (VERDICT r3 #6; refined by
    the round-4 L-decade stress, SURVEY.md §6): below the threshold
    run_round gets ``None`` and does the plain exact anti-join (filters
    prune, never decide — so fetched urls are identical either way);
    above it, the inner store-backed factory takes over, paying its
    one-time full-bloom backfill on the engage round and per-round deltas
    after.

    The gate is ``n_seen_end ≥ engage_rows``, one O(1) manifest read.  Its
    default is the BYTES threshold above in rows: rows alone mis-price the
    10^10-frontier/10^8-seen regime — the probe pass scans every frontier
    candidate (cost ∝ frontier) to prune an anti-join whose build side
    still fits in memory (savings ∝ seen), so engagement keys on when seen
    state stops fitting.  ``inner_factory`` replaces the bloom factory
    (tests pass a fake).  The seen set is append-only, so the decision is
    monotone: once engaged, always engaged."""

    inner = inner_factory or bloom_seen_filter_factory(**bloom_kw)

    def factory(spark, store, sid):
        if store.manifest(sid)["metrics"]["n_seen_end"] < engage_rows:
            return None
        return inner(spark, store, sid)

    return factory


# ---------------------------------------------------------------- cuckoo

_CK_SLOTS = 4
_CK_MAX_KICKS = 500
_FP_MULT = np.uint64(0x5BD1E995)


class CuckooShard:
    """4-slot-bucket, 16-bit-fingerprint cuckoo filter with delete.

    Layout: uint16 table (n_buckets, 4); 0 = empty slot (fingerprints are
    forced nonzero).  Partial-key hashing: alt bucket = i ^ H(fp), so
    either bucket is recoverable from the other — that is what makes
    delete possible without the original key.
    """

    def __init__(self, n_keys: int, load: float = 0.84):
        want = max(int(n_keys / (_CK_SLOTS * load)) + 1, 4)
        self.n_buckets = 1 << max(2, (want - 1).bit_length())  # pow2
        self.table = np.zeros((self.n_buckets, _CK_SLOTS), dtype=np.uint16)
        self._mask = np.uint64(self.n_buckets - 1)
        self._rng_state = np.uint64(0x243F6A8885A308D3)  # deterministic kicks

    # -- key decomposition.  Keys are mixed (splitmix64 finalizer) before
    # use: url_hash64 values are already uniform, but the shard must stay
    # robust for arbitrary int64 keys (small ints would otherwise all get
    # fingerprint 1 — caught by tests/test_filters.py).
    @staticmethod
    def _mix(h: np.ndarray) -> np.ndarray:
        with np.errstate(over="ignore"):
            z = h + np.uint64(0x9E3779B97F4A7C15)
            z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            return z ^ (z >> np.uint64(31))

    def _fp(self, h: np.ndarray) -> np.ndarray:
        fp = (self._mix(h) >> np.uint64(48)).astype(np.uint16)
        fp[fp == 0] = 1
        return fp

    def _i1(self, h: np.ndarray) -> np.ndarray:
        return (self._mix(h) & self._mask).astype(np.int64)

    def _alt(self, i: np.ndarray, fp: np.ndarray) -> np.ndarray:
        with np.errstate(over="ignore"):
            return (
                (i.astype(np.uint64) ^ (fp.astype(np.uint64) * _FP_MULT))
                & self._mask
            ).astype(np.int64)

    def _next_det(self) -> int:
        # deterministic xorshift — eviction choice must not depend on RNG
        s = self._rng_state
        s ^= s << np.uint64(13)
        s ^= s >> np.uint64(7)
        s ^= s << np.uint64(17)
        self._rng_state = s
        return int(s)

    def insert(self, h: int) -> bool:
        hu = np.asarray([h], dtype=np.uint64)
        fp = int(self._fp(hu)[0])
        i1 = int(self._i1(hu)[0])
        i2 = int(self._alt(np.asarray([i1]), np.asarray([fp], dtype=np.uint16))[0])
        for i in (i1, i2):
            row = self.table[i]
            empty = np.where(row == 0)[0]
            if empty.size:
                row[empty[0]] = fp
                return True
        i = (i1, i2)[self._next_det() & 1]
        cur_fp = fp
        trail: list[tuple[int, int, int]] = []  # (bucket, slot, evicted_fp)
        for _ in range(_CK_MAX_KICKS):
            slot = self._next_det() % _CK_SLOTS
            trail.append((i, slot, int(self.table[i, slot])))
            cur_fp, self.table[i, slot] = int(self.table[i, slot]), cur_fp
            i = int(
                self._alt(np.asarray([i]), np.asarray([cur_fp], dtype=np.uint16))[0]
            )
            row = self.table[i]
            empty = np.where(row == 0)[0]
            if empty.size:
                row[empty[0]] = cur_fp
                return True
        # give up: ROLL BACK the kick trail so every previously-inserted
        # key stays present (a dropped victim would be a false negative),
        # then reject — caller rebuilds a bigger shard (SURVEY.md §7.3)
        for b, s, old in reversed(trail):
            self.table[b, s] = old
        return False

    def delete(self, h: int) -> bool:
        hu = np.asarray([h], dtype=np.uint64)
        fp = int(self._fp(hu)[0])
        i1 = int(self._i1(hu)[0])
        i2 = int(self._alt(np.asarray([i1]), np.asarray([fp], dtype=np.uint16))[0])
        for i in (i1, i2):
            row = self.table[i]
            hit = np.where(row == fp)[0]
            if hit.size:
                row[hit[0]] = 0
                return True
        return False

    def contains_batch(self, h: np.ndarray) -> np.ndarray:
        hu = h.astype(np.int64).astype(np.uint64)
        fp = self._fp(hu)
        i1 = self._i1(hu)
        i2 = self._alt(i1, fp)
        t = self.table
        m1 = (t[i1] == fp[:, None]).any(axis=1)
        m2 = (t[i2] == fp[:, None]).any(axis=1)
        return m1 | m2

    def contains(self, h: int) -> bool:
        return bool(self.contains_batch(np.asarray([h]))[0])

    def to_bytes(self) -> bytes:
        return self.table.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes, n_buckets: int) -> "CuckooShard":
        obj = cls.__new__(cls)
        obj.n_buckets = n_buckets
        obj.table = (
            np.frombuffer(data, dtype=np.uint16)
            .reshape(n_buckets, _CK_SLOTS)
            .copy()
        )
        obj._mask = np.uint64(n_buckets - 1)
        obj._rng_state = np.uint64(0x243F6A8885A308D3)
        return obj


_CK_SHARD_SCHEMA = "bucket int, table binary, n_buckets long, saturated boolean"


def _cuckoo_build_headroom(keys: np.ndarray) -> CuckooShard:
    """First-time bucket build with 4x capacity headroom so later per-round
    delta inserts usually land without a rebuild; on insert refusal
    (over-load) it rebuilds 2x bigger — the fallback path SURVEY.md §7.3
    risk 4 demands."""
    n = max(len(keys) * 4, 64)
    while True:
        shard = CuckooShard(n)
        if all(shard.insert(int(k)) for k in keys.astype(np.uint64)):
            return shard
        n *= 2


def cuckoo_shards_update_df(old_df, delta_keys, n_shards: int):
    """Incremental per-round cuckoo shard update, executor-side: cogroup
    the existing shard rows with the round's new keys on bucket; insert
    in place.  A bucket whose shard can no longer accept inserts (headroom
    exhausted — partial-key tables cannot grow without the original keys)
    flips to ``saturated``: the probe then treats its every key as
    maybe-seen (sound — no false negative is possible), and an offline
    rebuild from the seen table restores prune power.  Only buckets with
    delta keys change content; on Iceberg this update is an
    overwritePartitions touching exactly those buckets."""
    import pandas as pd
    from pyspark.sql import functions as F

    def upd(key, old: pd.DataFrame, delta: pd.DataFrame) -> pd.DataFrame:
        bucket = int(key[0])
        keys = (
            delta["url_hash"].to_numpy(dtype=np.int64)
            if len(delta)
            else np.zeros(0, dtype=np.int64)
        )
        if len(old):
            row = old.iloc[0]
            if bool(row["saturated"]):
                return old[["bucket", "table", "n_buckets", "saturated"]]
            shard = CuckooShard.from_bytes(
                bytes(row["table"]), int(row["n_buckets"])
            )
            ok = all(shard.insert(int(k)) for k in keys.astype(np.uint64))
            saturated = not ok
        else:
            shard = _cuckoo_build_headroom(keys)
            saturated = False
        return pd.DataFrame(
            {
                "bucket": [bucket],
                "table": [shard.to_bytes()],
                "n_buckets": [shard.n_buckets],
                "saturated": [saturated],
            }
        )

    keyed = delta_keys.select(
        "url_hash",
        F.pmod("url_hash", F.lit(n_shards)).cast("int").alias("bucket"),
    )
    return (
        old_df.groupBy("bucket")
        .cogroup(keyed.groupBy("bucket"))
        .applyInPandas(upd, _CK_SHARD_SCHEMA)
    )


def _cuckoo_member(h: np.ndarray, shard_rows) -> np.ndarray:
    row = shard_rows.iloc[0]
    if bool(row["saturated"]):
        return np.ones(len(h), dtype=bool)
    shard = CuckooShard.from_bytes(bytes(row["table"]), int(row["n_buckets"]))
    return shard.contains_batch(h)


def cuckoo_tag_store(df, shards_df, n_shards: int, col: str = "url_hash"):
    """Cuckoo probe over the ``cuckooshards`` table — the deletable twin of
    bloom_tag_store.  Saturated buckets degrade to all-maybe-seen, never to
    a false negative."""
    return _tag_by_bucket(df, shards_df, n_shards, col, _cuckoo_member)


class StoreCuckooFilter:
    """Store-backed cuckoo seen filter: full shard set lives in the
    REPLACE table ``cuckooshards``; per round the update cogroups old
    shards with the seen delta (content changes only in buckets that
    received keys) and run_round commits the result with the snapshot."""

    def __init__(self, shards_df, n_shards: int):
        self.shards_df = shards_df
        self.n_shards = n_shards

    def __call__(self, frontier):
        return cuckoo_tag_store(frontier, self.shards_df, self.n_shards)

    def delta_tables(self, seen_delta, seen_next) -> dict:
        return {
            "cuckooshards": cuckoo_shards_update_df(
                self.shards_df,
                seen_delta.select("url_hash"),
                self.n_shards,
            )
        }


def cuckoo_seen_filter_factory(n_shards: int = 32):
    """seen_filter_factory for engine.crawl.run_crawl — store-backed
    cuckoo variant of bloom_seen_filter_factory (deletable shards for
    re-crawl eviction; CuckooShard.delete is the eviction primitive)."""

    def factory(spark, store, sid):
        try:
            shards = store.read(spark, "cuckooshards", sid)
        except FileNotFoundError:
            seen = store.read(spark, "seen", sid).select("url_hash")
            empty = spark.createDataFrame([], _CK_SHARD_SCHEMA)
            shards = cuckoo_shards_update_df(empty, seen, n_shards)
        return StoreCuckooFilter(shards, n_shards)

    return factory

