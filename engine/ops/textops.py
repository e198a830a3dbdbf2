"""Training-data pipeline operators over `documents` (task brief: dedup,
text analysis, multimodal plumbing — first-class alongside SURVEY.md §2).

Design split per operator:
- JVM-expressible analysis (token counts, marker-based language-ID,
  quality ratios, exact dedup) uses builtins only and carries a DuckDB
  oracle — these are the 100-TB hot paths and must stay in whole-stage
  codegen.
- Sketch-based dedup (MinHash-LSH, SimHash) wraps the pure sketches in
  engine/textanalysis.py with Arrow pandas UDFs; the LSH band-bucket
  self-join is plain DataFrame code, so the shuffle topology (explode →
  hash join on band key → pair dedup → verify) is exactly what a
  1000-executor run would use.  Verified against brute force in
  tests/test_textops.py (no SQL oracle: not ANSI-expressible).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from engine.io import load_table
from engine.ops import op
from engine.ops.goldens import golden_oracle as _golden
from engine.textanalysis import (
    LANG_MARKERS,
    band_keys,
    doc_fingerprint,
    shingle_hashes,
    simhash64,
)

# ----------------------------------------------------------------- dedup


@op(
    "dedup_exact",
    "SELECT substr(text, 1, 30) AS text_key, min(doc_id) AS keep_doc_id, "
    "count(*) AS n_dups FROM documents GROUP BY substr(text, 1, 30)",
    "K",
)
def dedup_exact(spark, sf):
    # exact dedup = hash groupBy on the normalized key; survivors chosen by
    # min(doc_id), an aggregate — never dropDuplicates (nondeterministic)
    docs = load_table(spark, sf, "documents")
    return docs.groupBy(
        F.substring("text", 1, 30).alias("text_key")
    ).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count("*").alias("n_dups"),
    )


_SKETCH_SCHEMA = StructType(
    [
        StructField("bands", ArrayType(LongType())),
        StructField("sh", ArrayType(LongType())),
    ]
)


@F.pandas_udf(_SKETCH_SCHEMA)
def _minhash_sketch_udf(texts: pd.Series) -> pd.DataFrame:
    """Band keys AND shingle-hash array from ONE tokenize+shingle+sha
    pass per doc (shingle hashing — sha256 per shingle — dominates the
    sketch cost; the minhash signature is derived from the same hashes).
    The dedup ops persist this sketch so the LSH pair join and both
    verify sides read it from cache: one shingle pass per doc total."""
    from engine.textanalysis import minhash_signature_from_hashes

    bands: list[list[int]] = []
    shs: list[list[int]] = []
    for t in texts:
        sh = shingle_hashes(t or "")
        bands.append(band_keys(minhash_signature_from_hashes(sh)))
        shs.append(sh.astype(np.int64).tolist())
    return pd.DataFrame({"bands": bands, "sh": shs})


def _jvm_jaccard(a, b):
    """Exact Jaccard over per-doc shingle-hash arrays, pure JVM
    (array_intersect + size — no Python in the pair loop).  Equal to
    engine.textanalysis.jaccard up to 64-bit shingle-hash collisions
    (probability ~n²/2^64; the pytest brute-force comparison would catch
    one).  Two empty shingle sets are defined as similarity 1.0, matching
    the pure function."""
    inter = F.size(F.array_intersect(a, b))
    return F.when(
        (F.size(a) == 0) & (F.size(b) == 0), F.lit(1.0)
    ).otherwise(inter / (F.size(a) + F.size(b) - inter))


def minhash_sketch(docs, id_col="doc_id", text_col="text"):
    """(doc_id, bands, sh) — the one-pass-per-doc sketch frame, PERSISTED:
    the LSH pair join (bands) and both verify join sides (sh) all read it
    from cache, so each doc is tokenized/shingled/sha'd exactly once per
    dedup run (round 1 computed shingles three times per doc)."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            _minhash_sketch_udf(F.col(text_col)).alias("sk"),
        )
        .select(
            "doc_id",
            F.col("sk.bands").alias("bands"),
            F.col("sk.sh").alias("sh"),
        )
        .persist()
    )


def minhash_candidate_pairs(sk):
    """MinHash-LSH candidate pairs from a sketch frame: band-explode →
    bucket self-join.

    Scale shape: the explode produces N_BANDS rows/doc; the self-join keys
    on (band_id, band_key) so only same-bucket docs ever meet — no
    quadratic pair generation.  Hot buckets (boilerplate docs) are the
    skew risk at 100 TB; AQE skew-join handles the join side.
    """
    sig = sk.select(
        "doc_id",
        F.posexplode("bands").alias("band_id", "band_key"),
    )
    a, b = sig.alias("a"), sig.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


@op("dedup_minhash_lsh", _golden("dedup_minhash_lsh"), "K")
def dedup_minhash_lsh(spark, sf):
    # verify candidates with the exact n-gram jaccard (filters prune,
    # verification decides — same invariant as the bloom seen-set).
    # Shingle hashes are computed ONCE per doc (minhash_sketch, persisted)
    # and carried through the pair join as arrays; the per-pair work is a
    # JVM array_intersect — a doc in k candidate pairs is never
    # re-shingled k times (hot boilerplate buckets make k large exactly
    # when that would hurt).
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    sk = minhash_sketch(docs)
    pairs = minhash_candidate_pairs(sk)
    ta = sk.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    tb = sk.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    verified = (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("jac", F.round(_jvm_jaccard(F.col("sh_a"), F.col("sh_b")), 4))
        .filter(F.col("jac") >= 0.5)
    )
    return verified.select("doc_a", "doc_b", "jac")


@op("dedup_ngram_jaccard", _golden("dedup_ngram_jaccard"), "K")
def dedup_ngram_jaccard(spark, sf):
    """Exact n-gram Jaccard over LSH candidates (the brute-force verifier
    exposed as its own operator; rows-only — pytest oracles it against a
    driver-side quadratic scan on a sample).  Same once-per-doc shingle
    arrays + JVM intersect as dedup_minhash_lsh."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    sk = minhash_sketch(docs)
    pairs = minhash_candidate_pairs(sk)
    ta = sk.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    tb = sk.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(_jvm_jaccard(F.col("sh_a"), F.col("sh_b")), 4).alias("jac"),
        )
    )


@F.pandas_udf(LongType())
def _simhash_udf(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: simhash64(t or "")).astype("int64")


@op("dedup_simhash", _golden("dedup_simhash"), "K")
def dedup_simhash(spark, sf):
    """SimHash near-dup: 64-bit fingerprints, candidates via 4×16-bit band
    equality (any pair at hamming ≤ 3 shares ≥ 1 exact band — pigeonhole),
    verified by bit_count(xor) ≤ 3, all JVM-side after the sketch UDF."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    fp = docs.select("doc_id", _simhash_udf("text").alias("sim"))
    bands = fp.select(
        "doc_id",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        F.shiftrightunsigned("sim", 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("band_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "sim", "band.band_id", "band.band_val")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sim").alias("sim_a"),
            F.col("b.sim").alias("sim_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.expr("bit_count(sim_a ^ sim_b)").cast("int")
        )
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )


# ----------------------------------------------------------- text analysis

def _toks():
    return F.split(F.trim(F.col("text")), r"\s+")


@op(
    "token_count",
    "SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens "
    "FROM documents",
    "K",
)
def token_count(spark, sf):
    return load_table(spark, sf, "documents").select(
        "doc_id", F.size(_toks()).alias("n_tokens")
    )


# BPE-ish pre-tokenizer (GPT-2-style shape, ASCII-restricted so Spark's
# Java regex and DuckDB's RE2 agree symbol-for-symbol): letter runs,
# digit runs, single punctuation marks.  The subword estimate charges
# ceil(len/4) tokens per letter run — the ~4-chars-per-BPE-token rule —
# and 1 per digit run or punctuation mark.
_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


@op(
    "token_count_bpe",
    "SELECT doc_id, len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9[:space:]]')) AS n_pieces, "
    "CAST(list_sum(list_transform(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9[:space:]]'), "
    "w -> CASE WHEN regexp_matches(w, '^[A-Za-z]') THEN CAST(ceil(length(w) / 4.0) AS BIGINT) "
    "ELSE 1 END)) AS BIGINT) AS n_bpe_est FROM documents",
    "K",
)
def token_count_bpe(spark, sf):
    """Subword-ish token counting (task brief: 'token counting (whitespace
    + a BPE-ish regex)') — all JVM-side: regexp_extract_all + transform +
    aggregate, no Python."""
    docs = load_table(spark, sf, "documents")
    pieces = F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), F.lit(0))
    per_piece = F.transform(
        pieces,
        lambda w: F.when(
            w.rlike("^[A-Za-z]"),
            F.ceil(F.length(w) / F.lit(4.0)).cast("long"),
        ).otherwise(F.lit(1).cast("long")),
    )
    return docs.select(
        "doc_id",
        F.size(pieces).alias("n_pieces"),
        F.aggregate(
            per_piece, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("n_bpe_est"),
    )


def _marker_count_spark(markers):
    return F.size(
        F.filter(_toks(), lambda t: t.isin(*markers))
    )


def _marker_count_sql(markers):
    inlist = ", ".join(f"'{m}'" for m in markers)
    return (
        "len(list_filter(regexp_split_to_array(trim(text), '\\s+'), "
        f"t -> t IN ({inlist})))"
    )


_LANGS = sorted(LANG_MARKERS)  # de, en, es, fr — tie-break order, pinned


def _langid_sql() -> str:
    scores = {
        lang: _marker_count_sql(LANG_MARKERS[lang]) for lang in _LANGS
    }
    cols = ", ".join(f"{scores[lang]} AS s_{lang}" for lang in _LANGS)
    ge = lambda x, ys: " AND ".join(f"s_{x} >= s_{y}" for y in ys)  # noqa: E731
    return (
        f"SELECT doc_id, s_de, s_en, s_es, s_fr, "
        "CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'unk' "
        f"WHEN {ge('de', ['en', 'es', 'fr'])} THEN 'de' "
        f"WHEN {ge('en', ['es', 'fr'])} THEN 'en' "
        f"WHEN {ge('es', ['fr'])} THEN 'es' ELSE 'fr' END AS pred_lang "
        f"FROM (SELECT doc_id, {cols} FROM documents)"
    )


@op("lang_id", _langid_sql(), "K")
def lang_id_op(spark, sf):
    docs = load_table(spark, sf, "documents")
    scored = docs.select(
        "doc_id",
        *[
            _marker_count_spark(LANG_MARKERS[lang]).alias(f"s_{lang}")
            for lang in _LANGS
        ],
    )
    s = {lang: F.col(f"s_{lang}") for lang in _LANGS}
    pred = (
        F.when(F.greatest(*s.values()) == 0, F.lit("unk"))
        .when(
            (s["de"] >= s["en"]) & (s["de"] >= s["es"]) & (s["de"] >= s["fr"]),
            F.lit("de"),
        )
        .when((s["en"] >= s["es"]) & (s["en"] >= s["fr"]), F.lit("en"))
        .when(s["es"] >= s["fr"], F.lit("es"))
        .otherwise(F.lit("fr"))
    )
    return scored.withColumn("pred_lang", pred)


@op(
    "quality_score",
    "SELECT doc_id, n_tokens, round(n_nospace / n_tokens, 4) AS avg_tok_len, "
    "round(n_stop / n_tokens, 4) AS stop_ratio FROM (SELECT doc_id, "
    "len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens, "
    "length(replace(text, ' ', '')) AS n_nospace, "
    + _marker_count_sql(LANG_MARKERS["en"])
    + " AS n_stop FROM documents)",
    "K",
)
def quality_score(spark, sf):
    docs = load_table(spark, sf, "documents")
    base = docs.select(
        "doc_id",
        F.size(_toks()).alias("n_tokens"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).alias(
            "n_nospace"
        ),
        _marker_count_spark(LANG_MARKERS["en"]).alias("n_stop"),
    )
    return base.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("n_nospace") / F.col("n_tokens"), 4).alias("avg_tok_len"),
        F.round(F.col("n_stop") / F.col("n_tokens"), 4).alias("stop_ratio"),
    )


@F.pandas_udf(ArrayType(LongType()))
def _fingerprint_udf(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: doc_fingerprint(t or ""))


@op("doc_fingerprint", _golden("doc_fingerprint"), "K")
def doc_fingerprint_op(spark, sf):
    # winnowing-style rolling-hash fingerprint (engine/textanalysis.py);
    # ints < 2^61 so LongType-safe; rows-only (not ANSI-expressible).
    # posexploded to scalar rows — the driver's hasher cannot digest
    # array cells, and (doc_id, pos, fp) is the joinable shape anyway
    docs = load_table(spark, sf, "documents")
    return docs.select(
        "doc_id",
        F.posexplode(_fingerprint_udf("text")).alias("pos", "fp"),
    )


@op(
    "split_train_val",
    "SELECT doc_id, CASE WHEN substr(sha256(text), 1, 2) < 'cc' THEN 'train' "
    "WHEN substr(sha256(text), 1, 2) < 'e6' THEN 'val' ELSE 'test' END AS split "
    "FROM documents",
    "K",
)
def split_train_val(spark, sf):
    # Deterministic content-keyed train/val/test split (~80/10/10 by the
    # first sha256 byte: 0x00-0xcb / 0xcc-0xe5 / 0xe6-0xff).  The
    # reproducible-at-100-TB alternative to rand()/sampleBy: assignment is
    # a pure function of content, so it survives re-partitioning, re-runs,
    # cluster resizes, and incremental ingestion with ZERO coordination,
    # and duplicate texts always co-locate in one split (no train/test
    # leakage through near-copies of the same bytes).  Lowercase-hex
    # string comparison == numeric byte comparison, so Spark sha2 and
    # DuckDB sha256 agree exactly.
    docs = load_table(spark, sf, "documents")
    b = F.substring(F.sha2(F.col("text"), 256), 1, 2)
    return docs.select(
        "doc_id",
        F.when(b < "cc", "train").when(b < "e6", "val").otherwise("test").alias(
            "split"
        ),
    )


def label_propagate(nodes, edges, rounds: int):
    """Connected-component labels by symmetric min-label propagation:
    each round every node takes min(own label, neighbours' labels) — one
    equi-join + groupBy(min) per round, correct whenever rounds >= graph
    diameter.  Near-dup pair graphs are near-cliques (tiny diameter), so
    a small fixed round count suffices; pathological high-diameter graphs
    at 10^10 scale want star-contraction (Kiveris et al., alternating
    large-star/small-star) which halves diameter per round — same join
    primitive, noted here as the escalation path.

    ``nodes``: DataFrame(id); ``edges``: DataFrame(src, dst), undirected
    (symmetrized internally).  Returns DataFrame(id, cluster_id).
    """
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    lab = nodes.select("id", F.col("id").alias("cluster_id"))
    for _ in range(rounds):
        neigh = (
            sym.join(lab, sym.dst == lab.id)
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("cluster_id").alias("n_min"))
        )
        lab = lab.join(neigh, "id", "left").select(
            "id",
            F.least(
                F.col("cluster_id"), F.coalesce(F.col("n_min"), F.col("cluster_id"))
            ).alias("cluster_id"),
        )
        # Truncate lineage each round: without this the logical plan
        # doubles per iteration and Catalyst re-analysis dominates wall
        # time (measured 107 s vs ~10 s for identical work at sf0.01).
        # Iterative graph jobs on a real cluster do exactly this with a
        # reliable checkpoint dir; localCheckpoint is the local analog.
        lab = lab.localCheckpoint()
    return lab


@op(
    "dedup_clusters",
    "SELECT doc_id, doc_id - doc_id % 10 AS cluster_id, "
    "doc_id % 10 = 0 AS keep FROM documents",
    "K",
)
def dedup_clusters(spark, sf):
    # The dedup ENDGAME: pairwise near-dup matches only say "a ~ b"; what
    # a pipeline drops is per-CLUSTER (transitive closure of matches),
    # keeping one canonical doc per component.  Components via
    # components_auto: min-label propagation for the common near-clique
    # case, with ONE convergence probe that auto-escalates to star
    # contraction (O(log d)) when the graph turns out chain-shaped —
    # tests/test_textops.py drives the escalation on an adversarial
    # 499-hop chain.  Survivor = the cluster-min id (same min-survivor
    # convention as dedup_exact).  The synthetic pair graph chains each
    # decade block (doc_id ~ doc_id-1 unless %10==0): diameter 9, so
    # propagation converges and the closed-form oracle is
    # cluster_id = doc_id - doc_id%10.
    from engine.graph import components_auto

    docs = load_table(spark, sf, "documents").select(
        F.col("doc_id").alias("id")
    )
    edges = docs.filter(F.col("id") % 10 != 0).select(
        F.col("id").alias("src"), (F.col("id") - 1).alias("dst")
    )
    lab = components_auto(docs, edges, prop_rounds=10)
    return lab.select(
        F.col("id").alias("doc_id"),
        "cluster_id",
        (F.col("id") == F.col("cluster_id")).alias("keep"),
    )


@op(
    "connected_components",
    "SELECT doc_id, doc_id - doc_id % 100 AS cluster_id FROM documents",
    "K",
)
def connected_components_op(spark, sf):
    # Star-contraction CC (engine/graph.py) — the O(log diameter)
    # escalation over label_propagate's O(diameter).  The synthetic pair
    # graph chains each century block (doc_id ~ doc_id-1 unless %100==0):
    # DIAMETER 99, where fixed-round propagation is hopeless but
    # large-star/small-star converges in a handful of alternations
    # (fixpoint-detected, one tiny agg action per round).  Closed-form
    # oracle: cluster_id = doc_id - doc_id%100.
    from engine.graph import connected_components

    docs = load_table(spark, sf, "documents").select(
        F.col("doc_id").alias("id")
    )
    edges = docs.filter(F.col("id") % 100 != 0).select(
        F.col("id").alias("src"), (F.col("id") - 1).alias("dst")
    )
    lab = connected_components(docs, edges)
    return lab.select(F.col("id").alias("doc_id"), "cluster_id")


# ------------------------------------------------- pipeline hygiene ops

# PII patterns kept to the Java-regex ∩ RE2 dialect intersection (char
# classes, bounded repeats — no backrefs/lookaround), so Spark and DuckDB
# compile them identically.
_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PHONE_RE = r"\+1-[0-9]{3}-[0-9]{4}"

_PII_SQL = (
    # the same deterministic PII injection as the Spark side (the corpus
    # itself is PII-free word soup, so the op synthesizes its own targets
    # from doc_id — both sides identically), then scrub + count
    "WITH p AS (SELECT doc_id, text || ' mail user' || doc_id ||"
    " '@example.com tel +1-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')"
    " || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t"
    " FROM documents) "
    "SELECT doc_id, "
    f"len(regexp_extract_all(t, '{_EMAIL_RE}')) AS n_emails, "
    f"len(regexp_extract_all(t, '{_PHONE_RE}')) AS n_phones, "
    f"regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'), "
    f"'{_PHONE_RE}', '<PHONE>', 'g') AS scrubbed FROM p"
)


@op("pii_scrub", _PII_SQL, "K")
def pii_scrub(spark, sf):
    # PII redaction — the pre-training hygiene pass every webtext corpus
    # runs.  Pure regexp_replace/regexp_extract_all: whole-stage codegen,
    # no Python, no shuffle — at 100 TB this is a map-only pass that
    # pipelines into whatever scan feeds it.  (DuckDB regexp_replace is
    # first-match-only without the 'g' flag; Spark replaces all — the
    # oracle carries the flag.)
    docs = load_table(spark, sf, "documents")
    pii = F.concat(
        F.col("text"),
        F.lit(" mail user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com tel +1-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    t = docs.select("doc_id", pii.alias("t"))
    return t.select(
        "doc_id",
        F.size(F.regexp_extract_all("t", F.lit(_EMAIL_RE), 0))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("t", F.lit(_PHONE_RE), 0))
        .cast("long")
        .alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("t", _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
        ).alias("scrubbed"),
    )


_REPETITION_SQL = (
    "WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w "
    "FROM documents), "
    "wc AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w) "
    # CAST each HUGEINT-producing aggregate to BIGINT: DuckDB types sum()
    # and // over BIGINT as HUGEINT, which exports to pandas as float64 and
    # trips the driver's typed hash against Spark's int64 (CORRECTNESS_r02).
    "SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words, count(*) AS n_distinct, "
    "max(c) AS top_freq, CAST((max(c) * 10000) // sum(c) AS BIGINT) AS top_ratio_bp, "
    "max(c) * 10000 <= 2000 * sum(c) AS keep FROM wc GROUP BY doc_id"
)


@op("repetition_filter", _REPETITION_SQL, "K")
def repetition_filter(spark, sf):
    # Gopher-style repetition gate: a doc whose single most frequent word
    # exceeds 20% of all its words is boilerplate/spam-shaped.  Shape is
    # explode → two partially-aggregated groupBys (both map-side combined
    # on doc_id, the second reuses the first's hash partitioning — ONE
    # shuffle reaches the wire per stage, keyed on doc_id so skew follows
    # document length, not host popularity).  The ratio stays in integer
    # basis points (DIV) — no float crosses the oracle boundary.
    docs = load_table(spark, sf, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    wc = words.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    per = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top_freq"),
    )
    return per.select(
        "doc_id",
        "n_words",
        "n_distinct",
        "top_freq",
        F.expr("(top_freq * 10000) DIV n_words").alias("top_ratio_bp"),
        (F.col("top_freq") * 10000 <= 2000 * F.col("n_words")).alias("keep"),
    )


@op(
    "stratified_sample",
    "SELECT doc_id, lang FROM documents "
    "WHERE substr(sha256('sample:' || text), 1, 2) < "
    "CASE lang WHEN 'en' THEN '40' WHEN 'zh' THEN '80' ELSE 'zz' END",
    "K",
)
def stratified_sample(spark, sf):
    # Deterministic per-language downsampling (rebalance a webtext corpus:
    # keep 25% of dominant 'en', 50% of 'zh', all the rest).  Same
    # content-keyed-hash idiom as split_train_val — a pure filter over
    # sha2(text), reproducible under re-partitioning/re-runs/incremental
    # ingestion, unlike rand()/sampleBy.  The 'sample:' salt makes the
    # sampling hash independent of the split hash, so sampling does not
    # bias which split survivors land in.  Map-only: no shuffle at any SF.
    docs = load_table(spark, sf, "documents")
    h = F.substring(F.sha2(F.concat(F.lit("sample:"), F.col("text")), 256), 1, 2)
    thr = (
        F.when(F.col("lang") == "en", "40")
        .when(F.col("lang") == "zh", "80")
        .otherwise("zz")
    )
    return docs.filter(h < thr).select("doc_id", "lang")


_TFIDF_SQL = (
    # same tokenization as repetition_filter (split on single space — the
    # fixture corpus is single-spaced); score crosses the oracle boundary as
    # integer basis points (round(raw*10000) CAST BIGINT) on BOTH sides —
    # float64 never reaches the driver's typed hash (the r02 HUGEINT/float
    # export artifact) and the top-k window orders by the same integer with
    # term as the unique tie-break.  df is CAST BIGINT for the identical
    # reason (DuckDB window sum over BIGINT → HUGEINT → float64 export).
    "WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term "
    "FROM documents), "
    "per AS (SELECT term, lang, count(*) AS tf, "
    "count(DISTINCT doc_id) AS df_l FROM tok GROUP BY term, lang), "
    "tot AS (SELECT count(*) AS n_total FROM documents), "
    "sc AS (SELECT lang, term, tf, "
    "CAST(sum(df_l) OVER (PARTITION BY term) AS BIGINT) AS df, "
    "CAST(round(tf * ln(CAST(n_total AS DOUBLE) / sum(df_l) OVER (PARTITION BY term)) "
    "* 10000) AS BIGINT) AS score_bp FROM per, tot) "
    "SELECT lang, term, tf, df, score_bp, rnk FROM "
    "(SELECT *, row_number() OVER (PARTITION BY lang ORDER BY score_bp DESC, term) "
    "AS rnk FROM sc) WHERE rnk <= 5"
)


@op("tfidf_top_terms", _TFIDF_SQL, "K")
def tfidf_top_terms(spark, sf):
    # Corpus vocabulary profile: top-5 terms per language by tf-idf —
    # the "what is this slice of the corpus about" report every webtext
    # pipeline runs before/after filtering.  Scale shape: the raw token
    # stream is exploded ONCE and collapsed by groupBy(term, lang) with
    # map-side partial aggregation, so only vocab-sized rows (not the
    # token stream) reach the wire; document frequency per term is then a
    # window SUM over that aggregate (a doc has exactly one lang, so
    # distinct-docs-per-term = sum of per-lang distinct counts — no second
    # pass over the tokens); the corpus size N arrives via the canonical
    # broadcast 1-row scalar cross-join (no driver collect, same idiom as
    # link_rank); the final per-lang top-5 windows over rows that number
    # in the vocabulary, not the corpus.
    docs = load_table(spark, sf, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("term")
    )
    per = toks.groupBy("term", "lang").agg(
        F.count("*").alias("tf"),
        F.countDistinct("doc_id").alias("df_l"),
    )
    n1 = F.broadcast(docs.agg(F.count("*").alias("n_total")))
    from pyspark.sql import Window

    w_term = Window.partitionBy("term")
    sc = (
        per.crossJoin(n1)
        .withColumn("df", F.sum("df_l").over(w_term))
        .withColumn(
            "score_bp",
            F.round(
                F.col("tf")
                * F.log(F.col("n_total").cast("double") / F.col("df"))
                * 10000
            ).cast("long"),
        )
    )
    w_lang = Window.partitionBy("lang").orderBy(
        F.desc("score_bp"), F.asc("term")
    )
    return (
        sc.withColumn("rnk", F.row_number().over(w_lang))
        .filter(F.col("rnk") <= 5)
        .select("lang", "term", "tf", "df", "score_bp", "rnk")
    )


# Pinned probe set for the benchmark-contamination check: bigrams that DO
# occur in the synthetic corpus (hot collocations) plus two that cannot
# (zero-hit rows prove the left-join/coalesce path).
_PROBES = (
    "table hash",
    "merge group",
    "customer join",
    "slow key",
    "held out",
    "benchmark answer",
)

_CONTAMINATION_SQL = (
    "WITH p(probe) AS (VALUES "
    + ", ".join(f"('{b}')" for b in _PROBES)
    + "), t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), "
    "g AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), "
    "i -> w[i] || ' ' || w[i+1])) AS bg FROM t), "
    "hit AS (SELECT bg, count(DISTINCT doc_id) AS n_docs, count(*) AS n_hits "
    "FROM g JOIN p ON g.bg = p.probe GROUP BY bg) "
    "SELECT p.probe, coalesce(hit.n_docs, 0) AS n_docs, "
    "coalesce(hit.n_hits, 0) AS n_hits FROM p LEFT JOIN hit ON p.probe = hit.bg"
)


@op("contamination_ngrams", _CONTAMINATION_SQL, "K")
def contamination_ngrams(spark, sf):
    # Benchmark-contamination scan: how many documents contain each probe
    # n-gram (eval-set leakage check — a training-data pipeline must run
    # this before every release).  Scale shape: per-doc bigrams are built
    # JVM-side (transform over sequence — no Python anywhere), the exploded
    # n-gram stream is pruned IMMEDIATELY by a broadcast hash join against
    # the tiny probe set (the stream never reaches an exchange; only hits
    # — vanishingly rare at 100 TB — are aggregated), and zero-hit probes
    # are restored by a final broadcast left join.  With k probes this is
    # one scan + two broadcasts however large the corpus.
    docs = load_table(spark, sf, "documents")
    probes = spark.createDataFrame(
        [(b,) for b in _PROBES], "probe string"
    )
    grams = docs.select(
        "doc_id", F.split("text", " ").alias("w")
    ).select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(w) >= 2 THEN "
                "transform(sequence(0, size(w) - 2), "
                "i -> concat(w[i], ' ', w[i + 1])) "
                "ELSE array() END"
            )
        ).alias("bg"),
    )
    hits = (
        grams.join(F.broadcast(probes), grams.bg == probes.probe)
        .groupBy("probe")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_hits"),
        )
    )
    return probes.join(F.broadcast(hits), "probe", "left").select(
        "probe",
        F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
    )


_DEDUP_INCR_SQL = (
    # history = doc_id < 250 (pinned batch boundary at sf0.01's 500 docs —
    # the op derives it from max(doc_id)/2 on both sides so it scales with
    # sf); a new doc survives iff its exact content key has never been
    # seen in history AND it is the min-doc_id holder within the batch
    "WITH bound AS (SELECT (max(doc_id) + 1) // 2 AS b FROM documents), "
    "hist AS (SELECT DISTINCT sha256(text) AS k FROM documents, bound "
    "WHERE doc_id < b), "
    "batch AS (SELECT doc_id, sha256(text) AS k FROM documents, bound "
    "WHERE doc_id >= b), "
    "fresh AS (SELECT doc_id, k FROM batch WHERE k NOT IN (SELECT k FROM hist)) "
    "SELECT min(doc_id) AS keep_doc_id, count(*) AS n_batch_dups "
    "FROM fresh GROUP BY k"
)


@op("dedup_incremental", _DEDUP_INCR_SQL, "K")
def dedup_incremental(spark, sf):
    # Incremental ingestion dedup: each new batch is deduped against the
    # HISTORICAL corpus in O(batch), never O(history) — the shape that
    # keeps a 100-TB pipeline's daily ingest constant-cost.  Two stages:
    # (1) anti-join the batch's content keys against history (on a
    # cluster, history lives bucketed/bloom-sharded by key — SURVEY.md §4
    # — so this is a storage-partitioned join with no history-side
    # shuffle; here both sides come off the same scan); (2) exact dedup
    # WITHIN the batch by groupBy(key) + min-survivor (never
    # dropDuplicates — nondeterministic under re-partitioning).
    docs = load_table(spark, sf, "documents").select(
        "doc_id", F.sha2("text", 256).alias("k")
    )
    # integer DIV, not float true-division — exact at any doc_id magnitude
    # and identical to the oracle's // (ADVICE r2: /2 then cast truncates
    # through double, diverging past 2^53)
    bound = F.broadcast(
        docs.agg(F.expr("CAST((max(doc_id) + 1) DIV 2 AS LONG)").alias("b"))
    )
    keyed = docs.crossJoin(bound)
    hist = keyed.filter(F.col("doc_id") < F.col("b")).select("k")
    batch = keyed.filter(F.col("doc_id") >= F.col("b")).select("doc_id", "k")
    fresh = batch.join(hist, "k", "left_anti")
    return fresh.groupBy("k").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count("*").alias("n_batch_dups"),
    ).select("keep_doc_id", "n_batch_dups")


# --------------------------------------------- corpus shaping (round 3)

_DOMAIN_CAP = 10

_DOMAIN_CAP_SQL = (
    "SELECT doc_id, source FROM (SELECT doc_id, source, row_number() OVER "
    "(PARTITION BY source ORDER BY sha256(text), doc_id) AS rn FROM documents) "
    f"WHERE rn <= {_DOMAIN_CAP}"
)


@op("domain_cap_sample", _DOMAIN_CAP_SQL, "K")
def domain_cap_sample(spark, sf):
    """Per-domain document cap: keep at most K docs per source/domain —
    the standard web-corpus balancing step (one hot domain must not be
    10% of the training set).  Survivor choice is a deterministic
    CONTENT-keyed total order (sha256(text), doc_id tiebreak), never
    rand()/limit: the kept set is a pure function of the corpus, stable
    under re-partitioning, re-runs, and cluster resizes.  Scale shape:
    one hash shuffle on source; Spark 4's WindowGroupLimit pushes the
    rank<=K cut to a partial pass BEFORE the exchange, so a 10^8-doc hot
    domain ships only K rows per map task, not its whole spill
    (plan-asserted in tests/test_plans.py)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf, "documents")
    w = Window.partitionBy("source").orderBy(F.sha2("text", 256), "doc_id")
    return (
        docs.select("doc_id", "source", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= _DOMAIN_CAP)
        .select("doc_id", "source")
    )


# Gopher/C4-inspired quality gate, integerized so no float crosses the
# oracle boundary: word count bounds, mean word length band (chars DIV
# words in [3,10]), longest-word cap, and an English stopword floor that
# only binds when lang='en' (the C4 rule is language-specific).
_C4_SQL = (
    "SELECT doc_id, n_words, mwl_cp, max_wlen, n_stop, CAST("
    "n_words BETWEEN 20 AND 100000 AND mwl_cp BETWEEN 300 AND 1000 "
    "AND max_wlen <= 30 AND (lang <> 'en' OR n_stop * 100 >= n_words) "
    "AS INT) AS keep FROM (SELECT doc_id, lang, "
    "len(regexp_split_to_array(trim(text), '\\s+')) AS n_words, "
    "(length(replace(text, ' ', '')) * 100) // "
    "len(regexp_split_to_array(trim(text), '\\s+')) AS mwl_cp, "
    "list_max(list_transform(regexp_split_to_array(trim(text), '\\s+'), "
    "w -> length(w))) AS max_wlen, "
    + _marker_count_sql(LANG_MARKERS["en"])
    + " AS n_stop FROM documents)"
)


@op("c4_quality_filter", _C4_SQL, "K")
def c4_quality_filter(spark, sf):
    """Composite C4/Gopher-style quality gate (Raffel et al. 2020 §2.2,
    Rae et al. 2021 A1.1, re-derived for DataFrames): word-count bounds,
    mean-word-length band, longest-word cap, per-language stopword floor
    — the keep/drop columns a 100-TB pipeline computes ONCE and filters
    on everywhere.  All thresholds integerized (centi-chars via DIV) so
    Spark and the oracle compare exact integers, and the whole gate is
    builtins-only: one map-side pass in whole-stage codegen, no shuffle,
    no Python."""
    docs = load_table(spark, sf, "documents")
    toks = _toks()
    base = docs.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_words"),
        F.expr(
            "(length(replace(text, ' ', '')) * 100) DIV "
            r"size(split(trim(text), '\\s+'))"
        ).alias("mwl_cp"),
        F.array_max(F.transform(toks, F.length)).alias("max_wlen"),
        _marker_count_spark(LANG_MARKERS["en"]).alias("n_stop"),
    )
    keep = (
        F.col("n_words").between(20, 100000)
        & F.col("mwl_cp").between(300, 1000)
        & (F.col("max_wlen") <= 30)
        & ((F.col("lang") != "en") | (F.col("n_stop") * 100 >= F.col("n_words")))
    )
    return base.select(
        "doc_id",
        "n_words",
        "mwl_cp",
        "max_wlen",
        "n_stop",
        keep.cast("int").alias("keep"),
    )


# Token-aligned exact-substring containment (Lee et al. 2022 "Deduplicating
# Training Data Makes Language Models Better" §4.1, re-derived for
# DataFrames: suffix arrays don't distribute, token-shingle candidate
# generation does).  A doc is contained iff its full token sequence occurs
# inside another doc's (longer one wins; equal texts keep the min doc_id).
_CONTAIN_K = 5

_CONTAIN_SQL = (
    "WITH d AS (SELECT doc_id, array_to_string(regexp_split_to_array("
    "trim(text), '\\s+'), ' ') AS nt FROM documents) "
    "SELECT a.doc_id, count(DISTINCT b.doc_id) AS n_containers, "
    "min(b.doc_id) AS min_container FROM d a JOIN d b ON "
    "a.doc_id <> b.doc_id AND position(' ' || a.nt || ' ' IN "
    "' ' || b.nt || ' ') > 0 AND (length(b.nt) > length(a.nt) OR "
    "(b.nt = a.nt AND b.doc_id < a.doc_id)) GROUP BY a.doc_id"
)


@op("exact_substring_contain", _CONTAIN_SQL, "K")
def exact_substring_contain(spark, sf):
    """Containment dedup: flag docs whose token stream appears verbatim
    inside another doc (quote farms, boilerplate wrappers, partial
    mirrors — exact dedup misses them, near-dup sketches under-weight
    them).  Scale shape: each doc probes ONE key (its first K-gram — a
    contained doc's first K tokens are necessarily a token-aligned
    K-gram of its container), containers explode to n-K+1 keys; the
    equi-join on K-gram replaces the quadratic all-pairs scan, pairs are
    verified JVM-side (instr on space-normalized text), and the gram
    stream is the same O(total tokens) cost class as
    contamination_ngrams.  Hot boilerplate K-grams fan out candidate
    pairs — AQE skew-join splits those buckets on a cluster.  Docs with
    fewer than K tokens (pre-filtered garbage at web scale) go through
    the SAME gram equi-join at K' = their own length: containers explode
    one extra n-gram stream per distinct short length present (≤ K-1
    streams, O(total tokens) each), and a short probe's key is its full
    token stream — no nested-loop join is reachable in any input mix
    (VERDICT r3 #4).  The distinct-short-lengths probe is a bounded
    ≤ K-1-row collect, the same loop-control class as crawl.py's
    partition-count probe; empty docs pair only with empty docs (the
    instr verify admits nothing else), so their gram key is emitted only
    by empty containers, never exploded corpus-wide."""
    docs = load_table(spark, sf, "documents").select(
        "doc_id",
        F.array_join(_toks(), " ").alias("nt"),
        _toks().alias("w"),
    )
    n = F.size("w")
    probes = docs.select(
        "doc_id",
        "nt",
        F.when(
            n >= _CONTAIN_K,
            F.concat_ws(" ", F.slice("w", 1, _CONTAIN_K)),
        ).alias("g"),
    )
    grams = docs.select(
        F.col("doc_id").alias("b_id"),
        F.col("nt").alias("b_nt"),
        F.explode(
            F.expr(
                f"CASE WHEN size(w) >= {_CONTAIN_K} THEN "
                f"array_distinct(transform(sequence(0, size(w) - {_CONTAIN_K}), "
                f"i -> concat_ws(' ', slice(w, i + 1, {_CONTAIN_K})))) "
                "ELSE array() END"
            )
        ).alias("g"),
    )
    long_probes = probes.filter(F.col("g").isNotNull())
    cand = (
        long_probes.join(grams, "g")
        .filter(F.col("doc_id") != F.col("b_id"))
        .select("doc_id", "nt", "b_id", "b_nt")
    )
    # distinct short lengths present: bounded loop-control collect (at
    # most K-1 rows), engaged only when <K-token docs exist
    short_lens = sorted(
        r[0]
        for r in docs.filter(n < _CONTAIN_K)
        .select(n.alias("sl"))
        .distinct()
        .collect()
    )
    pos_lens = [l for l in short_lens if l > 0]
    if pos_lens:
        # containers explode one token-aligned n-gram stream per short
        # length; a short probe's key is its whole token stream, so the
        # candidate join stays a hash equi-join on the gram string
        lens_sql = ", ".join(str(l) for l in pos_lens)
        short_grams = docs.select(
            F.col("doc_id").alias("b_id"),
            F.col("nt").alias("b_nt"),
            F.explode(
                F.expr(
                    f"array_distinct(flatten(transform(array({lens_sql}), "
                    "L -> CASE WHEN size(w) >= L THEN "
                    "transform(sequence(0, size(w) - L), "
                    "i -> concat_ws(' ', slice(w, i + 1, L))) "
                    "ELSE array() END)))"
                )
            ).alias("g"),
        )
        short_probes = probes.filter(F.col("g").isNull()).select(
            "doc_id", F.col("nt").alias("g"), "nt"
        )
        cand = cand.unionByName(
            short_probes.join(short_grams, "g")
            .filter(F.col("doc_id") != F.col("b_id"))
            .select("doc_id", "nt", "b_id", "b_nt")
        )
    # (no size-0 branch: split(trim(text), '\s+') yields [''] for
    # empty/whitespace text, so the minimum length is 1, and the ''
    # 1-gram is emitted only by empty docs — empty-in-empty pairs ride
    # the same equi-join; NULL-text rows normalize to NULL and drop out
    # of both probe streams, matching the oracle's NULL semantics)
    verified = cand.filter(
        (
            F.instr(
                F.concat(F.lit(" "), F.col("b_nt"), F.lit(" ")),
                F.concat(F.lit(" "), F.col("nt"), F.lit(" ")),
            )
            > 0
        )
        & (
            (F.length("b_nt") > F.length("nt"))
            | ((F.col("b_nt") == F.col("nt")) & (F.col("b_id") < F.col("doc_id")))
        )
    )
    return verified.groupBy("doc_id").agg(
        F.countDistinct("b_id").alias("n_containers"),
        F.min("b_id").alias("min_container"),
    )


# C4-style duplicated-span removal (Raffel et al. 2020 §2.2 "we discarded
# all but one of any three-sentence span occurring more than once"),
# re-derived for a corpus with no sentence boundaries: the span unit is a
# fixed non-overlapping 10-token chunk (deterministic chunking = the only
# sentence-splitter both engines can agree on symbol-for-symbol).  The
# canonical survivor of a duplicated chunk is its first corpus-wide
# occurrence under the (doc_id, chunk_idx) total order — a pure function
# of the corpus, stable under re-partitioning.
_SPAN_W = 10

_SPAN_SQL = (
    "WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') "
    "AS w FROM documents), "
    f"n AS (SELECT doc_id, w, CAST(ceil(len(w) / {_SPAN_W}.0) AS BIGINT) "
    "AS nc FROM t), "
    "c0 AS (SELECT doc_id, w, unnest(range(nc)) AS ci FROM n), "
    f"c AS (SELECT doc_id, ci, array_to_string(w[ci*{_SPAN_W}+1 : "
    f"ci*{_SPAN_W}+{_SPAN_W}], ' ') AS chunk FROM c0), "
    "r AS (SELECT doc_id, ci, chunk, row_number() OVER (PARTITION BY chunk "
    "ORDER BY doc_id, ci) AS rn FROM c) "
    "SELECT doc_id, "
    "coalesce(string_agg(chunk, ' ' ORDER BY ci) FILTER (WHERE rn = 1), '') "
    "AS kept_text, "
    "CAST(coalesce(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END), 0) AS BIGINT) "
    "AS n_dropped FROM r GROUP BY doc_id"
)


@op("span_dedup", _SPAN_SQL, "K")
def span_dedup(spark, sf):
    """Corpus-level duplicated-span removal: every 10-token chunk keeps
    exactly its first corpus-wide occurrence; later occurrences are cut
    out of their documents and the survivors re-assembled in order —
    the C4 line/span-dedup step that exact and near-dup doc dedup both
    miss (partial mirrors, quote farms, syndicated fragments).

    Scale shape: one explode to the chunk stream (O(total tokens / W),
    strictly smaller than the token stream the tfidf/repetition ops
    already explode), ONE hash shuffle on chunk text for the
    first-occurrence window, then one groupBy(doc_id) to re-assemble.
    Re-assembly is collect_list bounded by per-doc chunk count (docs are
    KB-sized by pipeline invariant), sorted by chunk index inside the
    row — no cross-row ordering dependency, so the result is identical
    at any parallelism.  Hot chunks (viral boilerplate) skew the window
    partition — AQE skew handling splits them on a cluster, and the
    window itself is a streaming rank, not a buffer."""
    from pyspark.sql import Window

    docs = load_table(spark, sf, "documents").select(
        "doc_id", _toks().alias("w")
    )
    chunks = F.expr(
        f"transform(sequence(0, CAST((size(w) + {_SPAN_W - 1}) DIV "
        f"{_SPAN_W} AS INT) - 1), "
        f"i -> struct(CAST(i AS BIGINT) AS ci, "
        f"concat_ws(' ', slice(w, i * {_SPAN_W} + 1, {_SPAN_W})) AS chunk))"
    )
    ex = docs.select(
        "doc_id", F.explode(chunks).alias("c")
    ).select("doc_id", F.col("c.ci").alias("ci"), F.col("c.chunk").alias("chunk"))
    w_first = Window.partitionBy("chunk").orderBy("doc_id", "ci")
    r = ex.withColumn("rn", F.row_number().over(w_first))
    kept = F.array_sort(
        F.collect_list(
            F.when(F.col("rn") == 1, F.struct("ci", "chunk"))
        )
    )
    return r.groupBy("doc_id").agg(
        F.array_join(
            F.transform(kept, lambda s: s["chunk"]), " "
        ).alias("kept_text"),
        F.sum((F.col("rn") > 1).cast("long")).alias("n_dropped"),
    )


# CCNet-inspired corpus-fit scoring (Wenzek et al. 2020 use a KenLM
# perplexity; with no LM in the container the public-knowledge analog is
# the corpus's own unigram model) — integer-only so no float crosses the
# oracle boundary: each token scores its corpus frequency in ppm
# (cnt * 10^6 DIV total), a doc scores the integer mean over its tokens.
# Low mean-ppm = rare-token-heavy (garbled/OCR junk); high = natural text.
# Shared constant interpolated into BOTH the oracle SQL and the Spark
# expression (the _SPAN_W/_SHARD_BUDGET pattern, ADVICE r3) so a
# one-sided edit cannot silently desync engine and oracle.
_UNIGRAM_PPM = 1_000_000

_UNIGRAM_SQL = (
    "WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), "
    "'\\s+')) AS term FROM documents), "
    "tf AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tok "
    "GROUP BY term), "
    "tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM tf) "
    "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, "
    f"CAST(sum((cnt * {_UNIGRAM_PPM}) // n) // count(*) AS BIGINT) "
    "AS mean_tf_ppm "
    "FROM tok JOIN tf USING (term) CROSS JOIN tot GROUP BY doc_id"
)


@op("unigram_freq_score", _UNIGRAM_SQL, "K")
def unigram_freq_score(spark, sf):
    """Corpus-frequency quality signal: per-doc integer mean of its
    tokens' corpus frequency (ppm) under the corpus's own unigram model
    — the in-container analog of CCNet's LM-perplexity bucketing, used
    the same way (threshold or ntile the score to route docs to
    keep/review/drop).

    Scale shape: the token stream is exploded ONCE and immediately
    collapsed by a map-side-combined groupBy(term) into the vocab-sized
    frequency table; the corpus total arrives as a broadcast 1-row
    scalar (no driver collect, same idiom as tfidf/link_rank); scoring
    re-joins tokens to the frequency table on term — a shuffle hash
    join whose build side is the vocabulary, not the corpus — then one
    groupBy(doc_id).  All arithmetic is integer DIV, so Spark and the
    oracle agree exactly at any scale."""
    docs = load_table(spark, sf, "documents")
    tok = docs.select(
        "doc_id", F.explode(_toks()).alias("term")
    )
    tf = tok.groupBy("term").agg(F.count("*").alias("cnt"))
    tot = F.broadcast(tf.agg(F.sum("cnt").alias("n")))
    return (
        tok.join(tf, "term")
        .crossJoin(tot)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.expr(
                f"CAST(sum((cnt * {_UNIGRAM_PPM}) DIV n) DIV count(*) "
                "AS BIGINT)"
            ).alias("mean_tf_ppm"),
        )
    )


# Source/host-level corpus filtering (RefinedWeb, Penedo et al. 2023 §3.1
# keep URL/host-level blocklists and stats ahead of doc-level filters;
# FineWeb applies the same idea as whole-domain drops): a domain whose
# pages are mostly duplicated or degenerate content is cheaper to drop
# wholesale than to score doc-by-doc downstream.  Verdict thresholds are
# integer-only (percent compares as cross-multiplications) so no float
# crosses the oracle boundary; both are shared constants interpolated
# into the oracle SQL AND the Spark expression (ADVICE r3) so a
# one-sided edit cannot desync them.
_HOST_DUP_MAJORITY_MULT = 2   # drop when dup_docs * MULT >= n_docs
_HOST_MIN_MEAN_WORDS = 10     # drop when integer mean words/doc below this

_HOST_ROLLUP_SQL = (
    "WITH d AS (SELECT doc_id, source, sha256(text) AS k, "
    "len(regexp_split_to_array(trim(text), '\\s+')) AS n_words "
    "FROM documents), "
    "c AS (SELECT k, count(*) AS kc FROM d GROUP BY k) "
    "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(CASE WHEN kc > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs, "
    "CAST(sum(n_words) // count(*) AS BIGINT) AS mean_words, "
    "CAST(sum(CASE WHEN kc > 1 THEN 1 ELSE 0 END) "
    f"* {_HOST_DUP_MAJORITY_MULT} < count(*) "
    f"AND sum(n_words) // count(*) >= {_HOST_MIN_MEAN_WORDS} AS INT) "
    "AS keep "
    "FROM d JOIN c USING (k) GROUP BY source"
)


@op("host_quality_rollup", _HOST_ROLLUP_SQL, "K")
def host_quality_rollup(spark, sf):
    """Host/source-level keep verdict: roll per-doc signals (duplicated
    content share, mean length) up to the source and drop whole domains
    that are majority-duplicate or degenerate — the cheapest filter in a
    web pipeline because it prunes BEFORE any per-doc scoring runs.

    Scale shape: one map pass derives (content key, word count); the
    corpus-wide duplicate marking is a groupBy on the content key whose
    output is the distinct-key table, re-joined to docs as the BUILD
    side of a shuffle hash join; then ONE groupBy(source).  The verdict
    is integer cross-multiplication (dup_docs*2 < n_docs), so Spark and
    DuckDB agree exactly.  Skewed sources (one domain = 10% of the
    corpus) only widen the final map-side-combined agg — AQE handles
    the join side."""
    docs = load_table(spark, sf, "documents").select(
        "doc_id",
        "source",
        F.sha2("text", 256).alias("k"),
        F.size(_toks()).alias("n_words"),
    )
    kc = docs.groupBy("k").agg(F.count("*").alias("kc"))
    return (
        docs.join(kc, "k")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("kc") > 1).cast("long")).alias("dup_docs"),
            F.expr("CAST(sum(n_words) DIV count(*) AS BIGINT)").alias(
                "mean_words"
            ),
            F.expr(
                "CAST(sum(CAST(kc > 1 AS LONG)) "
                f"* {_HOST_DUP_MAJORITY_MULT} < count(*) "
                "AND sum(n_words) DIV count(*) "
                f">= {_HOST_MIN_MEAN_WORDS} AS INT)"
            ).alias("keep"),
        )
    )


# Token-budgeted export-shard planning: training-data exports write
# fixed-token-budget shards in a deterministic corpus order (doc_id), so
# shard assignment is floor(prefix_tokens_before_doc / BUDGET).  A naive
# Spark window over ORDER BY doc_id funnels the whole corpus through ONE
# partition — the textbook global-prefix-sum trap — so this op uses the
# two-level scan instead: per-block sums, a block-level running offset
# over the tiny block table, then a within-block window.  Same result,
# no single-partition stage over the corpus.
_SHARD_BUDGET = 4_096
_SHARD_BLOCK = 256  # docs per prefix-sum block (10^4-10^6 on a cluster)

_SHARD_SQL = (
    "WITH t AS (SELECT doc_id, len(regexp_split_to_array(trim(text), "
    "'\\s+')) AS n_tokens FROM documents) "
    "SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, "
    "CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN "
    f"UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // {_SHARD_BUDGET} "
    "AS BIGINT) AS shard FROM t"
)


@op("token_shard_plan", _SHARD_SQL, "K")
def token_shard_plan(spark, sf):
    """Deterministic token-budget shard assignment for corpus export:
    doc → shard = floor(tokens-before-doc / budget) under the doc_id
    total order, so every export shard holds ~budget tokens and the
    layout is a pure function of the corpus (re-runs, resumes, and
    different cluster sizes produce byte-identical shard manifests).

    Scale shape — distributed prefix sum, NOT a global-order window:
    (1) per-doc token counts map-side; (2) per-block sums via ONE
    groupBy(doc_id DIV B); (3) the block-level running offset is a
    window over the BLOCK table only (corpus/B rows — a few thousand at
    10^10 docs — explicitly bounded, and broadcast back); (4) the
    within-block running sum windows over partitionBy(block), which
    hash-distributes.  No stage ever sees the corpus in one partition;
    the oracle's single ORDER BY window is the semantic spec only."""
    from pyspark.sql import Window

    toks = load_table(spark, sf, "documents").select(
        "doc_id", F.size(_toks()).cast("long").alias("n_tokens")
    )
    blocked = toks.withColumn(
        "blk", F.expr(f"doc_id DIV {_SHARD_BLOCK}")
    )
    blk_sum = blocked.groupBy("blk").agg(
        F.sum("n_tokens").alias("blk_tokens")
    )
    # block table is corpus/B rows: the only ordered window runs here
    w_blk = Window.orderBy("blk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    blk_off = blk_sum.select(
        "blk", F.coalesce(F.sum("blk_tokens").over(w_blk), F.lit(0)).alias("off")
    )
    w_in = (
        Window.partitionBy("blk")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        blocked.join(F.broadcast(blk_off), "blk")
        .withColumn(
            "prefix",
            F.col("off") + F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0)),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.expr(f"CAST(prefix DIV {_SHARD_BUDGET} AS BIGINT)").alias(
                "shard"
            ),
        )
    )
