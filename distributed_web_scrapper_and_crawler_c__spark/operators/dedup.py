"""Deduplication operators for large-scale corpus building.

The reference dedups by canonical URL / content equality (SURVEY §2.4
D1-D4); a 100 TB training-data pipeline additionally needs near-duplicate
detection. All operators here are expressed as DataFrame plans over the
``documents(doc_id, text, lang, source, n_chars)`` shape:

 - exact dedup: hash-groupBy (one shuffle on a 16-byte key, not the text);
 - MinHash + LSH: shingle → k min-hashes → banded buckets → candidate pairs
   (the join is on band keys, never all-pairs);
 - n-gram Jaccard: exact pairwise similarity via a shared-shingle join —
   quadratic in per-shingle frequency, so production use gates it behind
   LSH candidates; exposed directly for oracle checkability;
 - SimHash: 64-bit majority-vote fingerprint via a vectorized pandas UDF
   (numpy bit-unpacking over md5-derived token hashes), Hamming-ball pairs;
 - embedding cosine near-dup: see similarity.py.

Hashes are md5 hex strings so every SQL-expressible operator has a DuckDB
oracle with *identical* hash values (md5 is identical across engines;
xxhash64 is Spark-only).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..plans.parallelize import spread

# ---------------------------------------------------------------------------
# exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------


def exact_duplicate_groups(docs: DataFrame) -> DataFrame:
    """Groups of byte-identical texts: (text_md5, n_docs, keeper_doc_id).
    Shuffles 16-byte digests, not document bodies — at 100 TB the map-side
    partial aggregation collapses each partition's duplicates first."""
    return (
        docs.select("doc_id", F.md5(F.col("text")).alias("text_md5"))
        .groupBy("text_md5")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


EXACT_DUP_SQL = """
SELECT md5(text) AS text_md5,
       count(*) AS n_docs,
       min(doc_id) AS keeper_doc_id
FROM documents
GROUP BY md5(text)
HAVING count(*) > 1
"""

# ---------------------------------------------------------------------------
# word-3-gram shingles (shared by minhash / jaccard)
# ---------------------------------------------------------------------------


def shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) — word n-grams of lower(trim(text)); docs shorter
    than n tokens contribute nothing. Pure Catalyst (split + transform +
    explode), no Python."""
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    return (
        spread(docs.select("doc_id", "text"))
        .select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= n)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - n),
                    lambda i: F.concat_ws(
                        " ", *[F.col("toks")[i + j] for j in range(n)]
                    ),
                )
            ).alias("shingle"),
        )
    )


# DuckDB twin (1-based lists; range(a,b) is [a,b))
SHINGLES_SQL = r"""
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
    FROM documents
)
SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
WHERE len(t) >= 3
"""


def doc_shingle_arrays(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingles array<string>) — the DISTINCT word n-gram set per
    document as ONE row, no explode. Same doc set and same shingle values as
    :func:`shingles` (docs shorter than n tokens are absent), but the whole
    computation is a per-row codegen projection: no Exchange at all, where
    the exploded form pays a corpus-sized shuffle for every downstream
    groupBy/distinct (guide §2.3/§2.4 — don't shuffle what a map can hold).
    min()/intersection over the distinct set equal min()/intersection over
    the multiset, so every consumer below gets identical values."""
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    return (
        spread(docs.select("doc_id", "text"))
        .select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= n)
        .select(
            "doc_id",
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - n),
                    lambda i: F.concat_ws(
                        " ", *[F.col("toks")[i + j] for j in range(n)]
                    ),
                )
            ).alias("shingles"),
        )
    )

# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

N_HASHES = 8
N_BANDS = 4  # rows per band = N_HASHES / N_BANDS = 2


def _sig_cols() -> list:
    """m0..m7 as per-row array expressions over a ``shingles`` array column:
    array_min of md5("<j>:"+shingle). array_min on strings is the same
    binary (lexicographic) comparison as the min() aggregate, and md5 hex
    is ASCII — values are byte-identical to the exploded groupBy form."""
    return [
        F.array_min(
            F.transform(
                F.col("shingles"),
                lambda s: F.md5(F.concat(F.lit(f"{j}:"), s)),
            )
        ).alias(f"m{j}")
        for j in range(N_HASHES)
    ]


def minhash_signatures(docs: DataFrame, sh: DataFrame | None = None) -> DataFrame:
    """(doc_id, m0..m7): per-doc minimum of md5("<j>:"+shingle) for 8 seeds.
    Default path: per-row array_min over the distinct shingle ARRAY
    (:func:`doc_shingle_arrays`) — zero shuffles, where the old explode +
    groupBy paid a corpus-sized Exchange (guide §2.4). min() is order- and
    duplicate-insensitive, so the distinct set gives the identical value; a
    pre-exploded shingle set may still be passed via ``sh`` (shared with
    other stages), which keeps the one-groupBy aggregation form. Hash
    values are hex strings — lexicographic min matches DuckDB
    byte-for-byte."""
    if sh is None:
        return doc_shingle_arrays(docs).select("doc_id", *_sig_cols())
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{j}:"), F.col("shingle")))).alias(f"m{j}")
        for j in range(N_HASHES)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _minhash_sql_inner() -> str:
    mins = ",\n       ".join(
        f"min(md5('{j}:' || shingle)) AS m{j}" for j in range(N_HASHES)
    )
    return f"""
WITH sh AS ({SHINGLES_SQL})
SELECT doc_id, {mins}
FROM sh
GROUP BY doc_id
"""


MINHASH_SQL = _minhash_sql_inner()


def _band_pairs(sig: DataFrame) -> DataFrame:
    """Distinct (doc_a, doc_b) with a < b sharing any LSH band, from a
    (pinned) signature frame. Join key is the band value — cost is bounded
    by bucket sizes, never all-pairs. ONE equi-join on the composite
    (band_id, band) key over the 4-band explosion replaces the old
    4-join-per-band union (guide §2.4 — same key, share one exchange):
    identical pair set, since matching on band b is exactly matching on
    (band_id=b, value)."""
    bands = F.posexplode(
        F.array(
            *[
                F.concat(F.col(f"m{2 * b}"), F.col(f"m{2 * b + 1}"))
                for b in range(N_BANDS)
            ]
        )
    )
    exploded = sig.select("doc_id", bands.alias("band_id", "band"))
    left = exploded.select(F.col("doc_id").alias("doc_a"), "band_id", "band")
    right = exploded.select(F.col("doc_id").alias("doc_b"), "band_id", "band")
    return (
        left.join(right, ["band_id", "band"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def lsh_candidate_pairs(docs: DataFrame, sh: DataFrame | None = None) -> DataFrame:
    """Near-dup candidates: docs sharing any LSH band (band = concatenation
    of 2 adjacent minhashes). Returns (doc_a, doc_b) with a < b.

    The signature frame is pinned with localCheckpoint (not .cache()): it is
    read once per band, and unlike CacheManager entries a checkpointed RDD
    is released by the ContextCleaner when the frame goes out of scope — no
    executor-storage leak across repeated invocations in a long session."""
    sig = minhash_signatures(docs, sh=sh).localCheckpoint(eager=True)
    return _band_pairs(sig)


def _lsh_sql() -> str:
    bands = "\nUNION ALL\n".join(
        f"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM sig a JOIN sig b
  ON a.m{2 * b} || a.m{2 * b + 1} = b.m{2 * b} || b.m{2 * b + 1}
WHERE a.doc_id < b.doc_id"""
        for b in range(N_BANDS)
    )
    return f"""
WITH sig AS ({_minhash_sql_inner()})
SELECT DISTINCT doc_a, doc_b FROM (
{bands}
)
"""


LSH_PAIRS_SQL = _lsh_sql()

# ---------------------------------------------------------------------------
# exact n-gram Jaccard
# ---------------------------------------------------------------------------


UNGATED_JACCARD_MAX_DOCS = 100_000


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.5,
    max_docs: int | None = UNGATED_JACCARD_MAX_DOCS,
    n_docs: int | None = None,
) -> DataFrame:
    """Exact 3-gram Jaccard over distinct shingles:
    |A∩B| via a shared-shingle self-join, |A∪B| = |A|+|B|-|A∩B|.
    Returns (doc_a, doc_b, jaccard) rounded to 6 places.

    The shared-shingle self-join is quadratic in per-shingle frequency —
    NEVER the corpus-scale path (that is :func:`near_dup_pipeline`, which
    bounds the exact computation by LSH candidates). To stop an accidental
    full-corpus run, the input is size-guarded: above ``max_docs`` documents
    this raises and points at the gated pipeline. ``max_docs=None`` bypasses
    the guard (oracle fixtures only). Callers that already know the row
    count pass it via ``n_docs`` (no extra job); otherwise the probe is a
    ``limit(max_docs+1).count()`` so the guard's own cost is bounded by
    ``max_docs``, never a full pass over the corpus."""
    if max_docs is not None:
        n = docs.limit(max_docs + 1).count() if n_docs is None else n_docs
        if n > max_docs:
            raise ValueError(
                f"ngram_jaccard_pairs is the ungated quadratic form and got "
                f">={n} docs (> max_docs={max_docs}); use near_dup_pipeline "
                f"(LSH-gated) at corpus scale, or pass max_docs=None to "
                f"force the exact all-pairs run"
            )
    sh = shingles(docs).distinct().localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    inter = (
        sh.alias("x")
        .join(sh.alias("y"), "shingle")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("sz", "sza"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("sz", "szb"), "doc_b")
        .select(
            "doc_a", "doc_b",
            F.round(
                F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_sql(threshold: float = 0.5) -> str:
    return f"""
WITH sh AS (SELECT DISTINCT doc_id, shingle FROM ({SHINGLES_SQL})),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
    FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
    GROUP BY x.doc_id, y.doc_id
)
SELECT doc_a, doc_b,
       round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) >= {threshold}
"""


# ---------------------------------------------------------------------------
# D3/D4 — content dedup, first-wins (server.cpp:523-581 addBook/addItem)
# ---------------------------------------------------------------------------


def content_dedup(
    items: DataFrame, keys: list[str], order_col: str
) -> DataFrame:
    """The reference's addBook/addItem content dedup: a record is kept only
    if no earlier record matches on ``keys`` (addBook: title,price,rating —
    server.cpp:523-551; addItem adds the item type — server.cpp:554-581).
    'Earlier' is ``order_col`` (the reference's sequential insert order; the
    engine's item_seq). One shuffle on the content key; the window runs
    per-key, never globally."""
    w = Window.partitionBy(*keys).orderBy(order_col)
    return (
        items.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def content_dedup_sql(inner: str, keys: list[str], order_col: str,
                      out_cols: list[str]) -> str:
    ks = ", ".join(keys)
    cols = ", ".join(out_cols)
    return f"""
SELECT {cols} FROM (
    SELECT *, row_number() OVER (PARTITION BY {ks} ORDER BY {order_col}) AS _rn
    FROM ({inner})
) WHERE _rn = 1
"""


# ---------------------------------------------------------------------------
# LSH-gated exact Jaccard — the production near-dup pipeline
# ---------------------------------------------------------------------------


def near_dup_pipeline(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard computed ONLY on LSH candidate pairs — the
    scale-safe composition (the ungated shared-shingle self-join in
    :func:`ngram_jaccard_pairs` is quadratic in shingle frequency; this
    pipeline bounds the exact computation by the LSH bucket collisions).

    Returns (doc_a, doc_b, jaccard) for candidate pairs with
    jaccard ≥ threshold. Every candidate shares at least one shingle: equal
    band values mean equal minima md5("<j>:"+shingle), so the minimizing
    shingle is common to both docs. No pair has jaccard 0, and at
    threshold ≤ 0 the edges are still exactly :func:`near_dup_pipeline_sql`'s.

    Shape (guide §2.3/§2.4): the per-doc DISTINCT shingle SET is computed
    once as an array column (:func:`doc_shingle_arrays`, no explode) and
    pinned; signatures are per-row array_mins over it (no groupBy
    Exchange); the exact |A∩B| is ``size(array_intersect(...))`` evaluated
    on the candidate edge list after two doc_id equi-joins — so the only
    shuffles left are the band self-join and the two (candidate-bounded)
    joins, and nothing ever shuffles at shingle-row granularity. The old
    form shuffled the exploded shingle table four times (distinct, groupBy,
    two intersection joins); values are identical because min() and
    set-intersection are duplicate-insensitive and the same round/filter
    arithmetic runs at the end."""
    feat = (
        doc_shingle_arrays(docs)
        .select("doc_id", "shingles", *_sig_cols())
        .localCheckpoint(eager=True)
    )
    cands = _band_pairs(feat)
    a = feat.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("_sha"))
    b = feat.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("_shb"))
    inter = F.size(F.array_intersect(F.col("_sha"), F.col("_shb")))
    # merge hints pin the attach joins to sort-merge on doc_id: the planner
    # otherwise BROADCASTS the shingle-array side (its estimate passes the
    # threshold), collecting every array to the driver twice — the exact
    # "shuffle the proxy, not the payload" inversion guide §8 warns about.
    # SMJ streams the pinned arrays once per side and scales.
    return (
        cands.join(a.hint("merge"), "doc_a")
        .join(b.hint("merge"), "doc_b")
        .select(
            "doc_a", "doc_b",
            F.round(
                inter / (F.size("_sha") + F.size("_shb") - inter), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def near_dup_pipeline_sql(threshold: float = 0.5) -> str:
    """Oracle: the ungated exact Jaccard INTERSECTED with the LSH candidate
    set — independent derivation of the same pairs."""
    return f"""
WITH exact AS ({ngram_jaccard_sql(threshold)}),
cands AS ({LSH_PAIRS_SQL})
SELECT e.doc_a, e.doc_b, e.jaccard
FROM exact e JOIN cands c ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b
"""


# ---------------------------------------------------------------------------
# SimHash (vectorized pandas UDF — no SQL oracle; rows-only check)
# ---------------------------------------------------------------------------


@F.pandas_udf(LongType())
def simhash64_udf(text: pd.Series) -> pd.Series:
    """64-bit SimHash: md5-derived 64-bit hash per whitespace token,
    bitwise majority vote. Vectorized ACROSS the batch: tokens of all docs
    are flattened, each *distinct* token is md5-hashed exactly once, bits
    are expanded with ``np.unpackbits`` (uint8 — 64× smaller than a naive
    int64 shift matrix, which balloons to GBs on token-heavy batches), and
    per-doc one-counts come from ``np.add.reduceat`` over the flat token
    run. Docs are processed in bounded-token chunks so peak memory stays
    ~chunk×64 int32 regardless of batch size."""
    import hashlib

    out = np.zeros(len(text), dtype=np.int64)
    tok_lists = [t.lower().split() if t else [] for t in text]
    lens = np.array([len(l) for l in tok_lists], dtype=np.int64)
    if lens.sum() == 0:
        return pd.Series(out)
    # hash-based factorize (no object-array sort — np.unique's sort was the
    # batch's dominant cost); each DISTINCT token is md5-hashed exactly once
    uidx, uniq = pd.factorize(
        np.array([w for l in tok_lists for w in l], dtype=object)
    )
    hs_uniq = np.frombuffer(
        b"".join(hashlib.md5(w.encode()).digest()[:8] for w in uniq),
        dtype=np.uint64,
    )
    # bit j of the hash == unpacked little-endian bit j (little-endian view)
    bits_uniq = np.unpackbits(
        hs_uniq.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
    )
    weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
    # one segmented vote for the whole batch: gather the per-token bit rows
    # (uint8 — 64 bytes/token) and reduceat at the non-empty docs' start
    # offsets (empty docs occupy zero flat positions, so each segment is
    # exactly one doc's token run); accumulate in int64 without widening
    # the gathered matrix
    ends = np.cumsum(lens)
    nz = lens > 0
    starts_nz = (ends - lens)[nz]
    ones = np.add.reduceat(bits_uniq[uidx], starts_nz, axis=0, dtype=np.int64)
    votes = 2 * ones - lens[nz][:, None]
    fps = ((votes > 0).astype(np.uint64) * weights[None, :]).sum(
        axis=1, dtype=np.uint64
    )
    out[np.flatnonzero(nz)] = fps.astype(np.int64)
    return pd.Series(out)


def simhash_near_dups(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Hamming-ball pairs via 4-way band blocking (a pair within distance 3
    must agree on at least one of four 16-bit bands — pigeonhole), then an
    exact popcount filter. Band join keeps this far from all-pairs."""
    sh = spread(docs.select("doc_id", "text")).select(
        "doc_id", simhash64_udf(F.col("text")).alias("sh")
    ).localCheckpoint(eager=True)
    banded = sh.select(
        "doc_id", "sh",
        *[
            F.shiftrightunsigned(F.col("sh"), 16 * b).bitwiseAND(F.lit(0xFFFF)).alias(f"b{b}")
            for b in range(4)
        ],
    )
    pairs = None
    for b in range(4):
        l = banded.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"), F.col(f"b{b}").alias("band"))
        r = banded.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"), F.col(f"b{b}").alias("band"))
        p = l.join(r, "band").filter(F.col("doc_a") < F.col("doc_b"))
        pairs = p if pairs is None else pairs.unionByName(p)
    return (
        pairs.select(
            "doc_a", "doc_b",
            F.bit_count(F.col("sha").bitwiseXOR(F.col("shb"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
