"""Hash-sketch primitives: shingles, MinHash, banding, SimHash.

All pure JVM-side column expressions (``xxhash64``, higher-order array
functions) — no Python on the data path. Shared by entity-linking LSH
(link/lsh.py), document near-dup detection (operators/dedup.py) and
embedding banding (operators/similarity.py).

At scale: a MinHash signature is O(num_hashes) longs per row computed
map-side; LSH banding turns an O(n^2) similarity join into an equi-join
on (band_idx, band_hash) — the only shuffle is on band buckets.
SimHash is computed as a single map-side explode + hash-aggregate with
partial (map-side) combine, so the shuffle carries 64 partial sums per
doc, not tokens.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _bind_once(expr: Column, fn) -> Column:
    """Evaluate ``expr`` ONCE per row and pass it to ``fn`` as a bound
    lambda variable. Higher-order functions evaluate their lambda body
    interpreted with NO common-subexpression elimination, so a closure
    that references ``expr`` directly re-evaluates the whole subtree
    per array element — for shingling that made the tokenizing split
    O(tokens^2) per document (measured 28 s vs 4 s for one explode pass
    over sf1.0 documents). Wrapping the value in a 1-element array and
    transforming it binds the evaluated value to a lambda variable,
    which element lookups then reference for free."""
    return F.element_at(F.transform(F.array(expr), fn), 1)


def char_shingles(col: Column, n: int = 3) -> Column:
    """Distinct character n-grams of a string as array<string>."""
    padded = F.concat(F.lit(" "), F.lower(F.trim(col)), F.lit(" "))

    def from_padded(p: Column) -> Column:
        idx = F.sequence(
            F.lit(1), F.greatest(F.length(p) - (n - 1), F.lit(1))
        )
        return F.array_distinct(
            F.transform(idx, lambda i: p.substr(i, F.lit(n)))
        )

    return _bind_once(padded, from_padded)


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-grams as array<string> (whitespace tokenized)."""
    toks = F.split(F.lower(F.trim(col)), r"\s+")

    def from_toks(t: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(t) - n, F.lit(0)))
        return F.array_distinct(
            F.transform(idx, lambda i: F.array_join(F.slice(t, i + 1, n), " "))
        )

    return _bind_once(toks, from_toks)


#: MinHash-LSH geometry of every MinHash caller (entity-linking LSH and
#: document dedup): 32 seeds split into 8 bands of 4 rows. The DuckDB
#: oracle twins hard-code the same values.
MINHASH_NUM_HASHES = 32
MINHASH_BANDS = 8

#: Mersenne prime 2^31-1 — the modulus of the portable MinHash seed
#: mix. Products a*h stay under 2^62, inside BIGINT on both engines
#: (Spark ANSI mode and DuckDB both reject int64 overflow).
MINHASH_P = 2147483647


def minhash_params(num_hashes: int, seed: int = 42) -> List[tuple]:
    """Deterministic (a, b) parameters of the portable MinHash family
    h_j(x) = (a_j * base(x) + b_j) mod P — regenerated identically by
    the Spark implementation and the DuckDB oracle twin."""
    import random

    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, MINHASH_P), rnd.randrange(0, MINHASH_P))
        for _ in range(num_hashes)
    ]


def minhash_signature_df(
    df: DataFrame,
    id_cols: List[str],
    shingles_col: str,
    *,
    out_col: str = "_sig",
    portable: bool = False,
) -> DataFrame:
    """Scalable MinHash: explode shingles -> ONE codegen'd projection of
    MINHASH_NUM_HASHES hash columns -> hash aggregate with map-side
    partial min. The shuffle carries those longs per id (not shingles).

    ``portable=True`` swaps the per-seed xxhash64 for one md5-prefix
    base hash + arithmetic seed mixing mod 2^31-1, so a DuckDB twin
    reproduces the exact signatures (oracle mode; also one md5 per
    shingle instead of one xxhash64 call per seed)."""
    num_hashes = MINHASH_NUM_HASHES
    exploded = df.select(
        *id_cols, F.explode(F.col(shingles_col)).alias("_shingle")
    )
    if portable:
        params = minhash_params(num_hashes)
        p = F.lit(MINHASH_P)
        based = exploded.select(
            *id_cols, F.pmod(portable_hash64(F.col("_shingle")), p).alias("_hm")
        )
        hashed = based.select(
            *id_cols,
            *[((F.lit(a) * F.col("_hm") + F.lit(b)) % p).alias(f"_h{s}")
              for s, (a, b) in enumerate(params)],
        )
    else:
        hashed = exploded.select(
            *id_cols,
            *[F.xxhash64(F.col("_shingle"), F.lit(s)).alias(f"_h{s}")
              for s in range(num_hashes)],
        )
    agg = hashed.groupBy(*id_cols).agg(
        *[F.min(f"_h{s}").alias(f"_h{s}") for s in range(num_hashes)]
    )
    return agg.select(
        *id_cols, F.array(*[F.col(f"_h{s}") for s in range(num_hashes)]).alias(out_col)
    )


def band_buckets(
    signature: Column, bands: int, rows: int, *, portable: bool = False
) -> Column:
    """array<struct<band:int, bucket>> — LSH banding; candidate pairs
    share any (band, bucket). Default bucket is xxhash64 of the band
    slice (8-byte join keys); ``portable=True`` keeps the joined
    slice string itself as the bucket, reproducible in SQL engines
    without xxhash64 (oracle mode)."""
    entries = []
    for b in range(bands):
        band_slice = F.slice(signature, b * rows + 1, rows)
        key = F.concat_ws(
            ",", F.transform(band_slice, lambda v: v.cast("string"))
        )
        bucket = key if portable else F.xxhash64(key, F.lit(b))
        entries.append(
            F.struct(F.lit(b).alias("band"), bucket.alias("bucket"))
        )
    return F.array(*entries)


def minhash_bands(
    sigs: DataFrame, id_cols: List[str], *, portable: bool = False
) -> DataFrame:
    """(id_cols, band, bucket) rows: the LSH band explode of a ``_sig``
    frame (``minhash_signature_df`` output) under the shared
    MINHASH_BANDS x (MINHASH_NUM_HASHES / MINHASH_BANDS) geometry.
    Candidate pairs are the rows sharing a (band, bucket)."""
    buckets = band_buckets(F.col("_sig"), MINHASH_BANDS,
                           MINHASH_NUM_HASHES // MINHASH_BANDS,
                           portable=portable)
    return sigs.select(*id_cols, F.explode(buckets).alias("_bb")).select(
        *id_cols, "_bb.band", "_bb.bucket")


def bit_bands(h: Column, bands: int, width: int) -> Column:
    """array<struct<band:int, bucket:bigint>> — bit-slice banding of a
    packed 64-bit hash: band b is bits [b*width, (b+1)*width). The
    shift is arithmetic and the mask follows it, so negative packed
    values band like any other. Raises ValueError unless the bands fit
    the 64-bit word with width >= 1 (Spark takes a long's shift
    distance mod 64, so wider banding would silently wrap)."""
    if width < 1 or bands * width > 64:
        raise ValueError(
            f"{bands} bands of {width} bits do not fit a 64-bit hash")
    mask = F.lit((1 << width) - 1)
    return F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.shiftright(h, b * width).bitwiseAND(mask).alias("bucket"))
        for b in range(bands)
    ])


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two string arrays (JVM-side)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


def portable_hash64(col: Column) -> Column:
    """60-bit cross-engine token hash: the first 15 hex chars of md5,
    parsed base-16. Identically computable in DuckDB as
    ``('0x' || substr(md5(t),1,15))::BIGINT`` — used by the oracled
    SimHash variant so the DuckDB twin reproduces the exact bits.
    (xxhash64 is JVM-only; md5 exists everywhere.)"""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash_df(
    df: DataFrame, id_cols: List[str], tokens_col: str, *,
    out_col: str = "simhash", portable: bool = False
) -> DataFrame:
    """Add a 64-bit SimHash column computed from a token-array column.

    Distributed form: explode tokens -> one hash-aggregate with 64
    per-bit vote sums (map-side partial combine) -> assemble bits.
    ``portable=True`` swaps xxhash64 for the md5-prefix hash so the
    result is reproducible outside the JVM (bits 60-63 then vote
    uniformly negative and stay 0 — deterministic on both sides).
    """
    tok = F.explode(F.col(tokens_col)).alias("_tok")
    hash_col = (portable_hash64(F.col("_tok")) if portable
                else F.xxhash64(F.col("_tok")))
    exploded = df.select(*id_cols, tok).withColumn("_h", hash_col)
    votes = [
        F.sum(
            F.when(
                F.shiftright(F.col("_h"), bit).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"_v{bit}")
        for bit in range(64)
    ]
    agg = exploded.groupBy(*id_cols).agg(*votes)
    sim = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    for bit in range(64):
        sim = sim.bitwiseOR(
            F.when(F.col(f"_v{bit}") > 0, F.shiftleft(one, bit)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return agg.withColumn(out_col, sim).select(*id_cols, out_col)


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit hashes (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))
