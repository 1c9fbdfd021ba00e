"""Entity linking stage 2: MinHash-LSH candidate blocking.

Surfaces the broadcast alias join could not resolve are matched against
canonical entity names by (1) MinHash signatures over character
shingles, (2) LSH banding into buckets, (3) an equi-join on
(band, bucket) to produce candidate pairs — never an O(n^2) cross join,
(4) exact Jaccard verification on the candidates, (5) best-match
selection above a threshold.

The band join shuffles on bucket keys only. Hot buckets (stopword-like
shingle profiles) are bounded by verifying with exact Jaccard and by
dropping buckets above a size cap — a standard guard against
degenerate LSH buckets at web scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import (
    char_shingles,
    jaccard,
    minhash_bands,
    minhash_signature_df,
)

#: Degenerate-bucket guard: right-side (band, bucket) groups holding more
#: rows than this are dropped before the band join.
BUCKET_CAP = 1000


def lsh_candidate_pairs(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_text: str,
    right_text: str,
    *,
    threshold: float = 0.5,
) -> DataFrame:
    """(left_key, right_key, jaccard_sim) candidate matches above
    threshold, best match first per left key. Texts are compared as
    padded, lower-cased char 3-shingle sets."""
    from ..cache import pin

    from ..operators.skew import ensure_min_parallelism

    def prep(df, key, text, side):
        with_sh = ensure_min_parallelism(df).withColumn(
            "_shingles", char_shingles(F.col(text)))
        # one signature per distinct text (same text => same signature),
        # joined back — keeps the hash projection small and codegen'd
        sigs = minhash_signature_df(
            with_sh.select(F.col(text).alias("_mh_key"), "_shingles")
            .dropDuplicates(["_mh_key"]),
            ["_mh_key"],
            "_shingles",
        )
        # pinned via the cache registry: released by the caller's
        # PinScope once the candidate result is materialized, or by
        # release_pins() in a long-lived session. Banding stays on this
        # pinned (key, signature) frame: banding the distinct texts and
        # joining the bands back to keys gives the same pairs but adds
        # jobs and shuffle to the linker.
        base = pin(with_sh.join(sigs, with_sh[text] == sigs["_mh_key"]).select(
            F.col(key).alias(f"{side}_key"),
            F.col("_shingles").alias(f"{side}_sh"),
            F.col("_sig"),
        ))
        return base.drop("_sig"), minhash_bands(base, [f"{side}_key"])

    lbase, lp = prep(left, left_key, left_text, "l")
    rbase, rp = prep(right, right_key, right_text, "r")

    # Degenerate-bucket guard: drop buckets with pathological fan-out.
    bucket_sizes = rp.groupBy("band", "bucket").agg(F.count("*").alias("_bsz"))
    rp = rp.join(
        F.broadcast(bucket_sizes.filter(F.col("_bsz") > BUCKET_CAP)),
        ["band", "bucket"],
        "left_anti",
    )

    # Key-only pair dedup; shingle sets rejoin once per unique pair.
    cands = (
        lp.join(rp, ["band", "bucket"])
        .select("l_key", "r_key")
        .dropDuplicates(["l_key", "r_key"])
        .join(lbase, "l_key")
        .join(rbase, "r_key")
        .withColumn("jaccard_sim", jaccard(F.col("l_sh"), F.col("r_sh")))
        .filter(F.col("jaccard_sim") >= threshold)
        .select("l_key", "r_key", "jaccard_sim")
    )
    w = Window.partitionBy("l_key").orderBy(F.col("jaccard_sim").desc(), F.col("r_key"))
    return (
        cands.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
        .withColumnRenamed("l_key", left_key + "_lsh")
        .withColumnRenamed("r_key", right_key + "_lsh")
    )
