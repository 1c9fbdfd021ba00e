"""Stage-isolation micro-benchmarks behind the r6 optimization round.

NOT the driver bench (bench.py is frozen and stays the measured
contract) — this file reproduces the noop-sink isolation probes
(guide §1.4) whose numbers OPTIMIZATION_r06.md cites, so the
measurements are re-runnable:

  1. shingling: one explode pass over word_shingles (the r6 fix bound
     the tokenizer split to a lambda variable — before the fix this
     probe measured 28 s vs ~4 s at sf1.0)
  2. curation gate scan: single-projection gates + conditional
     window-min survivor vs the per-consumer re-derivation shape
  3. ann candidate stream: raw band-join candidates, dedup-first vs
     verify-first placement
  4. minhash candidate duplication rate (why minhash keeps dedup-first)
  5. collapse-prepass fingerprint scan, spread vs raw file splits

Usage:  SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 \
        PYTHONPATH=/root/repo python bench_extra.py
Prints one line per probe; wall seconds are min of the configured reps.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    reps = int(os.environ.get("SPARK_GRAFT_EXTRA_REPS", "2"))

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("rgbl-bench-extra")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus) * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import pandas as _pd

    def _noop_warm(it):
        for pdf in it:
            yield _pd.DataFrame({"n": [len(pdf)]})

    spark.range(0, int(cpus) * 4000, numPartitions=int(cpus) * 2).mapInPandas(
        _noop_warm, "n long").count()

    def probe(name, mk, action="noop"):
        best = None
        for _ in range(reps):
            # mk() inside the window: eager operators (driver-gated CC,
            # checkpoints) do real work at plan-construction time
            spark.sparkContext.setJobDescription(name)
            t0 = time.time()
            df = mk()
            if action == "noop":
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            dt = time.time() - t0
            spark.sparkContext.setJobDescription(None)
            best = dt if best is None else min(best, dt)
            from redisgraph_bulk_loader_spark.cache import release_pins

            release_pins()
        print(f"{name:48s} {best:7.3f} s")

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    from redisgraph_bulk_loader_spark.functions.hashing import (
        minhash_bands,
        minhash_signature_df,
        word_shingles,
    )
    from redisgraph_bulk_loader_spark.operators.curation import curate_corpus
    from redisgraph_bulk_loader_spark.operators.dedup import (
        dedup_assignments,
        minhash_lsh_dedup_pairs,
    )
    from redisgraph_bulk_loader_spark.operators.similarity import (
        ann_self_join_pairs,
    )
    from redisgraph_bulk_loader_spark.operators.skew import (
        ensure_min_parallelism,
    )

    # 1. shingling explode pass
    probe("shingle_explode_pass", lambda: ensure_min_parallelism(docs).select(
        F.col("doc_id"), F.explode(word_shingles(F.col("text"), 3))))

    # 2. curation shapes
    probe("corpus_curation_exact", lambda: curate_corpus(
        docs, min_quality=0.5, languages=("latin",), min_tokens=5,
        max_tokens=10_000, dedup="exact"))
    probe("corpus_curation_rep", lambda: curate_corpus(
        docs, min_quality=0.5, languages=("latin",), min_tokens=5,
        max_tokens=10_000, dedup="exact", max_dup_gram_frac=0.08,
        rep_ngram=2))

    # 3/4. candidate streams
    emb = spark.read.parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    ).select("vec_id", F.col("embedding").cast("array<double>")
             .alias("embedding"))
    probe("ann_self_join_pairs(verify-first)",
          lambda: ann_self_join_pairs(emb, threshold=0.9))

    def minhash_cand_stats():
        base = ensure_min_parallelism(docs).select(
            F.col("doc_id").alias("_id"),
            word_shingles(F.col("text"), 3).alias("_sh")).persist()
        banded = minhash_bands(
            minhash_signature_df(base, ["_id"], "_sh", portable=True),
            ["_id"], portable=True)
        pairs = (banded.alias("a").join(banded.alias("b"), ["band", "bucket"])
                 .filter(F.col("a._id") < F.col("b._id"))
                 .select(F.col("a._id").alias("id_a"),
                         F.col("b._id").alias("id_b")))
        raw, distinct = pairs.count(), pairs.distinct().count()
        base.unpersist()
        print(f"{'minhash_candidates raw/distinct':48s} "
              f"{raw} / {distinct} (dup rate "
              f"{1 - distinct / max(raw, 1):.2%})")

    minhash_cand_stats()
    probe("minhash_lsh_dedup_pairs(dedup-first)",
          lambda: minhash_lsh_dedup_pairs(
              docs, "doc_id", "text", threshold=0.5, portable=True))

    # 5. cluster assignment end to end
    probe("dedup_assignments(minhash, portable)",
          lambda: dedup_assignments(docs, "doc_id", "text", threshold=0.5,
                                    method="minhash", portable=True),
          action="count")

    spark.stop()


if __name__ == "__main__":
    main()
