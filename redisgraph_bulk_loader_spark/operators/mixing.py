"""Training-data mixing and benchmark decontamination.

A pretraining pipeline does three sampling-shaped things the moment the
corpus is curated: draw a deterministic fraction of a source
(hash-Bernoulli — reruns and backfills must pick the SAME documents),
enforce per-source quotas for the data-mixing recipe (top-k per
stratum), and remove benchmark contamination (any document sharing a
word n-gram with an eval set must not be trained on).

Everything here is built from md5/row_number/equi-join primitives that
exist identically in Spark and ANSI SQL, so each operator has an exact
DuckDB oracle twin in __spark_entry__ (same discipline as
functions/text.py).

Shape at 100 TB:
- hash_sample is a pure codegen filter on md5(id) — zero shuffle, rides
  the parquet scan, and Catalyst pushes the surviving-column pruning
  down even though md5 itself can't reach the scan.
- stratified_quota_sample never funnels a stratum through one reducer:
  phase 1 ranks within (stratum, salt) so each task sorts at most
  |stratum|/n_salts rows, phase 2 ranks the <= quota * n_salts salted
  winners per stratum — the standard two-phase exact top-k (same
  pattern as operators/skew.two_phase_count).
- decontaminate shuffles only (doc_id, 16-byte gram hash) pairs —
  document text never leaves the scan stage. The benchmark side is an
  eval set (small by construction) and broadcasts by default; a hot
  boilerplate gram cannot go quadratic because the benchmark grams are
  distinct, so each corpus gram row matches at most once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _hash_threshold_hex(fraction: float) -> str:
    """32-hex-char literal t such that P[md5(x) < t] == fraction under
    the uniform-hash assumption. String comparison of lowercase hex is
    identical in Spark and DuckDB, so the same literal twins exactly.

    fraction == 1.0 returns 'g' — one char above the hex alphabet, so
    every digest sorts below it. (The arithmetic form would emit the
    33-char '1' + 32 zeros, which sorts BELOW any digest not starting
    with '0' and would silently keep only ~1/16 of rows.)"""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    if fraction >= 1.0:
        return "g"
    return format(int(fraction * (16 ** 32)), "032x")


def hash_sample(
    df: DataFrame,
    id_col: str,
    fraction: float,
    *,
    salt: str = "",
) -> DataFrame:
    """Deterministic Bernoulli sample: keep rows where
    md5(id || salt) < threshold(fraction).

    Unlike DataFrame.sample this is a pure function of the row key —
    rerunning the pipeline, resuming from checkpoint, or sampling the
    same corpus on a different cluster layout selects the SAME rows,
    which is what a reproducible training-data recipe needs. Distinct
    ``salt`` values draw independent samples (e.g. train/holdout
    splits from one corpus).

    Null ``id_col`` rows are always dropped, at any fraction
    (md5(concat(null, salt)) is null and a null comparison is
    null-false; ADVICE r5) — coalesce the key with a sentinel
    upstream if null ids must participate."""
    key = F.concat(F.col(id_col).cast("string"), F.lit(salt))
    return df.filter(F.md5(key) < F.lit(_hash_threshold_hex(fraction)))


def proportional_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    fractions: dict,
    *,
    default_fraction: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic Bernoulli sampling — the "40% of web,
    100% of books, 5% of logs" step of a data-mixing recipe, in ONE
    scan: each stratum gets its own md5 threshold from a broadcast
    recipe dim. Strata absent from ``fractions`` fall back to
    ``default_fraction`` (0.0 = drop unlisted sources, the usual
    recipe contract: unlisted means unwanted).

    Like hash_sample this is a pure function of (stratum's fraction,
    row key): reruns, resumes, and layout changes select the same
    rows; distinct ``salt`` values draw independent samples. The
    recipe dim is len(fractions) rows — broadcast by construction —
    so the plan is a BroadcastHashJoin feeding a codegen filter; the
    corpus never shuffles.

    Null ``id_col`` rows are always dropped, at any fraction
    (md5(concat(null, salt)) is null and a null comparison is
    null-false) — same contract as ``hash_sample``; coalesce the key
    upstream if null ids must participate. Internal working columns
    are collision-checked against ``df``'s schema (ADVICE r5: the old
    '_sk'/'_thr' names silently clobbered same-named input
    columns)."""
    for s, f in fractions.items():
        if not 0.0 <= f <= 1.0:
            raise ValueError(f"fraction for stratum {s!r} must be in "
                             f"[0,1], got {f}")
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError(
            f"default_fraction must be in [0,1], got {default_fraction}")
    spark = df.sparkSession
    sk, thr = "__mix_sk", "__mix_thr"
    for c in (sk, thr):
        if c in df.columns:
            raise ValueError(
                f"proportional_sample reserves column name {c!r}; "
                "rename it in the input")
    dim = F.broadcast(
        spark.createDataFrame(
            [(str(s), _hash_threshold_hex(f)) for s, f in fractions.items()],
            f"{sk} string, {thr} string",
        )
    )
    key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    default_thr = F.lit(_hash_threshold_hex(default_fraction))
    return (
        df.withColumn(sk, F.col(strata_col).cast("string"))
        .join(dim, sk, "left")
        .filter(key < F.coalesce(F.col(thr), default_thr))
        .drop(sk, thr)
    )


def stratified_quota_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    quota: int,
    *,
    n_salts: int = 32,
) -> DataFrame:
    """Exactly ``quota`` rows per stratum (all rows when the stratum is
    smaller), chosen deterministically as the quota smallest
    md5(stratum:id) values — the per-source quota step of a data-mixing
    recipe, reproducible across runs and cluster layouts.

    This is ``token_budget_sample`` with unit weights: a row's running
    count in hash order is its rank, so "running count <= quota" is
    exactly "rank <= quota", and the same two-phase fill gives an exact
    top-k without sending a whole stratum to one reducer (phase 2 sees
    at most quota * n_salts rows per stratum). ``id_col`` must be
    unique per row (it already has to be for the deterministic ordering
    to mean anything)."""
    return _hash_order_fill(df, strata_col, id_col, F.lit(1), quota, n_salts)


def token_budget_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    weight_col: str,
    budget: int,
    *,
    n_salts: int = 32,
) -> DataFrame:
    """Deterministic per-stratum BUDGET fill: walk each stratum in
    md5(stratum:id) order and keep rows while the running sum of
    ``weight_col`` stays <= ``budget`` (the first row that would
    overshoot is dropped, as is everything after it). This is the
    "sample 1B tokens per source" step of a training-data recipe —
    quota counts rows, budget counts tokens/bytes.

    Rows with weight > budget can never be kept. Weights must be
    non-negative — the two-phase fill's exactness proof relies on the
    running sum being monotone, so negative weights give undefined
    results (as they would make "fill a budget" meaningless anyway)."""
    return _hash_order_fill(
        df, strata_col, id_col, F.col(weight_col), budget, n_salts)


def _hash_order_fill(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    weight: Column,
    budget: int,
    n_salts: int,
) -> DataFrame:
    """Rows of ``df`` whose running ``weight`` sum in md5(stratum:id)
    order stays <= ``budget`` within their stratum.

    Exact two-phase decomposition: a naive window over
    ``partitionBy(stratum)`` sends every row of a stratum to ONE
    reducer — at web scale a 10^11-row stratum is a single-task sort.
    The global budget prefix intersected with any salt-of-id bucket is
    a prefix of that bucket's own hash order whose weight sum is <=
    budget — so phase 1 keeps each (stratum, salt) bucket's hash-order
    prefix up to and INCLUDING its first overshooting row (bounding
    phase-2 input to ~n_salts * (budget + max row weight) per stratum),
    and phase 2 re-ranks the survivors per stratum and applies the
    exact global cumulative cut. Keeping the first overshooter matters:
    every phase-1-dropped row then has bucket (hence global)
    prefix-before >= budget, so no dropped row can precede a phase-2
    winner and phase 2's running sum equals the true global one. (A
    `_cum <= budget` phase-1 filter could drop a bucket's first
    overshooting row while a later row in global order survived
    elsewhere, giving n_salts-dependent output; ADVICE r5.) The output
    is salt-count-invariant: n_salts tunes parallelism, never results.

    Only (stratum, id, ord, weight) rides the window shuffles —
    document text/payload columns stay in the scan and rejoin via an
    id semi-join at the end (winner sets are budget-bounded, so AQE
    broadcasts them)."""
    ord_key = F.md5(
        F.concat(
            F.col(strata_col).cast("string"),
            F.lit(":"),
            F.col(id_col).cast("string"),
        )
    )
    keys = df.select(
        strata_col, id_col, weight.alias("_w")
    ).withColumn("_ord", ord_key).withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_salts))
    )
    w1 = (
        Window.partitionBy(strata_col, "_salt")
        .orderBy("_ord", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w2 = (
        Window.partitionBy(strata_col)
        .orderBy("_ord", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    winners = (
        keys.withColumn("_cum", F.sum("_w").over(w1))
        .filter((F.col("_cum") - F.col("_w")) < budget)
        .withColumn("_cum", F.sum("_w").over(w2))
        .filter(F.col("_cum") <= budget)
        .select(id_col)
    )
    return df.join(winners, id_col, "semi")


def _alnum_ngram_occurrences(text: Column, n: int) -> Column:
    """EVERY overlapping word n-gram over alphanumeric tokens
    (lowercase, split on runs of non-[a-z0-9], empties dropped) as
    array<string> — one entry per occurrence, duplicates preserved.

    Implemented as ONE codegen'd regex pass: normalize to
    space-separated tokens, then a zero-width token-boundary lookahead
    captures every overlapping n-token window. The obvious
    filter/transform/slice HOF chain computes the same array but runs
    INTERPRETED (HOFs sit outside whole-stage codegen) and measured
    2.6x slower at 200k docs; documents shorter than n tokens simply
    have no match (empty array), so no descending-sequence guard is
    needed. The DuckDB oracle twins keep the list-slicing form — their
    hash equality is the cross-check that the regex really enumerates
    the sliding windows. n == 1 degenerates to plain tokenization
    (the lookahead pattern handles it, but split() is cheaper)."""
    if n < 1:
        # n - 1 lands in a regex repetition count: fail loudly at plan
        # build instead of PatternSyntaxException inside the first task
        raise ValueError(f"ngram n must be >= 1, got {n}")
    norm = F.trim(F.regexp_replace(F.lower(text), "[^a-z0-9]+", " "))
    if n == 1:
        return F.when(norm == "", F.array().cast("array<string>")).otherwise(
            F.split(norm, " ")
        )
    pat = r"(?<![a-z0-9])(?=((?:[a-z0-9]+ ){%d}[a-z0-9]+))" % (n - 1)
    return F.regexp_extract_all(norm, F.lit(pat), 1)


def _alnum_ngrams(text: Column, n: int) -> Column:
    """Distinct word n-grams (see _alnum_ngram_occurrences)."""
    return F.array_distinct(_alnum_ngram_occurrences(text, n))


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 5,
    mode: str = "flag",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination: a corpus document is contaminated iff
    it shares any word ``n``-gram with any benchmark document (the
    standard eval-leakage rule — train/test overlap at the n-gram
    level).

    ``mode='flag'`` returns (id_col, contaminated:boolean,
    n_hit_ngrams:bigint) for every corpus document — the auditable
    form. ``mode='drop'`` returns the clean subset of ``corpus`` with
    its original columns.

    Only (doc_id, md5(gram)) pairs ride the shuffle; the benchmark gram
    set is distinct and broadcast by default (eval sets are small). Set
    ``broadcast_benchmark=False`` for a giant blocklist — the join
    degrades to a shuffle equi-join on uniformly distributed hashes."""
    if mode not in ("flag", "drop"):
        raise ValueError(f"mode must be 'flag' or 'drop', got {mode!r}")
    bench_ng = (
        benchmark.select(
            F.explode(_alnum_ngrams(F.col(text_col), n)).alias("_ng")
        )
        .select(F.md5("_ng").alias("_ng"))
        .distinct()
    )
    if broadcast_benchmark:
        bench_ng = F.broadcast(bench_ng)
    corpus_ng = corpus.select(
        F.col(id_col),
        F.explode(_alnum_ngrams(F.col(text_col), n)).alias("_ng"),
    ).select(id_col, F.md5("_ng").alias("_ng"))
    hits = (
        corpus_ng.join(bench_ng, "_ng")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hit_ngrams"))
    )
    if mode == "drop":
        return corpus.join(hits.select(id_col), id_col, "left_anti")
    return corpus.select(id_col).join(hits, id_col, "left").select(
        F.col(id_col),
        F.col("n_hit_ngrams").isNotNull().alias("contaminated"),
        F.coalesce(F.col("n_hit_ngrams"), F.lit(0).cast("long")).alias(
            "n_hit_ngrams"
        ),
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    window: int,
    *,
    salt: str = "",
    bucket_hex: int = 2,
) -> DataFrame:
    """Concat-and-chunk sequence packing: lay all documents end to end
    in deterministic md5(id || salt) order and cut the stream into
    fixed ``window``-sized training sequences. Returns one row per
    input row with its placement in the packed stream:

      id_col, weight, start_offset (0-based char/token offset of the
      document's first unit), start_bin / end_bin (the window indices
      of its first and last unit), n_bins, spans_boundary (true iff
      the document straddles a window cut — the rows an attention-mask
      builder needs to know about).

    This is the GPT-style packing strategy (tokenize, concatenate,
    split every ``window`` tokens): zero padding waste by construction,
    documents may straddle boundaries. Determinism comes from the hash
    order — re-running the recipe, resuming, or packing on a different
    cluster layout places every document at the same offset.

    Exactness at scale: the definitional form is ONE global running
    sum — a single-reducer sort at 100 TB. Instead the hash order is
    decomposed by its own prefix: bucket = first ``bucket_hex`` hex
    chars of the order key (lexicographic bucket order == global order,
    because the bucket IS a prefix of the sort key). Each bucket
    computes its local running sum in parallel (~N/16^bucket_hex rows
    per task under md5 uniformity — raise ``bucket_hex`` to 3-4 at
    production scale), bucket totals aggregate to a 16^bucket_hex-row
    dim whose global prefix offsets are a one-task window over dim-
    scale data, and a broadcast join adds the offsets back. The DuckDB
    oracle twin in __spark_entry__ is the naive global window — hash
    equality proves the decomposition exact. Weights must be >= 1 (a
    zero-length document occupies no units and has no well-defined
    bin span) — violations raise inside the projection, same inline
    strict-validation idiom as resolve_endpoints. Bin indices use
    integer division end to end (long `div`, never double `/`): at
    packed-stream offsets past 2^53 a double quotient rounds before
    floor and misplaces documents by one window."""
    if window <= 0:
        raise ValueError(f"window must be positive, got {window}")
    if not 1 <= bucket_hex <= 8:
        raise ValueError(f"bucket_hex must be in [1,8], got {bucket_hex}")
    ord_key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    w_raw = F.col(weight_col).cast("long")
    w_err = F.concat(
        F.lit("pack_sequences requires weight >= 1, got "),
        F.coalesce(w_raw.cast("string"), F.lit("null")),
        F.lit(" for id "),
        F.coalesce(F.col(id_col).cast("string"), F.lit("null")),
    )
    w_checked = F.when(
        w_raw.isNull() | (w_raw < 1), F.raise_error(w_err)
    ).otherwise(w_raw)
    keys = (
        df.select(F.col(id_col), w_checked.alias("_w"))
        .withColumn("_ord", ord_key)
        .withColumn("_b", F.substring("_ord", 1, bucket_hex))
    )
    w_local = (
        Window.partitionBy("_b")
        .orderBy("_ord", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # 16^bucket_hex rows — dim-scale by construction, so the
    # unpartitioned prefix window below is a deliberate one-task step
    # over a dim, not a data-scale funnel.
    totals = keys.groupBy("_b").agg(F.sum("_w").alias("_bt"))
    w_prefix = Window.orderBy("_b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    prefix = totals.withColumn(
        "_bp", F.sum("_bt").over(w_prefix) - F.col("_bt")
    ).select("_b", "_bp")
    start = F.col("_bp") + F.col("_cum") - F.col("_w")
    return (
        keys.withColumn("_cum", F.sum("_w").over(w_local))
        .join(F.broadcast(prefix), "_b")
        .select(
            F.col(id_col),
            F.col("_w").alias("weight"),
            start.alias("start_offset"),
        )
        .withColumn(
            "start_bin", F.expr(f"start_offset div {int(window)}")
        )
        .withColumn(
            "end_bin",
            F.expr(f"(start_offset + weight - 1) div {int(window)}"),
        )
        .withColumn(
            "n_bins", F.col("end_bin") - F.col("start_bin") + F.lit(1)
        )
        .withColumn("spans_boundary", F.col("n_bins") > 1)
    )
