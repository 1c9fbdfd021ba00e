"""Corpus curation: the composed training-data filter chain.

A pretraining-data pipeline rarely runs quality scoring, language ID,
token counting, and deduplication as separate jobs — it runs ONE
curation pass that keeps documents passing every gate. This operator
composes the package's scan-speed text functions (functions/text.py,
all JVM column expressions) with a dedup-survivor join into a single
plan:

    keep doc iff  quality_score >= min_quality
              and language_id in languages
              and min_tokens <= token_count <= max_tokens
              and doc is the dedup representative AMONG gate-passers

Ordering is filter-then-dedup: survivorship is computed over the
documents that already passed the scalar gates. The other order
silently loses content — a near-dup cluster whose min-id
representative fails a gate would drop the whole cluster even when a
gate-passing member exists (code-review r4). Filter-first also shrinks
the dedup input, which is the cheaper order at scale.

Shape at 100 TB: the text functions ride the parquet scan inside
whole-stage codegen (one pass, no shuffle); the only shuffle is the
dedup survivor computation (exact: one hash groupBy; minhash: the
banded-join family), and the survivor check joins on the id column
only — document text never rides that shuffle.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import language_id, quality_score, token_count
from .dedup import dedup_assignments


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_quality: float = 0.5,
    languages: Sequence[str] = ("latin",),
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    dedup: str = "exact",
    dedup_threshold: float = 0.5,
    portable: bool = False,
    max_dup_gram_frac: float | None = None,
    rep_ngram: int = 2,
) -> DataFrame:
    """One-pass curation: returns the surviving documents as
    (id_col, n_tokens, quality, lang_guess).

    ``dedup='exact'`` keeps the min-id survivor per normalized content
    group (one shuffle); ``dedup='minhash'`` keeps near-dup cluster
    representatives via dedup_assignments (the 100 TB fuzzy path);
    ``dedup='none'`` skips the survivor gate. Survivorship runs over
    the gate-passing subset (filter-then-dedup; see module doc).

    Null ids: a document with a null id never survives dedup — under
    'exact' its group's min id skips nulls and ``id == min`` is
    null-false; under 'minhash' it gets no non-null ``rep_id`` — while
    ``dedup='none'`` keeps it like any other gate-passer.

    ``max_dup_gram_frac`` (optional) adds the repetitious-document
    gate between the scalar gates and dedup: drop documents whose
    repeated word ``rep_ngram``-gram char mass exceeds that fraction
    of their total gram mass (repetition_stats semantics). It runs
    over scalar-gate passers only — the cheap gates shrink the
    explode — and joins back by id, so text still never rides a
    shuffle. Documents with no ``rep_ngram``-gram pass trivially
    (0 <= frac * 0)."""
    # ALL gates are per-row functions of the text, so they evaluate in
    # ONE scan projection + filter (r6: the previous composition
    # re-derived the gate-passing set per consumer — the semi joins each
    # re-ran the scan + text functions, 14 parquet scans of the corpus
    # in the rep configuration; now 1). The repetition gate
    # (repetition_stats semantics) is row-local too: computing it
    # inline over all rows instead of scalar-gate passers changes cost
    # ordering only, never the surviving set — the filter conjunction
    # keeps the cheap scalar gates ahead of the fold so codegen's
    # short-circuit And skips the fold for scalar-gate failures.
    scalar_gate = (
        (F.col("quality") >= min_quality)
        & F.col("lang_guess").isin(*languages)
        & F.col("n_tokens").between(min_tokens, max_tokens)
    )
    cols = [
        F.col(id_col),
        token_count(F.col(text_col)).alias("n_tokens"),
        quality_score(F.col(text_col)).alias("quality"),
        language_id(F.col(text_col)).alias("lang_guess"),
    ]
    gate = scalar_gate
    if max_dup_gram_frac is not None:
        from .mixing import _alnum_ngram_occurrences

        # same NULL-as-'' convention as repetition_stats (moot under
        # the scalar gates — null text has null n_tokens — but keeps
        # the inline gate a faithful twin of the operator)
        gf = _unit_fold(F.array_sort(_alnum_ngram_occurrences(
            F.coalesce(F.col(text_col), F.lit("")), rep_ngram)))
        cols.append(gf.alias("_gf"))
        gate = gate & (
            F.col("_gf")["dup"]
            <= F.lit(max_dup_gram_frac) * F.col("_gf")["total"]
        )
    out_cols = [id_col, "n_tokens", "quality", "lang_guess"]
    from .skew import ensure_min_parallelism

    spread = ensure_min_parallelism(docs)
    if dedup == "exact":
        # Survivor check without re-reading the corpus: the fingerprint
        # is one more scan-side expression, and "is the min id of my
        # content group AMONG gate passers" is a CONDITIONAL window-min
        # (min(when(gate, id)) over fp) — one narrow shuffle
        # ((id, stats, fp) rows), text never rides it. Deliberately NO
        # filter below the window: a deterministic scan-column filter
        # always sinks below every exchange to the file scan, which on
        # a low-partition source (one ~200 MB parquet file = 2 splits)
        # would run the whole regex/fold gate chain on 2 cores. With
        # the gate folded into the window aggregate + one post-window
        # filter, the stats projection executes BETWEEN the
        # ensure_min_parallelism exchange and the fp exchange — full
        # parallelism — and the filter (referencing the window output)
        # cannot be pushed below either. At production scale the source
        # has many splits, ensure_min_parallelism is a plan no-op, and
        # the same shape holds.
        from ..functions.text import doc_fingerprint

        cols.append(doc_fingerprint(F.col(text_col)).alias("_fp"))
        scored = spread.select(*cols)
        w = Window.partitionBy("_fp")
        return (
            scored.withColumn(
                "_cmin", F.min(F.when(gate, F.col(id_col))).over(w))
            .filter(gate & (F.col(id_col) == F.col("_cmin")))
            .select(*out_cols)
        )
    scored = spread.select(*cols).filter(gate)
    if dedup == "none":
        return scored.select(*out_cols)
    if dedup != "minhash":
        raise ValueError("dedup must be 'exact', 'minhash', or 'none'")
    # minhash survivorship needs the text back: pin the (small) scored
    # frame so the gate scan runs once, not once per consumer
    from ..cache import pin

    scored = pin(scored.select(*out_cols))
    passing = docs.join(scored.select(id_col), id_col, "semi")
    assigned = dedup_assignments(
        passing, id_col, text_col, threshold=dedup_threshold,
        method="minhash", portable=portable,
    )
    survivors = assigned.filter(
        F.col(id_col) == F.col("rep_id")).select(id_col)
    # id-only semi join: the text never rides the survivor shuffle
    return scored.join(survivors, id_col, "semi")


def _unit_fold(sorted_units) -> "F.Column":
    """One interpreted pass over a row-local SORTED unit array,
    returning struct(top, dup, rep_n, rep_chars, total):

      top        max over distinct units of count*len (run*len peaks
                 exactly at each run's end in sorted order)
      dup        count*len mass of units occurring >= 2 times (a run
                 contributes 2*len when it reaches length 2, then len
                 per further repeat)
      rep_n      occurrences beyond each unit's first
      rep_chars  chars in those repeat occurrences
      total      chars across all occurrences

    The "" sentinel for prev is safe because units are non-empty by
    construction (lines are filtered, gram tokens can't be empty)."""
    zero = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("top"),
        F.lit(0).cast("long").alias("dup"),
        F.lit(0).cast("long").alias("rep_n"),
        F.lit(0).cast("long").alias("rep_chars"),
        F.lit(0).cast("long").alias("total"),
    )
    zero_l = F.lit(0).cast("long")

    def step(acc, x):
        ln = F.length(x).cast("long")
        is_rep = acc["prev"] == x
        run = F.when(is_rep, acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        dup_add = (
            F.when(run == 2, 2 * ln).when(run > 2, ln).otherwise(zero_l)
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["top"], run * ln).alias("top"),
            (acc["dup"] + dup_add).alias("dup"),
            (acc["rep_n"] + is_rep.cast("long")).alias("rep_n"),
            (acc["rep_chars"] + F.when(is_rep, ln).otherwise(zero_l)).alias(
                "rep_chars"
            ),
            (acc["total"] + ln).alias("total"),
        )

    return F.aggregate(sorted_units, zero, step)


def repetition_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    ngram_ns: Sequence[int] = (1, 5),
    line_sep_re: str = r"\n",
    impl: str = "local",
) -> DataFrame:
    """Per-document repetition signals — the "repetitious document"
    curation gate family (excessive repeated lines/n-grams is the
    classic low-quality-page signature): one row per input document
    with exact integer counters, so thresholds stay the caller's
    policy and every column hashes exactly against a SQL twin.

      n_lines            non-empty (post-trim) lines
      n_dup_lines        repeat occurrences beyond each line's first
      dup_line_chars     chars in those repeat occurrences (what a
                         line-dedup pass would delete)
      total_line_chars   chars across all non-empty lines
      gram{n}_top_chars  count*len mass of the single most repeated
                         word n-gram (0 when the doc has no n-gram)
      gram{n}_dup_chars  total count*len mass of n-grams occurring
                         more than once (overlapping occurrences each
                         count — this is a repetition SIGNAL, not a
                         char partition, so it may exceed total text
                         length on degenerate input)
      gram{n}_total_chars count*len mass of all n-gram occurrences

    Fractions (e.g. the usual dup_line_char_frac) are one division
    away: dup_line_chars / total_line_chars.

    Shape at 100 TB: per-document stats are ROW-LOCAL, so the default
    ``impl='local'`` never shuffles at all — each unit family is one
    array_sort + one aggregate() fold inside the scan projection
    (interpreted HOFs, but zero Exchange, zero join; measured 2.7x
    faster warm and 15x cold vs the exploded form at 1M docs —
    8.0/41.6 s vs 2.7-3.0 s — and the gap widens with data since the
    alternative shuffles every unit occurrence).
    ``impl='exploded'`` keeps the explode -> (id, md5(unit), len)
    groupBy pipeline — two skew-free groupBys per family and an
    id-only rejoin — as the cross-checked twin (equality is
    pytest-asserted) and as the fallback for pathological single
    documents too large for one task's memory."""
    if impl == "local":
        return _repetition_stats_local(
            docs, id_col, text_col, ngram_ns=ngram_ns,
            line_sep_re=line_sep_re,
        )
    if impl != "exploded":
        raise ValueError(f"impl must be 'local' or 'exploded', got {impl!r}")
    return _repetition_stats_exploded(
        docs, id_col, text_col, ngram_ns=ngram_ns, line_sep_re=line_sep_re,
    )


def _repetition_stats_local(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    ngram_ns: Sequence[int],
    line_sep_re: str,
) -> DataFrame:
    from .mixing import _alnum_ngram_occurrences

    # NULL text behaves like '' so the two impls stay byte-equal (the
    # exploded form's explode drops null rows and its left join then
    # zero-fills them)
    text = F.coalesce(F.col(text_col), F.lit(""))
    lines_arr = F.filter(
        F.transform(F.split(text, line_sep_re), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    lf = _unit_fold(F.array_sort(lines_arr))
    cols = [
        F.col(id_col),
        F.size(lines_arr).cast("long").alias("n_lines"),
        lf["rep_n"].alias("n_dup_lines"),
        lf["rep_chars"].alias("dup_line_chars"),
        lf["total"].alias("total_line_chars"),
    ]
    for n in ngram_ns:
        gf = _unit_fold(F.array_sort(_alnum_ngram_occurrences(text, n)))
        cols += [
            gf["top"].alias(f"gram{n}_top_chars"),
            gf["dup"].alias(f"gram{n}_dup_chars"),
            gf["total"].alias(f"gram{n}_total_chars"),
        ]
    return docs.select(*cols)


def _repetition_stats_exploded(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    ngram_ns: Sequence[int],
    line_sep_re: str,
) -> DataFrame:
    # same tokenizer as the decontamination gram extractor — one
    # module owns the normalization rule
    from .mixing import _alnum_ngram_occurrences

    base = docs.select(F.col(id_col), F.col(text_col).alias("_t"))
    ids = base.select(id_col)

    def _mass_agg(unit_df, aggs):
        groups = unit_df.groupBy(id_col, "_h").agg(
            F.count("*").alias("_c"), F.max("_l").alias("_l")
        )
        return groups.groupBy(id_col).agg(*aggs)

    mass = F.col("_c") * F.col("_l")
    lines = (
        base.select(
            id_col, F.explode(F.split("_t", line_sep_re)).alias("_ln")
        )
        .select(id_col, F.trim("_ln").alias("_ln"))
        .filter(F.col("_ln") != "")
        .select(
            id_col, F.md5("_ln").alias("_h"), F.length("_ln").alias("_l")
        )
    )
    out = ids.join(
        _mass_agg(
            lines,
            [
                F.sum("_c").alias("n_lines"),
                F.sum(F.col("_c") - 1).alias("n_dup_lines"),
                F.sum((F.col("_c") - 1) * F.col("_l")).alias(
                    "dup_line_chars"
                ),
                F.sum(mass).alias("total_line_chars"),
            ],
        ),
        id_col,
        "left",
    )
    stat_cols = ["n_lines", "n_dup_lines", "dup_line_chars",
                 "total_line_chars"]
    for n in ngram_ns:
        grams = base.select(
            id_col,
            F.explode(_alnum_ngram_occurrences(F.col("_t"), n)).alias("_g"),
        ).select(id_col, F.md5("_g").alias("_h"), F.length("_g").alias("_l"))
        out = out.join(
            _mass_agg(
                grams,
                [
                    F.max(mass).alias(f"gram{n}_top_chars"),
                    F.sum(
                        F.when(F.col("_c") >= 2, mass).otherwise(F.lit(0))
                    ).alias(f"gram{n}_dup_chars"),
                    F.sum(mass).alias(f"gram{n}_total_chars"),
                ],
            ),
            id_col,
            "left",
        )
        stat_cols += [f"gram{n}_top_chars", f"gram{n}_dup_chars",
                      f"gram{n}_total_chars"]
    return out.select(
        F.col(id_col),
        *[
            F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
            for c in stat_cols
        ],
    )
