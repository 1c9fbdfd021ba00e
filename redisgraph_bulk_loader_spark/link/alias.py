"""Entity linking stage 1: broadcast alias-dictionary join.

Mentions carry raw surface forms; the alias dictionary (a small dim
table — thousands to low millions of rows) maps normalized surfaces to
canonical entity ids. The join is explicitly broadcast: at 10^12 docs
the mention side is enormous and must never shuffle for a dim lookup.

Unresolved surfaces (left-join misses) flow to the MinHash-LSH
candidate blocking stage (lsh.py) — resolution there produces extra
(surface -> canonical) edges that connected-components canonicalization
merges (canon/components.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


#: the mention columns linking resolves, each to ``<col>_cid``
SURFACE_COLS = ("subj_surface", "obj_surface")


def normalize_surface(col: Column) -> Column:
    """Deterministic surface normalization: trim, collapse whitespace,
    case-fold, strip dots (so "A. Lovelace" ~ "a lovelace"). Pure JVM
    expressions — stays inside whole-stage codegen."""
    c = F.lower(F.trim(col))
    c = F.regexp_replace(c, r"\.", "")
    c = F.regexp_replace(c, r"\s+", " ")
    return c


def build_alias_dim(aliases: DataFrame) -> DataFrame:
    """Build the normalized broadcast dim (_norm, canonical_id) ONCE per
    run; pass the result to ``link_mentions(dim=...)`` so repeated link
    passes (leftover probe, post-LSH relink) reuse the same broadcast
    instead of rebuilding it — the measured per-run fixed cost.

    Keys go through the same ``normalize_surface`` expression the
    mention side uses, so a mention spelled exactly like an alias
    always links. The dim is a lazy aggregate: building it runs no job.

    Ambiguous surfaces (two aliases normalizing identically but mapping
    to different canonicals) resolve deterministically to the MINIMUM
    canonical_id, taken in the id's native order and only then rendered
    as a string (10 < 9 as longs; the emitted column is always string).
    A nondeterministic pick (dropDuplicates keeps an arbitrary row)
    would destabilize the resume fingerprint across reruns. Null
    surfaces and null canonical ids are unusable mappings and dropped."""
    return F.broadcast(
        aliases.filter(
            F.col("surface").isNotNull() & F.col("canonical_id").isNotNull()
        )
        .select(
            normalize_surface(F.col("surface")).alias("_norm"),
            F.col("canonical_id"),
        )
        .groupBy("_norm")
        .agg(F.min("canonical_id").alias("canonical_id"))
        .select("_norm", F.col("canonical_id").cast("string").alias("canonical_id"))
    )


def patch_unresolved(linked: DataFrame, extra: DataFrame) -> DataFrame:
    """Second-pass linking without rescanning the mention stream: rows
    whose ``<col>_cid`` is null get resolved against the (tiny) extra
    mappings; already-resolved rows pass through untouched (their join
    key is null, and null keys never match). Equivalent to re-running
    link_mentions with the augmented dim because the extra mappings'
    normalized keys are exactly the base dim's misses."""
    dim = build_alias_dim(extra)
    out = linked
    for col in SURFACE_COLS:
        cid = col.replace("_surface", "_cid")
        out = (
            out.withColumn(
                "_norm",
                F.when(F.col(cid).isNull(), normalize_surface(F.col(col))),
            )
            .join(dim, "_norm", "left")
            .withColumn(cid, F.coalesce(F.col(cid), F.col("canonical_id")))
            .drop("_norm", "canonical_id")
        )
    return out


def augment_alias_dim(dim: DataFrame, extra: DataFrame) -> DataFrame:
    """dim (_norm, canonical_id) + extra raw (surface, canonical_id) ->
    augmented broadcast dim. Existing dim entries win on normalized-key
    collisions (they were the resolved mappings; extras are LSH
    leftovers whose normalized forms missed the dim by construction);
    collisions among the extras themselves resolve deterministically to
    the minimum canonical_id (min over (priority, canonical_id) structs
    — a nondeterministic pick would destabilize reruns). Null
    surface/canonical_id extras are dropped with the same filter
    build_alias_dim applies: struct-min sorts a null canonical_id field
    BEFORE non-null, so an unfiltered null mapping would win the min
    and shadow a real mapping for the same normalized surface."""
    extra_norm = extra.filter(
        F.col("surface").isNotNull() & F.col("canonical_id").isNotNull()
    ).select(
        normalize_surface(F.col("surface")).alias("_norm"),
        # dim canonical_id is string — align extras
        F.col("canonical_id").cast("string").alias("canonical_id"),
    )
    combined = (
        dim.select("_norm", F.struct(F.lit(0).alias("_prio"),
                                     F.col("canonical_id")).alias("_s"))
        .unionByName(
            extra_norm.select("_norm",
                              F.struct(F.lit(1).alias("_prio"),
                                       F.col("canonical_id")).alias("_s"))
        )
        .groupBy("_norm")
        .agg(F.min("_s").alias("_s"))
        .select("_norm", F.col("_s.canonical_id").alias("canonical_id"))
    )
    return F.broadcast(combined)


def link_mentions(
    mentions: DataFrame,
    aliases: DataFrame | None = None,
    *,
    dim: DataFrame | None = None,
    broadcast_vocab: bool | None = None,
) -> DataFrame:
    """Resolve each surface column to ``<col>_cid`` via the broadcast
    alias dict; misses stay null for the LSH stage.

    ``aliases``: (surface, canonical_id). Media objects resolve to
    themselves (the media_ref IS the object id). Pass a prebuilt
    ``dim`` (from build_alias_dim) to reuse one broadcast across link
    passes.

    Shape: normalization (regex-heavy, allocation-heavy) runs only on
    the DISTINCT surface vocabulary — at web scale the vocabulary is
    orders of magnitude smaller than the mention stream, and regexing
    every fact row was the measured allocation hot spot. The fact side
    then does plain string-equality broadcast joins (codegen, minimal
    garbage). The distinct is a map-side-combined partial aggregate.

    The resolved-vocabulary broadcast is size-gated: distinct surfaces
    over 10^12 docs can still be 1e8-1e9 rows, which must fall back to
    a shuffle join rather than OOM every executor. ``broadcast_vocab``
    =None (auto) persists the distinct vocabulary and counts it (one
    map-side-combined agg; the persist is then reused by the resolve
    join); pass True/False to force a strategy.
    """
    if dim is None:
        if aliases is None:
            raise ValueError("link_mentions needs aliases or a prebuilt dim")
        dim = build_alias_dim(aliases)
    # one scan over the fact table: explode all surface columns into a
    # single vocabulary pass (a union of selects would scan per column)
    vocab = mentions.select(
        F.explode(F.array(*[F.col(c) for c in SURFACE_COLS])).alias("_surface")
    ).distinct()
    from ..cache import pin

    if broadcast_vocab is None:
        from ..operators.endpoints import BROADCAST_THRESHOLD_ROWS

        vocab = pin(vocab)
        broadcast_vocab = vocab.count() <= BROADCAST_THRESHOLD_ROWS
    resolved = (
        vocab
        .withColumn("_norm", normalize_surface(F.col("_surface")))
        .join(dim, "_norm", "left")
        .select("_surface", F.col("canonical_id"))
    )
    if broadcast_vocab:
        resolved = F.broadcast(resolved)
    else:
        # The shuffle-join fallback references the resolved vocabulary
        # once per surface column — pin it so the mention scan +
        # distinct + normalize subtree runs once, not per column.
        resolved = pin(resolved)
    out = mentions
    for col in SURFACE_COLS:
        cid_col = col.replace("_surface", "_cid")
        out = out.join(
            resolved.select(
                F.col("_surface").alias(col), F.col("canonical_id").alias(cid_col)
            ),
            col,
            "left",
        )
    # media objects: the ref is canonical already
    if "obj_kind" in mentions.columns:
        out = out.withColumn(
            "obj_cid",
            F.when(F.col("obj_kind") == "media", F.col("obj_surface")).otherwise(
                F.col("obj_cid")
            ),
        )
    return out
