"""Entity linking stage 1: broadcast alias-dictionary join.

Mentions carry raw surface forms; the alias dictionary (a small dim
table — thousands to low millions of rows) maps normalized surfaces to
canonical entity ids. Linking is a function of the distinct surface
vocabulary, so it runs there (``link_vocabulary``: one scan of the
mention stream, then dim-scale work only); the stream joins the linked
vocabulary back with explicit broadcasts — at 10^12 docs the mention
side is enormous and must never shuffle for a dim lookup.

Unresolved vocabulary surfaces flow to the MinHash-LSH candidate
blocking stage (lsh.py); ``patch_unresolved`` fills their ids on the
vocabulary, and the extra (surface -> canonical) edges feed
connected-components canonicalization (canon/components.py).
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
    run; pass the result to ``link_vocabulary``/``link_mentions(dim=...)``
    so repeated calls (micro-batches of a stream) reuse it instead of
    rebuilding it — the measured per-run fixed cost.

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


def link_vocabulary(
    mentions: DataFrame,
    dim: DataFrame,
    *,
    broadcast_vocab: bool | None = None,
) -> tuple[DataFrame, bool]:
    """The linked surface vocabulary of ``mentions``:
    ``(surface, ent, canonical_id)``, one row per distinct surface of
    either surface column (null included). ``ent``: some use is a
    subject or a non-media object (a null ``obj_kind`` is not) — only
    those misses may go to LSH. ``canonical_id``: the ``dim`` lookup of
    the normalized surface, null on a miss. One scan of the stream
    feeds a map-side-combined aggregate, so the regex-heavy normalize
    runs on distinct surfaces only.

    Returns ``(vocab, broadcast)``: whether frames of the vocabulary's
    size may be broadcast back to the stream (1e8-1e9 distinct surfaces
    at 10^12 docs must shuffle-join instead). ``broadcast_vocab=None``
    pins the vocabulary and counts it against
    ``BROADCAST_THRESHOLD_ROWS`` (its only job); True/False forces the
    answer (False also pins: a shuffle join back reads it once per
    surface column)."""
    from ..cache import pin
    from ..operators.endpoints import BROADCAST_THRESHOLD_ROWS

    obj_ent = (F.coalesce(F.col("obj_kind") != "media", F.lit(False))
               if "obj_kind" in mentions.columns else F.lit(True))
    uses = mentions.select(F.explode(F.array(
        F.struct(F.col("subj_surface").alias("surface"),
                 F.lit(True).alias("ent")),
        F.struct(F.col("obj_surface").alias("surface"), obj_ent.alias("ent")),
    )).alias("_u")).select("_u.*")
    vocab = (
        uses.groupBy("surface").agg(F.max("ent").alias("ent"))
        .withColumn("_norm", normalize_surface(F.col("surface")))
        .join(dim, "_norm", "left")
        .select("surface", "ent", "canonical_id")
    )
    if broadcast_vocab is None:
        vocab = pin(vocab)
        broadcast_vocab = vocab.count() <= BROADCAST_THRESHOLD_ROWS
    elif not broadcast_vocab:
        vocab = pin(vocab)
    return vocab, broadcast_vocab


def patch_unresolved(vocab: DataFrame, extra: DataFrame) -> DataFrame:
    """Second-pass linking on the vocabulary: surfaces whose
    ``canonical_id`` is null are looked up in the extra (surface,
    canonical_id) mappings; resolved surfaces pass through untouched
    (their join key is null, and null keys never match). Equal to
    relinking over ``augment_alias_dim(dim, extra)`` because the extra
    mappings' normalized keys are exactly the base dim's misses."""
    patch = build_alias_dim(extra).select(
        "_norm", F.col("canonical_id").alias("_patch"))
    return (
        vocab.withColumn("_norm", F.when(
            F.col("canonical_id").isNull(),
            normalize_surface(F.col("surface"))))
        .join(patch, "_norm", "left")
        .select("surface", "ent",
                F.coalesce("canonical_id", "_patch").alias("canonical_id"))
    )


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
    ``dim`` (from build_alias_dim) to reuse one broadcast across calls.

    This is ``link_vocabulary`` (see there for ``broadcast_vocab``)
    joined back to the stream once per surface column: the fact side
    does plain string-equality joins (codegen, minimal garbage)."""
    if dim is None:
        if aliases is None:
            raise ValueError("link_mentions needs aliases or a prebuilt dim")
        dim = build_alias_dim(aliases)
    vocab, small = link_vocabulary(mentions, dim,
                                   broadcast_vocab=broadcast_vocab)
    if small:
        vocab = F.broadcast(vocab)
    out = mentions
    for col in SURFACE_COLS:
        out = out.join(
            vocab.select(F.col("surface").alias(col),
                         F.col("canonical_id").alias(
                             col.replace("_surface", "_cid"))),
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
