"""End-to-end KG construction pipeline.

documents(doc_id, spans) ->
  1. span-sequence validation (JVM-side invariant check)
  2. batched mention detection / triple extraction (mapInPandas)
  3. entity linking on the distinct surface vocabulary: broadcast
     alias join; leftover entity surfaces through MinHash-LSH
     candidate blocking against canonical names, patched onto the
     vocabulary
  4. canonicalization: connected components (driver union-find or
     large-star/small-star) over the surface<->canonical sameAs graph;
     component representative = smallest canonical id. Each surface's
     final id is resolved on the vocabulary, and the mention stream
     joins that surface -> canon map once per surface column
  5. dense node-ID assignment + label/reltype registries
  6. endpoint resolution (broadcast join) -> edges
  7. materialize nodes/edges/triples + per-stage lineage; per-predicate
     counts via skew-safe two-phase aggregation

Every stage is a DataFrame transformation; the only Python on the data
path is the Arrow-batched extractor. Stage writes go through
GraphCatalog with input fingerprints, so a rerun over unchanged input
skips completed stages (resume-from-checkpoint).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..canon.components import DRIVER_CC_THRESHOLD, min_id_components
from ..extract import extract_mentions, validate_span_sequences
# build_node_registry and link_mentions are not called here; they stay
# module attributes for the layer tracer in perfbench/, which wraps
# them by name
from ..ids import assign_dense_ids, build_node_registry  # noqa: F401
from ..link import (  # noqa: F401
    build_alias_dim,
    link_mentions,
    link_vocabulary,
    lsh_candidate_pairs,
    patch_unresolved,
)
from ..materialize import GraphCatalog
from ..operators.endpoints import resolve_endpoints
from ..operators.skew import two_phase_count


def _lsh_extra_mappings_scoped(
    vocab: DataFrame, aliases: DataFrame, threshold: float
) -> Optional[DataFrame]:
    """Resolve the linked vocabulary's leftover entity surfaces (null
    ``canonical_id`` and ``ent``) via LSH against canonical surfaces;
    returns the extra (surface, canonical_id) mappings, or None when
    every such surface already resolved. Media-only surfaces never
    reach LSH: a media ref is its own id.

    Its caches are scoped: the eager checkpoint at the end cuts
    lineage, so the shingle/signature frames lsh_candidate_pairs pins
    are released here instead of living for the session (persist
    hygiene, VERDICT r3 #3)."""
    from ..cache import PinScope

    unresolved = vocab.filter(
        F.col("canonical_id").isNull() & F.col("ent")).select("surface")
    # one job over the pinned vocabulary
    if unresolved.isEmpty():
        return None
    with PinScope():
        matches = lsh_candidate_pairs(
            unresolved,
            aliases,
            "surface",
            "canonical_id",
            "surface",
            "surface",
            threshold=threshold,
        )
        extra = matches.select(
            F.col("surface_lsh").alias("surface"),
            F.col("canonical_id_lsh").alias("canonical_id"),
        )
        # The LSH plan (minhash + banding over the unresolved
        # vocabulary) is expensive; every consumer (augmented alias
        # frame, patched vocabulary, canonicalization — which
        # references the alias table twice) would re-execute it
        # lazily. The result is dim-scale by construction: pin it once.
        return extra.localCheckpoint(eager=True)


def _coded_dim(df: DataFrame, col: str, out_col: str, code_col: str) -> DataFrame:
    """(distinct values of ``col``) + dense 0-based codes ordered by
    value — the label/reltype registry shape (tiny dims, mirror the
    reference's header tokens)."""
    return (
        df.select(F.col(col).alias(out_col)).distinct()
        .withColumn(code_col,
                    F.row_number().over(Window.orderBy(out_col)) - 1)
    )


#: build_graph result key -> catalog table, for the tables written after
#: extraction (``mentions`` is staged on its own, before linking)
_TABLES = {"nodes": "nodes", "edges": "edges", "triples": "triples",
           "registry": "node_registry", "pred_counts": "pred_counts"}


def _add_registries(results: dict) -> dict:
    """Add the label/reltype registries (tiny dims mirroring the
    reference's header tokens) derived from ``results``' nodes and
    triples."""
    results["labels"] = _coded_dim(results["nodes"], "label", "label",
                                   "label_code")
    results["rel_types"] = _coded_dim(results["triples"], "pred",
                                      "rel_type", "rel_code")
    return results


def canonicalize(
    aliases: DataFrame,
    *,
    driver_threshold: int = DRIVER_CC_THRESHOLD,
) -> DataFrame:
    """Connected components over the surface<->canonical sameAs graph;
    returns the (canonical_id -> canon_id) remap where canon_id is the
    smallest canonical id in the component, one row per distinct
    non-null canonical id.

    Every id is paired with the smallest canonical id sharing its
    surface: that graph holds only canonical ids and has exactly the
    bipartite graph's components, so ``min_id_components`` (one size
    gate: driver union-find vs distributed star loop) answers directly
    on native ids. Null contract: a row with a null ``canonical_id`` is
    dropped, and a null ``surface`` links nothing (its id only
    registers itself) — null is not a shared surface.

    Both gate branches emit STRING ids (matching build_alias_dim): the
    min is taken in the id's native order and only then rendered, so a
    numeric canonical_id is never compared as a string and the remap
    join in build_graph never coerces 64-bit ids through double."""
    cid = F.col("canonical_id")
    pairs = aliases.filter(cid.isNotNull()).select(
        cid,
        F.when(F.col("surface").isNull(), cid)
        .otherwise(F.min(cid).over(Window.partitionBy("surface")))
        .alias("_min"),
    )
    return min_id_components(
        pairs, "canonical_id", "_min", driver_threshold=driver_threshold,
    ).select(
        F.col("id").cast("string").alias("canonical_id"),
        F.col("rep").cast("string").alias("canon_id"),
    )


def build_graph(
    spark: SparkSession,
    documents: DataFrame,
    aliases: DataFrame,
    catalog: Optional[GraphCatalog] = None,
    *,
    lsh_threshold: float = 0.5,
    strict_spans: bool = False,
) -> dict:
    """Run the full pipeline; returns dict of result DataFrames and
    writes catalog tables when a catalog is given.

    With a catalog, the extraction stage checkpoints its output table
    (north_rule: every stage resumes without recomputation) — which
    also means downstream passes scan a columnar table instead of
    holding the full mention stream in executor cache.

    The resume fingerprint covers doc_id AND span content: a corpus
    whose text/spans changed under unchanged doc_ids must not reuse a
    stale mentions checkpoint. Cost is one content scan per run; the
    resume-skip case pays that scan instead of the full extraction.

    Persist lifecycle: with a catalog, every returned frame is rebound
    to a catalog read after the writes, so all internal caches are
    unpersisted before returning. Without a catalog the returned lazy
    frames still reference the caches; they move to the session
    registry — call ``redisgraph_bulk_loader_spark.cache.release_pins()``
    after consuming the results in a long-lived session."""
    from ..cache import PinScope, pin

    scope = PinScope()
    fp = (
        GraphCatalog.fingerprint_df(documents.select("doc_id", "spans"))
        if catalog is not None else None
    )

    # Full-resume short circuit: if the FINAL stage already ran against
    # this exact input and every output table exists, the whole build
    # is a fingerprint scan + catalog reads — no linking, no
    # canonicalization, no counts (north_rule: a killed-after-complete
    # rerun recomputes nothing).
    tables = {"mentions": "mentions", **_TABLES}
    if (catalog is not None and catalog.is_complete("build_graph", fp)
            and all(catalog.exists(t) for t in tables.values())):
        return _add_registries(
            {k: catalog.read(t) for k, t in tables.items()})

    # 1. span validation. Strict mode is inline (raise_error fused into
    # the doc_id projection — doc_id is load-bearing downstream, so
    # column pruning cannot drop the check): the validation rides the
    # extraction scan instead of paying its own full pass.
    ok = validate_span_sequences(documents)
    if strict_spans:
        docs = documents.withColumn(
            "doc_id",
            F.when(
                ~ok,
                F.raise_error(F.concat(
                    F.lit("span-sequence violation in doc "), F.col("doc_id")
                )),
            ).otherwise(F.col("doc_id")),
        )
    else:
        docs = documents.filter(ok)

    # 2. extraction. Staged through the catalog when available (resume
    # checkpoint + columnar scans downstream); otherwise persisted —
    # without either, every write action would re-run the Arrow
    # extractor over the full corpus. The non-staged persist is a
    # session pin (outside the scope): the returned mentions frame IS
    # the cache in that mode.
    mentions = extract_mentions(docs)
    staged = catalog is not None
    if staged:
        if not catalog.is_complete("mentions", fp):
            catalog.write("mentions", mentions, stage="mentions",
                          input_fingerprint=fp)
        mentions = catalog.read("mentions")
    else:
        mentions = pin(mentions)
    scope.__enter__()
    try:

        # 3. linking, on the distinct surface vocabulary: normalize +
        # look up each surface once (the vocabulary is pinned and
        # counted for its broadcast gate, which the surface -> canon
        # map below inherits). Leftover entity surfaces go through LSH,
        # and their extra mappings patch the vocabulary — the mention
        # stream is not touched again until step 4.
        vocab, small = link_vocabulary(mentions, build_alias_dim(aliases))
        extra = _lsh_extra_mappings_scoped(vocab, aliases, lsh_threshold)
        if extra is None:
            aliases_aug = aliases
        else:
            aliases_aug = aliases.unionByName(extra)
            vocab = patch_unresolved(vocab, extra)

        # 4. canonicalization via connected components, resolved on the
        # vocabulary: surface -> canon = remap(canonical_id), or the
        # canonical_id itself. The remap has at most one row per
        # alias-table canonical id (the augmented alias frame's ids are
        # alias-table ids), so it is dim-scale exactly like the alias
        # dim build_alias_dim broadcasts: broadcast it unconditionally.
        remap = canonicalize(aliases_aug)
        canon = vocab.join(F.broadcast(remap), "canonical_id", "left").select(
            "surface", F.coalesce("canon_id", "canonical_id").alias("canon"))
        if small:
            canon = F.broadcast(canon)

        # triples: the mention stream joins the map once per surface
        # column; a media object is its own id. Resolved mentions only,
        # deduped on (subj, pred, obj).
        linked = mentions
        for col, out in (("subj_surface", "subj"), ("obj_surface", "_obj")):
            linked = linked.join(
                canon.select(F.col("surface").alias(col),
                             F.col("canon").alias(out)),
                col, "left")
        triples = pin(
            linked.select(
                "doc_id", "subj", "pred",
                F.when(F.col("obj_kind") == "media", F.col("obj_surface"))
                .otherwise(F.col("_obj")).alias("obj"),
                "obj_kind",
            )
            .filter(F.col("subj").isNotNull() & F.col("obj").isNotNull())
        )
        distinct_triples = pin(triples.dropDuplicates(["subj", "pred", "obj"]))

        # 5. node registry: every canonical entity/place/media object
        node_ext = (
            triples.select(F.explode(F.array("subj", "obj")).alias("ext_id"))
            .distinct()
            .withColumn(
                "label",
                F.when(F.col("ext_id").startswith("place:"), "place")
                .when(F.col("ext_id").startswith("img://"), "media")
                .otherwise("entity"),
            )
        )
        # node_ext is distinct on ext_id, so the ids need no last-wins
        # pass and nodes and the registry are two projections of them
        ided = pin(assign_dense_ids(node_ext, ["label", "ext_id"]))
        nodes = ided.select("internal_id", "label", "ext_id")
        registry = ided.select("ext_id", "internal_id")

        # 6. endpoint resolution -> edges with internal ids. Strategy is
        # size-gated (broadcast vs salted shuffle) on the registry count,
        # which also warms the registry pin; strict validation is inline
        # (no extra validation job).
        edges = resolve_endpoints(
            distinct_triples.select(
                F.col("subj").alias("src_id"),
                F.col("obj").alias("dst_id"),
                F.col("pred").alias("rel_type"),
            ),
            registry,
            skip_invalid=False,
        ).select("src_internal", "dst_internal", "rel_type")

        # 7. metrics: per-predicate counts, skew-safe
        pred_counts = two_phase_count(triples, ["pred"], count_col="n_triples")

        results = _add_registries({
            "mentions": mentions,
            "triples": distinct_triples,
            "nodes": nodes,
            "edges": edges,
            "registry": registry,
            "pred_counts": pred_counts,
        })

        if catalog is not None:
            if not catalog.is_complete("build_graph", fp):
                # The four table writes are independent jobs over
                # already-pinned inputs: two chains run concurrently so
                # each job's task tail is back-filled by the other
                # chain's tasks (guide §2.6 overlap; FIFO scheduling
                # gives exactly the back-fill behavior). The manifest
                # commit is lock-serialized inside GraphCatalog.write.
                # edges and triples share the distinct_triples pin, which
                # nothing materializes before the writes: in one chain
                # the edges write fills it before the triples write
                # scans it (run concurrently, the triples write can start
                # before the pin is filled and redo the dedup shuffle as
                # one more job). pred_counts stays LAST and sequential: its
                # stage="build_graph" lineage row is the full-resume
                # completion marker, so it must not commit before the
                # other tables have landed.
                from concurrent.futures import ThreadPoolExecutor

                _chains = [
                    [("edges", edges, ["rel_type"]),
                     ("triples", distinct_triples, None)],
                    [("nodes", nodes, ["label"]),
                     ("node_registry", registry, None)],
                ]

                def _w(chain):
                    for tbl, frame, part in chain:
                        catalog.write(tbl, frame, partition_by=part,
                                      stage=tbl, input_fingerprint=fp)

                with ThreadPoolExecutor(max_workers=2) as pool:
                    list(pool.map(_w, _chains))
                catalog.write("pred_counts", pred_counts,
                              stage="build_graph", input_fingerprint=fp)
            for key, table in _TABLES.items():
                if catalog.exists(table):
                    results[key] = catalog.read(table)
            # Every heavy result is now backed by a catalog table;
            # rebind the tiny derived registries onto those reads and
            # release every cache the scope collected (incl. the
            # linking vocabulary pins) — nothing returned references
            # them anymore (persist hygiene, VERDICT r3 #3).
            _add_registries(results)
            scope.release()
        else:
            # no catalog: the returned lazy frames still reference the
            # caches — move them to the session registry so
            # cache.release_pins() can reclaim them later
            scope.adopt()

        return results
    finally:
        # success paths released/adopted above (no-op); an
        # exception path unpersists everything pinned so far
        scope.__exit__(None, None, None)


def triple_prf(result_triples: DataFrame, gold_triples: DataFrame) -> dict:
    """Precision/recall/F1 of (subj, pred, obj) sets vs gold."""
    got = result_triples.select("subj", "pred", "obj").distinct()
    gold = gold_triples.select("subj", "pred", "obj").distinct()
    n_got = got.count()
    n_gold = gold.count()
    n_hit = got.join(gold, ["subj", "pred", "obj"]).count()
    p = n_hit / n_got if n_got else 0.0
    r = n_hit / n_gold if n_gold else 0.0
    f1 = 2 * p * r / (p + r) if (p + r) else 0.0
    return {"precision": p, "recall": r, "f1": f1,
            "n_got": n_got, "n_gold": n_gold, "n_hit": n_hit}
