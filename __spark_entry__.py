"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship KG-construction query on sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2).
``oracle_sql()`` — DuckDB-equivalent SQL for the SQL-expressible ones.

Column names are aliased identically on both sides; doubles are rounded
before comparison (Spark/DuckDB render & accumulate differently).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from redisgraph_bulk_loader_spark.functions.text import (
    doc_fingerprint,
    language_id,
    quality_score,
    token_count,
)
from redisgraph_bulk_loader_spark.ids import assign_dense_ids, build_node_registry
from redisgraph_bulk_loader_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_dup_pairs,
)
from redisgraph_bulk_loader_spark.operators.endpoints import resolve_endpoints
from redisgraph_bulk_loader_spark.operators.similarity import (
    brute_force_topk,
    lsh_bucketed_topk,
)
from redisgraph_bulk_loader_spark.operators.skew import two_phase_count
from redisgraph_bulk_loader_spark.streaming.stream import sessionize_events


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# entry: flagship query at sf0.001
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build a small KG from the star schema (customers and
    suppliers as nodes, customer->nation residence edges), resolve
    endpoints through the dense node registry, and aggregate triples
    per nation — exercises registry build, dense IDs, broadcast
    endpoint join, and skew-safe counting in one plan."""
    sf_dir = "/root/testdata/sf0.001"
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")

    nodes = (
        customer.select(F.concat(F.lit("c"), "c_custkey").alias("ext_id"),
                        F.lit("customer").alias("label"))
        .unionByName(
            supplier.select(F.concat(F.lit("s"), "s_suppkey").alias("ext_id"),
                            F.lit("supplier").alias("label"))
        )
        .unionByName(
            nation.select(F.concat(F.lit("n"), "n_nationkey").alias("ext_id"),
                          F.lit("nation").alias("label"))
        )
    )
    registry = build_node_registry(nodes, ["ext_id"], ["label", "ext_id"])
    edges = customer.select(
        F.concat(F.lit("c"), "c_custkey").alias("src_id"),
        F.concat(F.lit("n"), "c_nationkey").alias("dst_id"),
        F.lit("LIVES_IN").alias("rel_type"),
    ).unionByName(
        supplier.select(
            F.concat(F.lit("s"), "s_suppkey").alias("src_id"),
            F.concat(F.lit("n"), "s_nationkey").alias("dst_id"),
            F.lit("BASED_IN").alias("rel_type"),
        )
    )
    resolved = resolve_endpoints(edges, registry, skip_invalid=False)
    return (
        resolved.join(
            F.broadcast(nation.select(
                F.concat(F.lit("n"), "n_nationkey").alias("dst_id"), "n_name")),
            "dst_id",
        )
        .groupBy("n_name", "rel_type")
        .agg(F.count("*").alias("n_edges"))
        .orderBy("n_name", "rel_type")
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_kg_triples(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return customer.join(F.broadcast(nation),
                         customer.c_nationkey == nation.n_nationkey).select(
        F.col("c_name").alias("subj"),
        F.lit("IN_NATION").alias("pred"),
        F.col("n_name").alias("obj"),
    )


def _q_kg_node_ids(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    nodes = customer.select(
        F.col("c_name").alias("ext_id"), F.lit("customer").alias("label")
    ).unionByName(
        supplier.select(F.col("s_name").alias("ext_id"),
                        F.lit("supplier").alias("label"))
    )
    return assign_dense_ids(nodes, ["label", "ext_id"]).select(
        "label", "ext_id", "internal_id"
    )


def _q_kg_endpoint_resolution(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    registry = build_node_registry(
        customer.select(F.col("c_custkey").cast("string").alias("ext_id")),
        ["ext_id"],
        ["ext_id"],
    )
    # order->customer edges; self-loop dst (order keyed to same customer)
    edges = orders.select(
        F.col("o_custkey").cast("string").alias("src_id"),
        F.col("o_custkey").cast("string").alias("dst_id"),
        F.col("o_orderkey").alias("edge_key"),
    )
    return resolve_endpoints(edges, registry, skip_invalid=True).select(
        "edge_key", "src_internal", "dst_internal"
    )


def _q_kg_invalid_edges(spark, sf_dir):
    """Anti-join: edges whose endpoint is missing from a filtered
    registry (reference skip_invalid_edges accounting)."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    registry = customer.filter(F.col("c_custkey") % 3 != 0).select(
        F.col("c_custkey").alias("ext_id")
    )
    return (
        orders.join(registry, orders.o_custkey == registry.ext_id, "left_anti")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_dropped"))
    )


def _q_kg_pred_counts(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return two_phase_count(orders, ["o_orderstatus"], count_col="n")


def _q_kg_last_wins(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderkey").desc())
    return (
        orders.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("o_custkey", F.col("o_orderkey").alias("latest_orderkey"))
    )


def _q_kg_ns_prefix(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    return customer.select(
        F.concat_ws(".", F.lit("CUST"), F.col("c_custkey")).alias("ns_id"),
        F.col("c_name").alias("name"),
    )


def _q_tpch_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


def _q_doc_tokens(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars_calc"),
    )


def _q_doc_quality(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score(F.col("text")).alias("quality"))


def _q_doc_langid(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", language_id(F.col("text")).alias("lang_guess"))


def _q_doc_fingerprint(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", doc_fingerprint(F.col("text")).alias("fp"))


def _q_dedup_exact(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, "doc_id", "text").select("doc_id")


def _q_dedup_ngram_jaccard(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5
    ).select("id_a", "id_b", F.round("jaccard_sim", 6).alias("jsim"))


def _q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash banding + exact-Jaccard verification in portable mode
    (md5-prefix seed-mix hashes, string band buckets): the DuckDB
    oracle reproduces the exact signatures/buckets/candidates, so
    equality is dataset-independent (banding misses included) rather
    than a recall gamble."""
    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_dedup_pairs(
        docs, "doc_id", "text", threshold=0.5, portable=True
    ).select("id_a", "id_b", F.round("jaccard_sim", 6).alias("jsim"))


def _q_dedup_simhash(spark, sf_dir):
    """SimHash near-dup with the portable (md5-prefix) token hash so
    the DuckDB oracle reproduces the exact bits, bands, and pair set —
    the oracle replicates the algorithm, banding misses included."""
    docs = _t(spark, sf_dir, "documents")
    return simhash_dup_pairs(
        docs, "doc_id", "text", max_hamming=6, portable_hash=True
    ).select("id_a", "id_b", "hamming")


def _q_ann_brute_force(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 3)
    return brute_force_topk(emb, queries, k=5).select(
        "query_id", "neighbor_id", "rank"
    )


def _q_ann_lsh(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 3)
    return lsh_bucketed_topk(emb, queries, k=5, bits=6, probe_bits=6).select(
        "query_id", "neighbor_id", "rank"
    )


def _q_ann_ivf(spark, sf_dir):
    """IVF coarse-quantizer ANN: deterministic SQL-expressible training
    (init = lowest-id vectors, one Lloyd step), per-cell candidate
    join, exact cosine rerank. The oracle reproduces the training,
    assignment, probing, and rerank exactly — no recall gamble."""
    from redisgraph_bulk_loader_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 3)
    return ivf_topk(emb, queries, k=5, n_centroids=16, n_probe=4).select(
        "query_id", "neighbor_id", "rank"
    )


def _q_kg_salted_join(spark, sf_dir):
    """Skew-path endpoint join (salted, non-broadcast) must equal the
    plain join the oracle runs."""
    from redisgraph_bulk_loader_spark.operators.skew import salted_join

    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    joined = salted_join(
        orders.select("o_orderkey", "o_custkey"),
        customer.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey"),
        ["o_custkey"],
        salt=8,
    )
    return joined.groupBy("c_nationkey").agg(F.count("*").alias("n_orders"))


def _q_kg_connected_components(spark, sf_dir):
    """Distributed large-star/small-star CC over a deterministic
    nontrivial graph (orders modulo-hash edges). driver_threshold=0
    forces the distributed loop so the oracle (DuckDB recursive
    transitive closure) checks the iterative algorithm, not the
    driver union-find shortcut."""
    from redisgraph_bulk_loader_spark.canon import connected_components

    orders = _t(spark, sf_dir, "orders")
    edges = orders.filter(F.col("o_orderkey") < 500).select(
        (F.col("o_orderkey") % 97).cast("long").alias("u"),
        (F.col("o_custkey") % 89 + 100).cast("long").alias("v"),
    )
    return connected_components(edges, driver_threshold=0).select(
        "node", F.col("component").alias("comp")
    )


def _q_kg_incremental_merge(spark, sf_dir):
    """Incremental MERGE semantics (S5 / reference bulk_update row
    application) as a driver oracle: an existing node table (customers
    with c_custkey % 4 != 0 — so every 4th customer's update is an
    INSERT) upserted with one proposed update per order row, last
    occurrence by file order (o_orderkey) winning per key — exactly the
    reference's strictly-in-file-order row application
    (bulk_update.py:106-119). Keys without updates keep their original
    row; acctbal/name ride through untouched so the hash compares raw
    doubles bit-for-bit."""
    from redisgraph_bulk_loader_spark.streaming.stream import (
        incremental_graph_update,
    )

    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    existing = customer.filter(F.col("c_custkey") % 4 != 0).select(
        F.col("c_custkey").alias("ext_id"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
    )
    updates = orders.select(
        F.col("o_custkey").alias("ext_id"),
        F.concat(
            F.lit("upd-"), F.col("o_orderkey").cast("string")
        ).alias("name"),
        F.col("o_totalprice").alias("acctbal"),
        F.col("o_orderkey").alias("row_idx"),
    )
    return incremental_graph_update(
        existing, updates, ["ext_id"], order_col="row_idx"
    )


def _q_kg_alias_link(spark, sf_dir):
    """Alias-dictionary linking (J3) as a driver oracle: an alias dict
    synthesized from customer names with case / dot / whitespace
    perturbations PLUS a deliberate ambiguous second mapping per
    surface ('d:<k>' vs 'c:<k>' — the deterministic min-by-canonical
    pick must win), resolved against a mention stream from orders where
    every 4th mention is an unresolvable surface (stays null for the
    LSH stage). The oracle re-implements normalize_surface in SQL
    (lower/trim -> strip dots -> collapse whitespace)."""
    from redisgraph_bulk_loader_spark.link.alias import link_mentions

    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    ck = F.col("c_custkey").cast("string")
    aliases = customer.select(
        F.upper("c_name").alias("surface"),
        F.concat(F.lit("c:"), ck).alias("canonical_id"),
    ).unionByName(
        customer.select(
            F.concat(
                F.lit("  "), F.regexp_replace("c_name", "#", ".#"), F.lit(" ")
            ).alias("surface"),
            F.concat(F.lit("d:"), ck).alias("canonical_id"),
        )
    )
    mentions = orders.join(
        F.broadcast(customer.select("c_custkey", "c_name")),
        orders.o_custkey == F.col("c_custkey"),
    ).select(
        F.col("o_orderkey").alias("mention_id"),
        F.concat(F.upper("c_name"), F.lit(" ")).alias("subj_surface"),
        F.when(
            F.col("o_orderkey") % 4 == 0,
            F.concat(F.lit("nobody "), F.col("o_orderkey").cast("string")),
        ).otherwise(F.regexp_replace("c_name", "#", ".#")).alias("obj_surface"),
    )
    return link_mentions(mentions, aliases).select(
        "mention_id", "subj_cid", "obj_cid"
    )


def _q_media_features(spark, sf_dir):
    """Multimodal plumbing with an exact oracle over every
    SQL-derivable surface: mime/size metadata of the binary payloads
    and the 1->N frame-sampling fan-out. The stub decode FEATURES are
    pinned by pytest instead (DuckDB 1.0 cannot sha256 a BLOB, and a
    golden of our own stub output would be circular)."""
    from redisgraph_bulk_loader_spark.operators.multimodal import (
        extract_media_features,
        sample_frames,
        synthesize_media,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    refs = docs.select(
        F.concat(F.lit("img://doc/"), F.col("doc_id").cast("string")).alias(
            "media_ref"
        )
    )
    media = synthesize_media(spark, refs)
    feats = extract_media_features(media).select("media_ref", "mime", "n_bytes")
    frames = sample_frames(media).groupBy("media_ref").agg(
        F.count("*").alias("n_frames")
    )
    return feats.join(frames, "media_ref", "left").select(
        "media_ref", "mime", "n_bytes",
        F.coalesce("n_frames", F.lit(0)).alias("n_frames"),
    )


def _q_corpus_curation(spark, sf_dir):
    """Composed training-data curation pass (quality gate AND language
    gate AND token bounds AND exact-dedup survivorship) in one plan —
    the filter chain a pretraining pipeline actually runs. Every gate
    is individually oracled elsewhere; this entry oracles their
    CONJUNCTION, including the survivor semi-join."""
    from redisgraph_bulk_loader_spark.operators.curation import (
        curate_corpus,
    )

    docs = _t(spark, sf_dir, "documents")
    return curate_corpus(
        docs, min_quality=0.5, languages=("latin",),
        min_tokens=5, max_tokens=10_000, dedup="exact",
    )


def _q_corpus_curation_rep(spark, sf_dir):
    """The curation conjunction with the repetitious-document gate
    composed in (operators/curation.py curate_corpus
    max_dup_gram_frac): scalar gates -> drop documents whose repeated
    word-2-gram char mass exceeds 8% of their 2-gram mass
    (repetition_stats semantics, computed over scalar-gate passers
    only) -> exact-dedup survivorship over the docs passing BOTH. The
    threshold splits the sf corpus non-trivially (p75 of the dup-mass
    fraction is ~0.09)."""
    from redisgraph_bulk_loader_spark.operators.curation import (
        curate_corpus,
    )

    docs = _t(spark, sf_dir, "documents")
    return curate_corpus(
        docs, min_quality=0.5, languages=("latin",),
        min_tokens=5, max_tokens=10_000, dedup="exact",
        max_dup_gram_frac=0.08, rep_ngram=2,
    )


def _q_media_near_dup(spark, sf_dir):
    """Frame-hash Jaccard near-dup over media with planted duplicate
    groups (VERDICT r3 #8): for every synthesized audio object, an
    exact copy ('#d' — Jaccard 1.0 with the original) and a shortened
    copy ('#s' — duration clamped to one frame, Jaccard 1/n_frames).
    The Spark side hashes frame BYTES (sha2) and joins digests; the
    oracle reproduces the same frame sets as HEX SUBSTRINGS of the
    payload hex (byte-slice equality == hex-slice equality, and the
    digests never surface in the output), making the whole
    fan-out/inverted-index/Jaccard path SQL-checkable."""
    from redisgraph_bulk_loader_spark.operators.multimodal import (
        media_near_dup_pairs,
        synthesize_media,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    refs = docs.select(
        F.concat(F.lit("img://doc/"), F.col("doc_id").cast("string")).alias(
            "media_ref"
        )
    )
    media = synthesize_media(spark, refs)
    dup = media.withColumn(
        "media_ref", F.concat(F.col("media_ref"), F.lit("#d")))
    short = media.withColumn(
        "media_ref", F.concat(F.col("media_ref"), F.lit("#s"))
    ).withColumn(
        "duration_ms",
        F.when(F.col("duration_ms").isNotNull(), F.lit(1000))
        .otherwise(F.lit(None)).cast("int"),
    )
    all_media = media.unionByName(dup).unionByName(short)
    return media_near_dup_pairs(all_media, threshold=0.3)


def _q_doc_bpe_tokens(spark, sf_dir):
    from redisgraph_bulk_loader_spark.functions.text import bpe_ish_token_count

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens")
    )


def _q_kg_loader_types(spark, sf_dir):
    """The heart of the reference: per-cell type inference + loader
    lifecycle over a committed mixed-type fixture CSV (int64-overflow
    -> double, float forms, bool case-insensitivity, array literal
    parse + fallthrough-to-string, quote-literal strings, null drop —
    entity_file.py:49-176 semantics). Oracle = committed golden parquet
    of the hand-derived expected output."""
    from redisgraph_bulk_loader_spark.config import Config
    from redisgraph_bulk_loader_spark.plans.loader import bulk_insert

    g = bulk_insert(
        spark,
        [("/root/repo/tests/fixtures/typed_nodes.csv", "TypedNode")],
        (),
        Config(separator="|"),
    )
    return g.nodes.select("internal_id", "key", "props_json")


def _q_kg_loader_enforced(spark, sf_dir):
    """Enforced-schema loader lifecycle over committed fixtures — the
    remaining loader semantics the driver never touched
    (entity_file.py:256-298, relation_type.py:33-54): declared types
    with casts, ID namespaces, a *named* ID column stored as a
    property, a relation file resolving through the namespaced
    registry to dense internal ids, and an id_type=INTEGER run with a
    nameless ID column. Oracle = committed golden parquet of the
    hand-derived expected output (tools/make_enforced_golden.py
    asserts engine == hand-derived literals, then writes the golden
    from the literals — non-circular)."""
    from pyspark.sql.types import LongType

    from redisgraph_bulk_loader_spark.config import Config
    from redisgraph_bulk_loader_spark.plans.loader import bulk_insert

    fix = "/root/repo/tests/fixtures"
    a = bulk_insert(
        spark,
        [(f"{fix}/enforced_people.csv", "Person")],
        [(f"{fix}/enforced_knows.csv", "KNOWS")],
        Config(separator="|", enforce_schema=True),
    )
    b = bulk_insert(
        spark,
        [(f"{fix}/enforced_items.csv", "Item")],
        (),
        Config(separator="|", enforce_schema=True, id_type="INTEGER"),
    )
    # sentinels, not NULLs: the driver compares rows order-
    # insensitively by sorting, and NULLs don't sort against ints
    null_l = F.lit(-1).cast(LongType())
    null_s = F.lit("")
    nodes_a = a.nodes.select(
        F.lit("people_nodes").alias("part"), "internal_id", "key",
        "props_json", null_l.alias("src_internal"),
        null_l.alias("dst_internal"), null_s.alias("rel_type"),
    )
    edges_a = a.edges.select(
        F.lit("knows_edges").alias("part"), null_l.alias("internal_id"),
        null_s.alias("key"), "props_json", "src_internal", "dst_internal",
        "rel_type",
    )
    nodes_b = b.nodes.select(
        F.lit("int_nodes").alias("part"), "internal_id", "key",
        "props_json", null_l.alias("src_internal"),
        null_l.alias("dst_internal"), null_s.alias("rel_type"),
    )
    return nodes_a.unionByName(edges_a).unionByName(nodes_b)


def _q_ann_self_join(spark, sf_dir):
    """Embedding near-dup pairs (corpus-vs-corpus, banded hyperplane
    self-join + exact cosine verify). Near-copies are planted by
    scaling 50 vectors (sign patterns are scale-invariant, so banding
    recall on them is exactly 1); the oracle is an algorithm twin —
    the SAME seeded hyperplanes, banding, and cosine verification
    reproduced in SQL — so equality is dataset-independent (banding
    misses reproduce identically on both sides)."""
    from redisgraph_bulk_loader_spark.operators.similarity import (
        ann_self_join_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    copies = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.01)).alias("embedding"),
    )
    corpus = emb.unionByName(copies)
    return ann_self_join_pairs(corpus, threshold=0.9).select(
        "id_a", "id_b", F.round("cos_sim", 6).alias("csim")
    )


def _q_emb_dedup_clusters(spark, sf_dir):
    """Embedding-cosine near-dup ASSIGNMENT (the vector twin of
    dedup_clusters): ann_self_join_pairs candidates + exact-cosine
    verify -> connected components -> min-id survivor per cluster,
    identity for vectors in no pair. Same extended corpus as
    ann_self_join (base + 1.01-scaled copies), so the oracle is the
    same algorithm-twin pair SQL wrapped in a recursive-CTE closure —
    dataset-independent equality."""
    from redisgraph_bulk_loader_spark.operators.dedup import (
        embedding_dedup_assignments,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    copies = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.01)).alias("embedding"),
    )
    corpus = emb.unionByName(copies)
    return embedding_dedup_assignments(corpus, threshold=0.9)


def _q_dedup_clusters(spark, sf_dir):
    """Full dedup composition: minhash near-dup pairs -> connected
    components -> survivor (min id) per cluster, identity for docs in
    no pair — the 100 TB scale path, run in portable-hash mode so the
    oracle (recursive-CTE closure over the SAME portable-minhash
    verified pair set) matches by algorithm, banding misses included,
    not by dataset recall."""
    from redisgraph_bulk_loader_spark.operators.dedup import (
        dedup_assignments,
    )

    docs = _t(spark, sf_dir, "documents")
    return dedup_assignments(docs, "doc_id", "text", threshold=0.5,
                             method="minhash", portable=True)


def _q_events_sessionize(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    s = sessionize_events(events, gap_minutes=30)
    return s.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


def _q_events_windowed(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type", "n", "sum_value",
        )
    )


def _q_mix_hash_sample(spark, sf_dir):
    """Deterministic hash-Bernoulli sampling (operators/mixing.py
    hash_sample): keep documents with md5(doc_id) below the 25%
    threshold. A pure function of the row key — reruns/backfills draw
    the identical sample, unlike rand()-based DataFrame.sample. The
    oracle is the literal same predicate (lowercase-hex string compare
    is engine-identical)."""
    from redisgraph_bulk_loader_spark.operators.mixing import hash_sample

    docs = _t(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", 0.25).select(
        "doc_id", "lang", "source", "n_chars"
    )


def _q_mix_stratified_quota(spark, sf_dir):
    """Per-source quota enforcement for a data-mixing recipe
    (operators/mixing.py stratified_quota_sample): deterministically
    keep the 15 smallest md5(source:doc_id) documents per source.
    Spark runs the two-phase (salted) exact top-k; the oracle is the
    single-window definition — their equality IS the exactness check
    for the distributed decomposition."""
    from redisgraph_bulk_loader_spark.operators.mixing import (
        stratified_quota_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    return stratified_quota_sample(docs, "source", "doc_id", 15).select(
        "doc_id", "source"
    )


def _q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (operators/mixing.py decontaminate):
    documents with doc_id % 37 == 0 play the eval set; every remaining
    corpus document is flagged iff it shares any alphanumeric word
    5-gram with the eval set, with the distinct-hit-gram count. Only
    (doc_id, md5(gram)) rides the shuffle; the benchmark gram set
    broadcasts."""
    from redisgraph_bulk_loader_spark.operators.mixing import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    corpus = docs.filter(F.col("doc_id") % 37 != 0)
    return decontaminate(corpus, bench, "doc_id", "text", n=5, mode="flag")


def _q_mix_token_budget(spark, sf_dir):
    """Per-source token-budget fill (operators/mixing.py
    token_budget_sample): walk each source in md5(source:doc_id) order
    and keep documents while the running n_chars sum stays <= 2000 —
    the "N tokens per source" step of a mixing recipe. Spark runs the
    two-phase salted decomposition; the oracle is the definitional
    single-window running-sum cut, so their hash equality proves the
    decomposition exact on real data."""
    from redisgraph_bulk_loader_spark.operators.mixing import (
        token_budget_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    return token_budget_sample(
        docs, "source", "doc_id", "n_chars", 2000
    ).select("doc_id", "source", "n_chars")


def _q_dedup_lines_global(spark, sf_dir):
    """Corpus-wide line dedup / boilerplate removal (operators/dedup.py
    dedup_lines): every document is laid out as two 40-char content
    lines plus a shared footer line (pure column concat, same
    expression in the oracle); a non-blank line survives only at its
    corpus-first (doc, position) occurrence, and documents are rebuilt
    row-locally from their removed-position sets — text never rides a
    shuffle. The footer must survive exactly once; colliding content
    slices dedup too. The oracle is the definitional
    window-rank-over-line form; the rebuilt text rides the value
    hash."""
    from redisgraph_bulk_loader_spark.operators.dedup import dedup_lines

    docs = _t(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40),
            F.lit("\n"),
            F.substring("text", 41, 40),
            F.lit("\n"),
            F.lit("shared boilerplate footer line"),
        ).alias("text"),
    )
    return dedup_lines(planted, "doc_id", "text")


def _q_boilerplate_lines(spark, sf_dir):
    """Boilerplate discovery (operators/dedup.py boilerplate_lines):
    over the same planted layout as dedup_lines_global (two 40-char
    content slices + a shared footer per doc), report the 50 most
    widespread non-blank lines with document reach and occurrence
    counts — the audit a curation engineer runs before enabling line
    dedup. The top-k cut tie-breaks on md5(line) in BOTH engines; the
    global top-k runs as TakeOrdered (no global sort shuffle)."""
    from redisgraph_bulk_loader_spark.operators.dedup import (
        boilerplate_lines,
    )

    docs = _t(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40),
            F.lit("\n"),
            F.substring("text", 41, 40),
            F.lit("\n"),
            F.lit("shared boilerplate footer line"),
        ).alias("text"),
    )
    return boilerplate_lines(planted, "doc_id", "text", k=50, min_docs=2)


def _q_doc_pii_redact(spark, sf_dir):
    """PII scrubbing (functions/text.py redact_pii / pii_count): plant
    a deterministic email + phone + IPv4 into every document (pure
    column concat — same expression in the oracle), then run the
    staged redaction chain (email -> ipv4 -> phone, counts taken at
    each stage on the already-partially-redacted text). Everything is
    codegen regexp_replace/extract_all at scan speed; the patterns are
    restricted to the Java-regex/RE2 common subset so the oracle twin
    is the byte-identical definitional chain — the full redacted
    string rides the value hash."""
    from redisgraph_bulk_loader_spark.functions.text import (
        pii_count,
        redact_pii,
    )

    docs = _t(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com tel +1 555-010-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit(" ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".17"),
        ).alias("_t"),
    )
    s1 = planted.select(
        "doc_id",
        pii_count(F.col("_t"), "email").alias("n_email"),
        redact_pii(F.col("_t"), ("email",)).alias("_t"),
    )
    s2 = s1.select(
        "doc_id",
        "n_email",
        pii_count(F.col("_t"), "ipv4").alias("n_ipv4"),
        redact_pii(F.col("_t"), ("ipv4",)).alias("_t"),
    )
    return s2.select(
        "doc_id",
        "n_email",
        "n_ipv4",
        pii_count(F.col("_t"), "phone").alias("n_phone"),
        redact_pii(F.col("_t"), ("phone",)).alias("redacted"),
    )


def _q_doc_repetition(spark, sf_dir):
    """Per-document repetition signals (operators/curation.py
    repetition_stats): exact integer counters for duplicated lines and
    repeated word 1-/5-grams — the "repetitious document" curation
    gate. Spark explodes hashed units ((id, md5(unit), len) is all
    that shuffles) through two skew-free groupBys; the oracle is the
    definitional unnest/group form, list-sliced for the 5-grams (RE2
    has no lookahead), so hash equality also re-proves the lookahead
    gram extractor."""
    from redisgraph_bulk_loader_spark.operators.curation import (
        repetition_stats,
    )

    docs = _t(spark, sf_dir, "documents")
    return repetition_stats(docs, "doc_id", "text", ngram_ns=(1, 5))


def _q_mix_proportions(spark, sf_dir):
    """Per-source proportional sampling (operators/mixing.py
    proportional_sample): the "keep 100% of src0, 60% of src1, 25% of
    src2, 5% of src3, default 50% elsewhere" mixing-recipe draw in
    one scan — a broadcast recipe dim maps each source to its own
    md5 threshold. The oracle is the literal same per-source
    threshold predicate (lowercase-hex compare is engine-identical),
    so the hash check proves threshold routing AND the default
    fallback."""
    from redisgraph_bulk_loader_spark.operators.mixing import (
        proportional_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    return proportional_sample(
        docs,
        "source",
        "doc_id",
        {"src0": 1.0, "src1": 0.6, "src2": 0.25, "src3": 0.05},
        default_fraction=0.5,
    ).select("doc_id", "source", "n_chars")


def _q_mix_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing (operators/mixing.py
    pack_sequences): lay every document end to end in md5(doc_id)
    order and cut 2048-char training windows; emit each document's
    placement (offset, first/last window, boundary-straddle flag).
    Spark runs the hash-prefix bucket decomposition of the global
    running sum (no single-reducer sort); the oracle is the
    definitional one-window layout — hash equality proves the
    distributed prefix sum exact."""
    from redisgraph_bulk_loader_spark.operators.mixing import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    return pack_sequences(docs, "doc_id", "n_chars", 2048)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "kg_triples": _q_kg_triples,
        "kg_node_ids": _q_kg_node_ids,
        "kg_endpoint_resolution": _q_kg_endpoint_resolution,
        "kg_invalid_edges": _q_kg_invalid_edges,
        "kg_pred_counts": _q_kg_pred_counts,
        "kg_last_wins": _q_kg_last_wins,
        "kg_ns_prefix": _q_kg_ns_prefix,
        "tpch_q1": _q_tpch_q1,
        "doc_tokens": _q_doc_tokens,
        "doc_quality": _q_doc_quality,
        "doc_langid": _q_doc_langid,
        "doc_fingerprint": _q_doc_fingerprint,
        "dedup_exact": _q_dedup_exact,
        "dedup_ngram_jaccard": _q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": _q_dedup_minhash_lsh,
        "dedup_simhash": _q_dedup_simhash,
        "ann_brute_force": _q_ann_brute_force,
        "ann_lsh": _q_ann_lsh,
        "ann_ivf": _q_ann_ivf,
        "events_sessionize": _q_events_sessionize,
        "events_windowed": _q_events_windowed,
        "kg_salted_join": _q_kg_salted_join,
        "kg_connected_components": _q_kg_connected_components,
        "kg_alias_link": _q_kg_alias_link,
        "kg_incremental_merge": _q_kg_incremental_merge,
        "kg_loader_types": _q_kg_loader_types,
        "kg_loader_enforced": _q_kg_loader_enforced,
        "ann_self_join": _q_ann_self_join,
        "dedup_clusters": _q_dedup_clusters,
        "emb_dedup_clusters": _q_emb_dedup_clusters,
        "media_features": _q_media_features,
        "media_near_dup": _q_media_near_dup,
        "corpus_curation": _q_corpus_curation,
        "corpus_curation_rep": _q_corpus_curation_rep,
        "doc_bpe_tokens": _q_doc_bpe_tokens,
        "mix_hash_sample": _q_mix_hash_sample,
        "mix_stratified_quota": _q_mix_stratified_quota,
        "mix_token_budget": _q_mix_token_budget,
        "mix_pack_sequences": _q_mix_pack_sequences,
        "mix_proportions": _q_mix_proportions,
        "doc_repetition": _q_doc_repetition,
        "doc_pii_redact": _q_doc_pii_redact,
        "dedup_lines_global": _q_dedup_lines_global,
        "boilerplate_lines": _q_boilerplate_lines,
        "decontaminate": _q_decontaminate,
    }


# ---------------------------------------------------------------------------
# oracles (DuckDB SQL on the same parquet views)
# ---------------------------------------------------------------------------

_STOPWORDS_SQL = "['the','a','an','of','to','and','in','is','for','on','with','that','as','at','by','it']"

_EXACT_JACCARD_PAIRS_SQL = r"""
    WITH sh AS (
      SELECT DISTINCT doc_id AS id, unnest(ngrams) AS sh FROM (
        SELECT doc_id,
               list_distinct([
                 array_to_string(toks[i:i+2], ' ')
                 FOR i IN range(1, GREATEST(len(toks) - 2, 1) + 1)
               ]) AS ngrams
        FROM (SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\s+') AS toks
              FROM documents))
    ),
    sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
      GROUP BY a.id, b.id
    )
    SELECT id_a, id_b,
           ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jsim
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5
"""


def _ann_lsh_oracle_sql() -> str:
    """DuckDB twin of lsh_bucketed_topk(bits=6, probe_bits=6, seed=42):
    the SAME hyperplane constants (regenerated from the shared seeded
    generator) drive signature/bucket computation SQL-side, so the
    oracle checks the LSH algorithm itself, not a recall gamble."""
    from redisgraph_bulk_loader_spark.operators.similarity import (
        _random_planes,
    )

    planes = _random_planes(64, 6, 42)
    plane_rows = ",\n".join(
        f"({b}, [{', '.join(repr(x) for x in p)}])"
        for b, p in enumerate(planes)
    )
    probe_rows = ",".join(f"({0 if i < 0 else 1 << i})" for i in range(-1, 6))
    return f"""
        WITH planes(bit, plane) AS (VALUES {plane_rows}),
        vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        sigs AS (
          SELECT vec_id,
                 CAST(SUM(CASE WHEN list_inner_product(v, plane) > 0
                          THEN 1 << bit ELSE 0 END) AS BIGINT) AS sig
          FROM vecs, planes GROUP BY vec_id
        ),
        corpus AS (
          SELECT s.vec_id AS neighbor_id, s.sig AS bucket, v.v AS cv
          FROM sigs s JOIN vecs v USING (vec_id)
        ),
        probes(flip) AS (VALUES {probe_rows}),
        q AS (
          SELECT s.vec_id AS query_id, xor(s.sig, p.flip) AS bucket, v.v AS qv
          FROM sigs s JOIN vecs v USING (vec_id) CROSS JOIN probes p
          WHERE s.vec_id < 3
        ),
        scored AS (
          SELECT q.query_id, c.neighbor_id,
                 list_inner_product(q.qv, c.cv)
                   / (sqrt(list_inner_product(q.qv, q.qv))
                      * sqrt(list_inner_product(c.cv, c.cv))) AS cs
          FROM q JOIN corpus c USING (bucket)
          WHERE q.query_id <> c.neighbor_id
        )
        SELECT query_id, neighbor_id, rank FROM (
          SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cs DESC, neighbor_id) AS rank
          FROM scored) WHERE rank <= 5
    """


def _minhash_ctes(threshold: float = 0.5) -> str:
    """Shared CTE block: DuckDB twin of
    minhash_lsh_dedup_pairs(portable=True, n=3) under the shared
    MINHASH_NUM_HASHES=32 / MINHASH_BANDS=8 geometry — the SAME
    md5-prefix base hash, (a*h+b) mod 2^31-1 seed mix, 8x4 string band
    buckets, and exact-Jaccard verification, so the pair set matches
    the engine's by algorithm (banding misses reproduce identically)."""
    from redisgraph_bulk_loader_spark.functions.hashing import (
        MINHASH_P,
        minhash_params,
    )

    params = ",".join(
        f"({j}, {a}, {b})" for j, (a, b) in enumerate(minhash_params(32))
    )
    return rf"""
      params(j, a, b) AS (VALUES {params}),
      sh AS (
        SELECT DISTINCT doc_id AS id, unnest(ngrams) AS sh FROM (
          SELECT doc_id,
                 list_distinct([
                   array_to_string(toks[i:i+2], ' ')
                   FOR i IN range(1, GREATEST(len(toks) - 2, 1) + 1)
                 ]) AS ngrams
          FROM (SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\s+') AS toks
                FROM documents))
      ),
      based AS (
        SELECT id, sh,
               ('0x' || substr(md5(sh), 1, 15))::BIGINT % {MINHASH_P} AS hm
        FROM sh
      ),
      mh AS (
        SELECT id, j, MIN((a * hm + b) % {MINHASH_P}) AS v
        FROM based, params GROUP BY id, j
      ),
      sigs AS (SELECT id, list(v ORDER BY j) AS sig FROM mh GROUP BY id),
      bands(band) AS (VALUES (0),(1),(2),(3),(4),(5),(6),(7)),
      banded AS (
        SELECT id, band,
               array_to_string(sig[band*4+1 : band*4+4], ',') AS bucket
        FROM sigs CROSS JOIN bands
      ),
      cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
      ),
      sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
      inter AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS i
        FROM cand c
        JOIN sh a ON a.id = c.id_a
        JOIN sh b ON b.id = c.id_b AND b.sh = a.sh
        GROUP BY c.id_a, c.id_b
      ),
      verified AS (
        SELECT c.id_a, c.id_b,
               CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i) AS jsim
        FROM cand c
        JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
        JOIN sizes sa ON sa.id = c.id_a
        JOIN sizes sb ON sb.id = c.id_b
        WHERE CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i) >= {threshold}
      )
    """


def _minhash_pairs_oracle_sql(threshold: float = 0.5) -> str:
    return f"""
        WITH {_minhash_ctes(threshold)}
        SELECT id_a, id_b, ROUND(jsim, 6) AS jsim FROM verified
    """


def _minhash_clusters_oracle_sql(threshold: float = 0.5) -> str:
    """Recursive-CTE transitive closure over the portable-minhash
    verified pair set — the dedup_assignments composition twin."""
    return f"""
        WITH RECURSIVE {_minhash_ctes(threshold)},
        sym AS (
          SELECT id_a AS u, id_b AS v FROM verified
          UNION SELECT id_b, id_a FROM verified
        ),
        reach(a, b) AS (
          SELECT u, v FROM sym
          UNION
          SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u
        ),
        rep AS (SELECT a AS id, LEAST(a, MIN(b)) AS r
                FROM reach GROUP BY a)
        SELECT d.doc_id, COALESCE(rep.r, d.doc_id) AS rep_id
        FROM documents d LEFT JOIN rep ON rep.id = d.doc_id
    """


def _ann_self_join_ctes() -> str:
    """Shared CTE chain of the ann_self_join twins: seeded hyperplane
    constants -> signatures -> 4x8-bit banding -> candidate self-join
    -> exact-cosine ``verified(id_a, id_b, cs)`` over the extended
    corpus (base + 1.01-scaled copies of vec_id < 50)."""
    from redisgraph_bulk_loader_spark.operators.similarity import (
        _random_planes,
    )

    planes = _random_planes(64, 32, 42)
    plane_rows = ",\n".join(
        f"({b}, [{', '.join(repr(x) for x in p)}])"
        for b, p in enumerate(planes)
    )
    return f"""planes(bit, plane) AS (VALUES {plane_rows}),
        base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        ext AS (
          SELECT vec_id, v FROM base
          UNION ALL
          SELECT vec_id + 100000, list_transform(v, x -> x * 1.01)
          FROM base WHERE vec_id < 50
        ),
        sigs AS (
          SELECT vec_id,
                 CAST(SUM(CASE WHEN list_inner_product(v, plane) > 0
                          THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT)
                   AS sig
          FROM ext, planes GROUP BY vec_id
        ),
        bands(band) AS (VALUES (0),(1),(2),(3)),
        banded AS (
          SELECT vec_id, band, (sig >> (band * 8)) & 255 AS bucket
          FROM sigs CROSS JOIN bands
        ),
        cand AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bucket = b.bucket
           AND a.vec_id < b.vec_id
        ),
        verified AS (
          SELECT id_a, id_b, cs FROM (
            SELECT c.id_a, c.id_b,
                   list_inner_product(ea.v, eb.v)
                     / (sqrt(list_inner_product(ea.v, ea.v))
                        * sqrt(list_inner_product(eb.v, eb.v))) AS cs
            FROM cand c
            JOIN ext ea ON ea.vec_id = c.id_a
            JOIN ext eb ON eb.vec_id = c.id_b)
          WHERE cs >= 0.9
        )"""


def _ann_self_join_oracle_sql() -> str:
    """DuckDB twin of ann_self_join_pairs(bits=32, bands=4, dim=64,
    seed=42, threshold=0.9): the SAME hyperplane constants drive
    signature/band/bucket computation SQL-side over the SAME extended
    corpus (base + 1.01-scaled copies), then exact cosine verifies —
    the oracle checks the banded-LSH algorithm itself, including any
    banding misses, so equality does not depend on dataset recall."""
    return f"""
        WITH {_ann_self_join_ctes()}
        SELECT id_a, id_b, ROUND(cs, 6) AS csim FROM verified
    """


def _emb_clusters_oracle_sql() -> str:
    """Recursive-CTE transitive closure over the ann_self_join verified
    pair set — the embedding_dedup_assignments composition twin
    (the vector analogue of _minhash_clusters_oracle_sql)."""
    return f"""
        WITH RECURSIVE {_ann_self_join_ctes()},
        sym AS (
          SELECT id_a AS u, id_b AS v FROM verified
          UNION SELECT id_b, id_a FROM verified
        ),
        reach(a, b) AS (
          SELECT u, v FROM sym
          UNION
          SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u
        ),
        rep AS (SELECT a AS id, LEAST(a, MIN(b)) AS r
                FROM reach GROUP BY a)
        SELECT e.vec_id, COALESCE(rep.r, e.vec_id) AS rep_id
        FROM ext e LEFT JOIN rep ON rep.id = e.vec_id
    """


def _ann_ivf_oracle_sql(k=5, m=16, probe=4, dim=64) -> str:
    """DuckDB twin of ivf_topk(n_centroids=16, n_probe=4): the SAME
    deterministic training (init = m lowest-id vectors re-keyed
    0..m-1, one Lloyd per-dimension-mean step), nearest-cell
    assignment (squared-L2 argmin, ties to the lowest cell), n_probe
    probing, and exact-cosine top-k rerank. Spark scores by
    v.c - ||c||^2/2 (argmax); the SQL orders by ||c||^2 - 2 v.c
    (argmin) — the identical ordering. Caveat shared by every
    float-twin oracle here: a vector whose two best distances differ
    by less than cross-engine rounding (numpy blocked matmul vs
    sequential SQL sums) could be assigned differently; verified
    stable on the driver corpora, and any future flip localizes to
    one assignment rather than invalidating the algorithm twin."""
    return f"""
        WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v
                      FROM embeddings),
        init AS (
          SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, v AS c
          FROM (SELECT vec_id, v FROM vecs ORDER BY vec_id LIMIT {m})
        ),
        a0 AS (
          SELECT vec_id, v, cell FROM (
            SELECT x.vec_id, x.v, i.cell,
                   ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
                     list_inner_product(i.c, i.c)
                       - 2 * list_inner_product(x.v, i.c),
                     i.cell) AS rn
            FROM vecs x CROSS JOIN init i) WHERE rn = 1
        ),
        cents AS (
          SELECT cell, list(m2 ORDER BY i) AS c FROM (
            SELECT cell, i, AVG(v[i]) AS m2
            FROM a0, range(1, {dim + 1}) t(i) GROUP BY cell, i)
          GROUP BY cell
        ),
        a1 AS (
          SELECT vec_id, v, cell FROM (
            SELECT x.vec_id, x.v, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
                     list_inner_product(c.c, c.c)
                       - 2 * list_inner_product(x.v, c.c),
                     c.cell) AS rn
            FROM vecs x CROSS JOIN cents c) WHERE rn = 1
        ),
        qp AS (
          SELECT query_id, qv, cell FROM (
            SELECT q.vec_id AS query_id, q.v AS qv, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                     list_inner_product(c.c, c.c)
                       - 2 * list_inner_product(q.v, c.c),
                     c.cell) AS rn
            FROM vecs q CROSS JOIN cents c WHERE q.vec_id < 3)
          WHERE rn <= {probe}
        ),
        scored AS (
          SELECT qp.query_id, a1.vec_id AS neighbor_id,
                 list_inner_product(qp.qv, a1.v)
                   / (sqrt(list_inner_product(qp.qv, qp.qv))
                      * sqrt(list_inner_product(a1.v, a1.v))) AS cs
          FROM qp JOIN a1 USING (cell)
          WHERE qp.query_id <> a1.vec_id
        )
        SELECT query_id, neighbor_id, rank FROM (
          SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cs DESC, neighbor_id) AS rank
          FROM scored) WHERE rank <= {k}
    """


def _simhash_oracle_sql() -> str:
    """DuckDB twin of simhash_dup_pairs(portable_hash=True,
    max_hamming=6): same md5-prefix 60-bit token hash, same 64 per-bit
    vote sums, same 4x16-bit banding and hamming verification."""
    votes = ",\n".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(64)
    )
    sim = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN (1::BIGINT << {b}) ELSE 0 END)"
        for b in range(64)
    )
    bands = "(0),(1),(2),(3)"
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
          FROM documents
        ),
        hashed AS (
          SELECT doc_id,
                 ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
          FROM toks
        ),
        votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id),
        sims AS (SELECT doc_id, {sim} AS simhash FROM votes),
        bands(band) AS (VALUES {bands}),
        banded AS (
          SELECT doc_id, simhash, band,
                 (simhash >> (band * 16)) & 65535 AS bucket
          FROM sims CROSS JOIN bands
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 bit_count(xor(a.simhash, b.simhash)) AS hamming
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bucket = b.bucket
           AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 6
    """


def oracle_sql() -> dict[str, str]:
    return {
        "kg_triples": """
            SELECT c.c_name AS subj, 'IN_NATION' AS pred, n.n_name AS obj
            FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        """,
        "kg_node_ids": """
            WITH nodes AS (
              SELECT c_name AS ext_id, 'customer' AS label FROM customer
              UNION ALL
              SELECT s_name AS ext_id, 'supplier' AS label FROM supplier
            )
            SELECT label, ext_id,
                   ROW_NUMBER() OVER (ORDER BY label, ext_id) - 1 AS internal_id
            FROM nodes
        """,
        "kg_endpoint_resolution": """
            WITH reg AS (
              SELECT CAST(c_custkey AS VARCHAR) AS ext_id,
                     ROW_NUMBER() OVER (ORDER BY CAST(c_custkey AS VARCHAR)) - 1
                       AS internal_id
              FROM customer
            )
            SELECT o.o_orderkey AS edge_key,
                   r.internal_id AS src_internal,
                   r.internal_id AS dst_internal
            FROM orders o JOIN reg r ON CAST(o.o_custkey AS VARCHAR) = r.ext_id
        """,
        "kg_invalid_edges": """
            SELECT o_orderstatus, COUNT(*) AS n_dropped
            FROM orders o
            WHERE NOT EXISTS (
              SELECT 1 FROM customer c
              WHERE c.c_custkey = o.o_custkey AND c.c_custkey % 3 <> 0)
            GROUP BY o_orderstatus
        """,
        "kg_pred_counts": """
            SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY o_orderstatus
        """,
        "kg_last_wins": """
            SELECT o_custkey, o_orderkey AS latest_orderkey FROM (
              SELECT o_custkey, o_orderkey,
                     ROW_NUMBER() OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderkey DESC) AS rk
              FROM orders) WHERE rk = 1
        """,
        "kg_ns_prefix": """
            SELECT 'CUST.' || CAST(c_custkey AS VARCHAR) AS ns_id,
                   c_name AS name
            FROM customer
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 2) AS sum_qty,
                   ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)
                     AS sum_disc_price,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "doc_tokens": r"""
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(text), '\s+')) END
                     AS n_tokens,
                   length(text) AS n_chars_calc
            FROM documents
        """,
        "doc_quality": rf"""
            SELECT doc_id, ROUND(
              0.4 * (CASE WHEN length(trim(text)) > 0
                     THEN CAST(length(regexp_replace(trim(text), '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                          / length(trim(text))
                     ELSE 0.0 END)
              + 0.3 * LEAST(length(trim(text)) / 500.0, 1.0)
              + 0.3 * LEAST(
                  len(list_intersect(
                        string_split_regex(lower(trim(text)), '\s+'),
                        {_STOPWORDS_SQL})) / 4.0, 1.0),
              6) AS quality
            FROM documents
        """,
        "doc_langid": r"""
            SELECT doc_id,
              CASE
                WHEN CAST(length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS DOUBLE)
                     / GREATEST(length(text), 1) > 0.2 THEN 'zh'
                WHEN CAST(length(regexp_replace(text, '[^Ѐ-ӿ]', '', 'g')) AS DOUBLE)
                     / GREATEST(length(text), 1) > 0.2 THEN 'ru'
                WHEN CAST(length(regexp_replace(text, '[^Ͱ-Ͽ]', '', 'g')) AS DOUBLE)
                     / GREATEST(length(text), 1) > 0.2 THEN 'el'
                ELSE 'latin'
              END AS lang_guess
            FROM documents
        """,
        "doc_fingerprint": r"""
            SELECT doc_id,
                   md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
            FROM documents
        """,
        "dedup_exact": r"""
            SELECT doc_id FROM (
              SELECT doc_id, ROW_NUMBER() OVER (
                PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
                ORDER BY doc_id) AS rk
              FROM documents) WHERE rk = 1
        """,
        "dedup_ngram_jaccard": _EXACT_JACCARD_PAIRS_SQL,
        "dedup_minhash_lsh": _minhash_pairs_oracle_sql(0.5),
        "dedup_simhash": _simhash_oracle_sql(),
        "ann_lsh": _ann_lsh_oracle_sql(),
        "ann_ivf": _ann_ivf_oracle_sql(),
        "kg_connected_components": """
            WITH RECURSIVE base AS (
              SELECT CAST(o_orderkey % 97 AS BIGINT) AS u,
                     CAST(o_custkey % 89 + 100 AS BIGINT) AS v
              FROM orders WHERE o_orderkey < 500
            ),
            sym AS (
              SELECT u, v FROM base WHERE u <> v
              UNION
              SELECT v, u FROM base WHERE u <> v
            ),
            reach(a, b) AS (
              SELECT u, v FROM sym
              UNION
              SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u
            )
            SELECT a AS node, LEAST(a, MIN(b)) AS comp FROM reach GROUP BY a
        """,
        "kg_incremental_merge": """
            WITH existing AS (
              SELECT c_custkey AS ext_id, c_name AS name,
                     c_acctbal AS acctbal
              FROM customer WHERE c_custkey % 4 <> 0
            ),
            winners AS (
              SELECT ext_id, name, acctbal FROM (
                SELECT o_custkey AS ext_id,
                       'upd-' || CAST(o_orderkey AS VARCHAR) AS name,
                       o_totalprice AS acctbal,
                       ROW_NUMBER() OVER (
                         PARTITION BY o_custkey
                         ORDER BY o_orderkey DESC) AS rk
                FROM orders) u
              WHERE rk = 1
            )
            SELECT ext_id, name, acctbal FROM winners
            UNION ALL
            SELECT e.ext_id, e.name, e.acctbal FROM existing e
            WHERE NOT EXISTS (
              SELECT 1 FROM winners w WHERE w.ext_id = e.ext_id)
        """,
        "kg_alias_link": """
            WITH aliases AS (
              SELECT upper(c_name) AS surface,
                     'c:' || CAST(c_custkey AS VARCHAR) AS canonical_id
              FROM customer
              UNION ALL
              SELECT '  ' || replace(c_name, '#', '.#') || ' ' AS surface,
                     'd:' || CAST(c_custkey AS VARCHAR) AS canonical_id
              FROM customer
            ),
            dim AS (
              SELECT regexp_replace(replace(lower(trim(surface)), '.', ''),
                                    '\\s+', ' ', 'g') AS nrm,
                     min(canonical_id) AS canonical_id
              FROM aliases
              WHERE surface IS NOT NULL AND canonical_id IS NOT NULL
              GROUP BY nrm
            ),
            mentions AS (
              SELECT o_orderkey AS mention_id,
                     upper(c_name) || ' ' AS subj_surface,
                     CASE WHEN o_orderkey % 4 = 0
                          THEN 'nobody ' || CAST(o_orderkey AS VARCHAR)
                          ELSE replace(c_name, '#', '.#') END AS obj_surface
              FROM orders JOIN customer ON o_custkey = c_custkey
            )
            SELECT m.mention_id,
                   ds.canonical_id AS subj_cid,
                   dobj.canonical_id AS obj_cid
            FROM mentions m
            LEFT JOIN dim ds
              ON ds.nrm = regexp_replace(
                   replace(lower(trim(m.subj_surface)), '.', ''),
                   '\\s+', ' ', 'g')
            LEFT JOIN dim dobj
              ON dobj.nrm = regexp_replace(
                   replace(lower(trim(m.obj_surface)), '.', ''),
                   '\\s+', ' ', 'g')
        """,
        "kg_loader_types": """
            SELECT internal_id, key, props_json
            FROM read_parquet('/root/repo/tests/golden/loader_types.parquet')
        """,
        "kg_loader_enforced": """
            SELECT part, internal_id, key, props_json,
                   src_internal, dst_internal, rel_type
            FROM read_parquet('/root/repo/tests/golden/loader_enforced.parquet')
        """,
        "media_features": """
            WITH refs AS (
              SELECT 'img://doc/' || CAST(doc_id AS VARCHAR) AS media_ref
              FROM documents WHERE doc_id < 200
            ),
            d AS (
              SELECT media_ref, sha256(media_ref) AS dh FROM refs
            ),
            derived AS (
              SELECT media_ref,
                     ('0x' || substr(dh, 1, 2))::INT AS b0,
                     ('0x' || substr(dh, 3, 2))::INT % 7 + 2 AS k,
                     64 + ('0x' || substr(dh, 5, 2))::INT AS cap,
                     1000 + ('0x' || substr(dh, 11, 2))::INT * 10 AS dur_ms
              FROM d
            )
            SELECT media_ref,
                   CASE WHEN b0 % 2 = 0 THEN 'image/fake'
                        ELSE 'audio/fake' END AS mime,
                   LEAST(cap, 32 * k) AS n_bytes,
                   CASE WHEN b0 % 2 = 0 THEN 0
                        ELSE LEAST(GREATEST(dur_ms // 1000, 1), 32)
                   END AS n_frames
            FROM derived
        """,
        "corpus_curation": rf"""
            WITH scored AS (
              SELECT doc_id,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(string_split_regex(trim(text), '\s+')) END
                  AS n_tokens,
                ROUND(
                  0.4 * (CASE WHEN length(trim(text)) > 0
                         THEN CAST(length(regexp_replace(trim(text), '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                              / length(trim(text))
                         ELSE 0.0 END)
                  + 0.3 * LEAST(length(trim(text)) / 500.0, 1.0)
                  + 0.3 * LEAST(
                      len(list_intersect(
                            string_split_regex(lower(trim(text)), '\s+'),
                            {_STOPWORDS_SQL})) / 4.0, 1.0),
                  6) AS quality,
                CASE
                  WHEN CAST(length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS DOUBLE)
                       / GREATEST(length(text), 1) > 0.2 THEN 'zh'
                  WHEN CAST(length(regexp_replace(text, '[^Ѐ-ӿ]', '', 'g')) AS DOUBLE)
                       / GREATEST(length(text), 1) > 0.2 THEN 'ru'
                  WHEN CAST(length(regexp_replace(text, '[^Ͱ-Ͽ]', '', 'g')) AS DOUBLE)
                       / GREATEST(length(text), 1) > 0.2 THEN 'el'
                  ELSE 'latin'
                END AS lang_guess
              FROM documents
            ),
            passing AS (
              SELECT doc_id FROM scored
              WHERE quality >= 0.5 AND lang_guess = 'latin'
                AND n_tokens BETWEEN 5 AND 10000
            ),
            -- survivorship over the gate-PASSING subset
            -- (filter-then-dedup, matching curate_corpus)
            survivors AS (
              SELECT doc_id FROM (
                SELECT d.doc_id, ROW_NUMBER() OVER (
                  PARTITION BY md5(regexp_replace(lower(trim(d.text)), '\s+', ' ', 'g'))
                  ORDER BY d.doc_id) AS rk
                FROM documents d SEMI JOIN passing p ON d.doc_id = p.doc_id
              ) WHERE rk = 1
            )
            SELECT s.doc_id, s.n_tokens, s.quality, s.lang_guess
            FROM scored s SEMI JOIN survivors v ON s.doc_id = v.doc_id
            WHERE s.quality >= 0.5 AND s.lang_guess = 'latin'
              AND s.n_tokens BETWEEN 5 AND 10000
        """,
        "corpus_curation_rep": rf"""
            WITH scored AS (
              SELECT doc_id,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(string_split_regex(trim(text), '\s+')) END
                  AS n_tokens,
                ROUND(
                  0.4 * (CASE WHEN length(trim(text)) > 0
                         THEN CAST(length(regexp_replace(trim(text), '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                              / length(trim(text))
                         ELSE 0.0 END)
                  + 0.3 * LEAST(length(trim(text)) / 500.0, 1.0)
                  + 0.3 * LEAST(
                      len(list_intersect(
                            string_split_regex(lower(trim(text)), '\s+'),
                            {_STOPWORDS_SQL})) / 4.0, 1.0),
                  6) AS quality,
                CASE
                  WHEN CAST(length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS DOUBLE)
                       / GREATEST(length(text), 1) > 0.2 THEN 'zh'
                  WHEN CAST(length(regexp_replace(text, '[^Ѐ-ӿ]', '', 'g')) AS DOUBLE)
                       / GREATEST(length(text), 1) > 0.2 THEN 'ru'
                  WHEN CAST(length(regexp_replace(text, '[^Ͱ-Ͽ]', '', 'g')) AS DOUBLE)
                       / GREATEST(length(text), 1) > 0.2 THEN 'el'
                  ELSE 'latin'
                END AS lang_guess
              FROM documents
            ),
            passing AS (
              SELECT doc_id FROM scored
              WHERE quality >= 0.5 AND lang_guess = 'latin'
                AND n_tokens BETWEEN 5 AND 10000
            ),
            -- repetition gate over scalar-gate passers: word 2-gram
            -- dup char mass must stay <= 8% of total 2-gram mass
            wg AS (
              SELECT doc_id, g, length(g) AS gl, COUNT(*) AS c
              FROM (
                SELECT doc_id, array_to_string(t[i:i+1], ' ') AS g
                FROM (
                  SELECT doc_id, t,
                         unnest(generate_series(1, len(t) - 1)) AS i
                  FROM (
                    SELECT d.doc_id,
                           list_filter(
                             regexp_split_to_array(lower(d.text),
                                                   '[^a-z0-9]+'),
                             x -> x <> '') AS t
                    FROM documents d
                    SEMI JOIN passing p ON d.doc_id = p.doc_id
                  ) WHERE len(t) >= 2
                )
              ) GROUP BY 1, 2
            ),
            unrep AS (
              SELECT p.doc_id FROM passing p LEFT JOIN (
                SELECT doc_id,
                       SUM(CASE WHEN c >= 2 THEN c * gl ELSE 0 END) AS dup,
                       SUM(c * gl) AS tot
                FROM wg GROUP BY 1) r USING (doc_id)
              WHERE COALESCE(dup, 0) <= 0.08 * COALESCE(tot, 0)
            ),
            -- survivorship over docs passing BOTH gate families
            survivors AS (
              SELECT doc_id FROM (
                SELECT d.doc_id, ROW_NUMBER() OVER (
                  PARTITION BY md5(regexp_replace(lower(trim(d.text)), '\s+', ' ', 'g'))
                  ORDER BY d.doc_id) AS rk
                FROM documents d SEMI JOIN unrep u ON d.doc_id = u.doc_id
              ) WHERE rk = 1
            )
            SELECT s.doc_id, s.n_tokens, s.quality, s.lang_guess
            FROM scored s SEMI JOIN survivors v ON s.doc_id = v.doc_id
            WHERE s.quality >= 0.5 AND s.lang_guess = 'latin'
              AND s.n_tokens BETWEEN 5 AND 10000
        """,
        "media_near_dup": """
            WITH refs AS (
              SELECT 'img://doc/' || CAST(doc_id AS VARCHAR) AS base_ref
              FROM documents WHERE doc_id < 100
            ),
            d AS (
              SELECT base_ref, sha256(base_ref) AS dh FROM refs
            ),
            derived AS (
              SELECT base_ref, dh,
                     ('0x' || substr(dh, 1, 2))::INT AS b0,
                     ('0x' || substr(dh, 3, 2))::INT % 7 + 2 AS k,
                     64 + ('0x' || substr(dh, 5, 2))::INT AS cap,
                     1000 + ('0x' || substr(dh, 11, 2))::INT * 10 AS dur_ms
              FROM d
            ),
            audio AS (
              -- only audio media (odd first digest byte) have frames
              SELECT base_ref, dh, k,
                     LEAST(cap, 32 * k) AS n_bytes,
                     LEAST(GREATEST(dur_ms // 1000, 1), 32) AS nf
              FROM derived WHERE b0 % 2 = 1
            ),
            variants AS (
              SELECT base_ref AS media_ref, dh, k, n_bytes, nf FROM audio
              UNION ALL
              SELECT base_ref || '#d', dh, k, n_bytes, nf FROM audio
              UNION ALL
              SELECT base_ref || '#s', dh, k, n_bytes, 1 FROM audio
            ),
            payloads AS (
              -- payload bytes = (sha256 digest repeated k times)
              -- truncated to n_bytes; hex view, 2 chars per byte
              SELECT media_ref,
                     substr(repeat(dh, k), 1, 2 * n_bytes) AS ph,
                     n_bytes, nf
              FROM variants
            ),
            frames_raw AS (
              SELECT media_ref, ph, n_bytes,
                     unnest(range(CAST(nf AS BIGINT))) AS i
              FROM payloads
            ),
            frames AS (
              -- frame i = payload[(i*7) % max(n_bytes-8,1) :][:8];
              -- hex-substring equality == frame-byte equality
              SELECT DISTINCT media_ref,
                     substr(ph,
                            2 * ((i * 7) % GREATEST(n_bytes - 8, 1)) + 1,
                            16) AS fh
              FROM frames_raw
            ),
            sizes AS (
              SELECT media_ref, COUNT(*) AS sz FROM frames GROUP BY media_ref
            ),
            inter AS (
              SELECT a.media_ref AS ref_a, b.media_ref AS ref_b,
                     COUNT(*) AS iv
              FROM frames a JOIN frames b
                ON a.fh = b.fh AND a.media_ref < b.media_ref
              GROUP BY 1, 2
            )
            SELECT ref_a, ref_b,
                   CAST(iv AS DOUBLE) / (sa.sz + sb.sz - iv) AS jaccard_sim
            FROM inter
            JOIN sizes sa ON sa.media_ref = inter.ref_a
            JOIN sizes sb ON sb.media_ref = inter.ref_b
            WHERE CAST(iv AS DOUBLE) / (sa.sz + sb.sz - iv) >= 0.3
        """,
        "dedup_clusters": _minhash_clusters_oracle_sql(0.5),
        "emb_dedup_clusters": _emb_clusters_oracle_sql(),
        "ann_self_join": _ann_self_join_oracle_sql(),
        "ann_brute_force": """
            WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                       FROM embeddings WHERE vec_id < 3),
            c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
                  FROM embeddings),
            scored AS (
              SELECT q.query_id, c.neighbor_id,
                     (SELECT SUM(x*y) FROM (SELECT unnest(q.qv) x, unnest(c.cv) y))
                     / (sqrt((SELECT SUM(x*x) FROM (SELECT unnest(q.qv) x)))
                        * sqrt((SELECT SUM(y*y) FROM (SELECT unnest(c.cv) y))))
                       AS cs
              FROM q, c WHERE q.query_id <> c.neighbor_id
            )
            SELECT query_id, neighbor_id, rank FROM (
              SELECT query_id, neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY cs DESC, neighbor_id) AS rank
              FROM scored) WHERE rank <= 5
        """,
        "kg_salted_join": """
            SELECT c.c_nationkey, COUNT(*) AS n_orders
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY c.c_nationkey
        """,
        "doc_bpe_tokens": r"""
            SELECT doc_id,
              CASE WHEN length(trim(t3)) = 0 THEN 0
                   ELSE len(string_split_regex(trim(t3), '\s+')) END
                AS n_bpe_tokens
            FROM (
              SELECT doc_id,
                regexp_replace(regexp_replace(regexp_replace(text,
                  '([0-9])([a-zA-Z])', '\1 \2', 'g'),
                  '([a-zA-Z])([0-9])', '\1 \2', 'g'),
                  '([^\sa-zA-Z0-9])', ' \1 ', 'g') AS t3
              FROM documents)
        """,
        "events_sessionize": """
            WITH flagged AS (
              SELECT user_id, ts,
                     CASE WHEN LAG(ts) OVER w IS NULL
                          OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800
                          THEN 1 ELSE 0 END AS new_sess
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            )
            SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions,
                   COUNT(*) AS n_events
            FROM flagged GROUP BY user_id
        """,
        "events_windowed": """
            SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts),
                            '%Y-%m-%d %H:%M:%S') AS win_start,
                   event_type, COUNT(*) AS n,
                   ROUND(SUM(value), 2) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "mix_hash_sample": """
            SELECT doc_id, lang, source, n_chars FROM documents
            WHERE md5(CAST(doc_id AS VARCHAR))
                  < '40000000000000000000000000000000'
        """,
        "mix_stratified_quota": """
            SELECT doc_id, source FROM (
              SELECT doc_id, source,
                     ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY md5(source || ':'
                                    || CAST(doc_id AS VARCHAR)),
                                doc_id) AS rk
              FROM documents)
            WHERE rk <= 15
        """,
        "mix_token_budget": """
            SELECT doc_id, source, n_chars FROM (
              SELECT doc_id, source, n_chars,
                     SUM(n_chars) OVER (
                       PARTITION BY source
                       ORDER BY md5(source || ':'
                                    || CAST(doc_id AS VARCHAR)),
                                doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum
              FROM documents)
            WHERE cum <= 2000
        """,
        "boilerplate_lines": """
            WITH p AS (
              SELECT doc_id,
                     substr(text, 1, 40) || chr(10)
                       || substr(text, 41, 40) || chr(10)
                       || 'shared boilerplate footer line' AS t
              FROM documents
            ),
            l AS (
              SELECT doc_id, trim(x) AS ln
              FROM p, unnest(string_split(t, chr(10))) AS u(x)
            ),
            per_doc AS (
              SELECT ln, doc_id, COUNT(*) AS c
              FROM l WHERE ln <> '' GROUP BY 1, 2
            ),
            counts AS (
              SELECT ln,
                     CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(c) AS BIGINT) AS n_occurrences
              FROM per_doc GROUP BY 1
              HAVING COUNT(*) >= 2
            )
            SELECT ln AS line, n_docs, n_occurrences
            FROM counts
            ORDER BY n_docs DESC, n_occurrences DESC, md5(ln)
            LIMIT 50
        """,
        "dedup_lines_global": """
            WITH p AS (
              SELECT doc_id,
                     substr(text, 1, 40) || chr(10)
                       || substr(text, 41, 40) || chr(10)
                       || 'shared boilerplate footer line' AS t
              FROM documents
            ),
            ls AS (SELECT doc_id, string_split(t, chr(10)) AS a FROM p),
            l AS (
              SELECT doc_id, i - 1 AS idx, a[i] AS ln
              FROM (SELECT doc_id, a,
                           unnest(generate_series(1, len(a))) AS i
                    FROM ls)
            ),
            rem AS (
              SELECT doc_id, idx FROM (
                SELECT doc_id, idx,
                       ROW_NUMBER() OVER (
                         PARTITION BY ln ORDER BY doc_id, idx) AS rn
                FROM l WHERE trim(ln) <> ''
              ) WHERE rn > 1
            ),
            kept AS (
              SELECT l.doc_id, l.idx, l.ln
              FROM l ANTI JOIN rem USING (doc_id, idx)
            ),
            agg AS (
              SELECT doc_id,
                     string_agg(ln, chr(10) ORDER BY idx) AS t
              FROM kept GROUP BY doc_id
            ),
            rc AS (
              SELECT doc_id, COUNT(*) AS n FROM rem GROUP BY doc_id
            )
            SELECT d.doc_id,
                   COALESCE(a.t, '') AS text,
                   COALESCE(rc.n, 0) AS n_lines_removed
            FROM documents d
            LEFT JOIN agg a USING (doc_id)
            LEFT JOIN rc USING (doc_id)
        """,
        "doc_pii_redact": """
            WITH p AS (
              SELECT doc_id,
                     text || ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com tel +1 555-010-'
                          || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                          || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                          || '.17' AS t
              FROM documents
            ),
            s1 AS (
              SELECT doc_id,
                     CAST(len(regexp_extract_all(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                       AS BIGINT) AS n_email,
                     regexp_replace(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g') AS t
              FROM p
            ),
            s2 AS (
              SELECT doc_id, n_email,
                     CAST(len(regexp_extract_all(t,
                       '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b'))
                       AS BIGINT) AS n_ipv4,
                     regexp_replace(t,
                       '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b',
                       '<IPV4>', 'g') AS t
              FROM s1
            )
            SELECT doc_id, n_email, n_ipv4,
                   CAST(len(regexp_extract_all(t,
                     '\\+?[0-9][0-9()\\- ]{6,}[0-9]')) AS BIGINT) AS n_phone,
                   regexp_replace(t, '\\+?[0-9][0-9()\\- ]{6,}[0-9]',
                                  '<PHONE>', 'g') AS redacted
            FROM s2
        """,
        "doc_repetition": """
            WITH lf AS (
              SELECT doc_id, trim(x) AS ln
              FROM documents, unnest(string_split(text, chr(10))) AS u(x)
            ),
            lg AS (
              SELECT doc_id, ln, length(ln) AS ll, COUNT(*) AS c
              FROM lf WHERE ln <> '' GROUP BY 1, 2
            ),
            la AS (
              SELECT doc_id,
                     CAST(SUM(c) AS BIGINT) AS n_lines,
                     CAST(SUM(c - 1) AS BIGINT) AS n_dup_lines,
                     CAST(SUM((c - 1) * ll) AS BIGINT) AS dup_line_chars,
                     CAST(SUM(c * ll) AS BIGINT) AS total_line_chars
              FROM lg GROUP BY 1
            ),
            tok AS (
              SELECT doc_id,
                     list_filter(
                       regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                       x -> x <> '') AS t
              FROM documents
            ),
            wg AS (
              SELECT doc_id, g, length(g) AS gl, COUNT(*) AS c
              FROM (SELECT doc_id, unnest(t) AS g FROM tok)
              GROUP BY 1, 2
            ),
            wa AS (
              SELECT doc_id,
                     CAST(MAX(c * gl) AS BIGINT) AS gram1_top_chars,
                     CAST(SUM(CASE WHEN c >= 2 THEN c * gl ELSE 0 END)
                          AS BIGINT) AS gram1_dup_chars,
                     CAST(SUM(c * gl) AS BIGINT) AS gram1_total_chars
              FROM wg GROUP BY 1
            ),
            fg AS (
              SELECT doc_id, g, length(g) AS gl, COUNT(*) AS c
              FROM (
                SELECT doc_id, array_to_string(t[i:i+4], ' ') AS g
                FROM (SELECT doc_id, t,
                             unnest(generate_series(1, len(t) - 4)) AS i
                      FROM tok WHERE len(t) >= 5)
              ) GROUP BY 1, 2
            ),
            fa AS (
              SELECT doc_id,
                     CAST(MAX(c * gl) AS BIGINT) AS gram5_top_chars,
                     CAST(SUM(CASE WHEN c >= 2 THEN c * gl ELSE 0 END)
                          AS BIGINT) AS gram5_dup_chars,
                     CAST(SUM(c * gl) AS BIGINT) AS gram5_total_chars
              FROM fg GROUP BY 1
            )
            SELECT d.doc_id,
                   COALESCE(n_lines, 0) AS n_lines,
                   COALESCE(n_dup_lines, 0) AS n_dup_lines,
                   COALESCE(dup_line_chars, 0) AS dup_line_chars,
                   COALESCE(total_line_chars, 0) AS total_line_chars,
                   COALESCE(gram1_top_chars, 0) AS gram1_top_chars,
                   COALESCE(gram1_dup_chars, 0) AS gram1_dup_chars,
                   COALESCE(gram1_total_chars, 0) AS gram1_total_chars,
                   COALESCE(gram5_top_chars, 0) AS gram5_top_chars,
                   COALESCE(gram5_dup_chars, 0) AS gram5_dup_chars,
                   COALESCE(gram5_total_chars, 0) AS gram5_total_chars
            FROM documents d
            LEFT JOIN la USING (doc_id)
            LEFT JOIN wa USING (doc_id)
            LEFT JOIN fa USING (doc_id)
        """,
        "mix_proportions": """
            SELECT doc_id, source, n_chars FROM documents
            WHERE md5(CAST(doc_id AS VARCHAR)) <
              CASE source
                WHEN 'src0' THEN 'g'
                WHEN 'src1' THEN '99999999999998000000000000000000'
                WHEN 'src2' THEN '40000000000000000000000000000000'
                WHEN 'src3' THEN '0ccccccccccccd000000000000000000'
                ELSE '80000000000000000000000000000000'
              END
        """,
        "mix_pack_sequences": """
            SELECT doc_id, weight, start_offset, start_bin, end_bin,
                   end_bin - start_bin + 1 AS n_bins,
                   end_bin > start_bin AS spans_boundary
            FROM (
              SELECT doc_id, weight, start_offset,
                     start_offset // 2048 AS start_bin,
                     (start_offset + weight - 1) // 2048 AS end_bin
              FROM (
                SELECT doc_id, n_chars AS weight,
                       CAST(SUM(n_chars) OVER (
                         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                         ROWS UNBOUNDED PRECEDING) - n_chars
                         AS BIGINT) AS start_offset
                FROM documents))
        """,
        "decontaminate": """
            WITH corpus AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 37 <> 0
            ),
            bench AS (
              SELECT text FROM documents WHERE doc_id % 37 = 0
            ),
            bt AS (
              SELECT list_filter(
                       regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                       x -> x <> '') AS t
              FROM bench
            ),
            bi AS (
              SELECT t, unnest(generate_series(1, len(t) - 4)) AS i
              FROM bt WHERE len(t) >= 5
            ),
            bng AS (
              SELECT DISTINCT md5(array_to_string(t[i:i+4], ' ')) AS ng
              FROM bi
            ),
            ct AS (
              SELECT doc_id,
                     list_filter(
                       regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                       x -> x <> '') AS t
              FROM corpus
            ),
            ci AS (
              SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i
              FROM ct WHERE len(t) >= 5
            ),
            cng AS (
              SELECT DISTINCT doc_id,
                     md5(array_to_string(t[i:i+4], ' ')) AS ng
              FROM ci
            ),
            hits AS (
              SELECT doc_id, COUNT(*) AS n_hit_ngrams
              FROM cng JOIN bng USING (ng) GROUP BY doc_id
            )
            SELECT c.doc_id,
                   h.doc_id IS NOT NULL AS contaminated,
                   CAST(COALESCE(h.n_hit_ngrams, 0) AS BIGINT)
                     AS n_hit_ngrams
            FROM corpus c LEFT JOIN hits h USING (doc_id)
        """,
    }
