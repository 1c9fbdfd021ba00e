"""Canonicalization by iterative connected components.

Implements the alternating large-star / small-star algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14) over an edge DataFrame — the standard shuffle-efficient CC for
web-scale graphs: each round is a groupBy-min plus a join, edge count
is non-increasing, and convergence is O(log^2 n) rounds.

Scale notes:
- every round ends in ``localCheckpoint`` to truncate lineage (without
  it the plan doubles per iteration and the driver OOMs on planning)
- convergence is detected with a one-action (count, xor-of-hashes)
  fingerprint of the edge set — no exceptAll anti-join per round
- ``min_id_components`` is the one entry point (KG canonicalization,
  dedup clustering, ``connected_components``): integral ids run the
  loop directly, other ids are mapped to injective longs first
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def injective_node_ids(
    vocab: DataFrame, col: str, id_col: str = "node"
) -> DataFrame:
    """(col) -> (col, id_col: long) collision-free node-id mapping for
    CC callers whose natural ids are strings.

    Longs come from ``monotonically_increasing_id`` (partition index
    << 33 + in-partition offset — injective by construction, no
    birthday bound), pinned by an eager ``localCheckpoint`` so the
    mapping cannot shift across plan re-evaluation or task retry.
    Collision-freedom matters: bare ``xxhash64(string)`` reaches ~50%
    probability of at least one collision at ~5e9 distinct ids —
    inside the 100 TB envelope — and one collision welds two
    components. The longs are internal to CC (8 bytes/node through
    every shuffle round); callers pick representatives from their own
    natural ids, so the arbitrary numbering never surfaces."""
    return (
        vocab.select(col)
        .distinct()
        .withColumn(id_col, F.monotonically_increasing_id())
        .localCheckpoint(eager=True)
    )


def _symmetrize(e: DataFrame) -> DataFrame:
    return (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    sym = _symmetrize(e)
    mins = sym.groupBy("u").agg(F.min("v").alias("minv"))
    mins = mins.select("u", F.least("minv", "u").alias("m"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    oriented = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("minv"))
    out1 = (
        oriented.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("minv").alias("v"))
    )
    out2 = mins.select("u", F.col("minv").alias("v"))
    return out1.union(out2).filter(F.col("u") != F.col("v")).distinct()


def _fingerprint(e: DataFrame):
    row = e.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def _driver_union_find(pairs) -> list:
    """Union-find with union-by-min: the root of a component is always
    its minimum node id. Returns [(node, component)]."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for u, v in pairs:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    return [(n, find(n)) for n in parent]


#: below this many pairs the distributed star loop is pure overhead
#: (each round is several shuffle jobs); a driver union-find answers in
#: milliseconds. Alias vocabularies sit far under this.
DRIVER_CC_THRESHOLD = 100_000


def _star_components(e: DataFrame, nodes: DataFrame, max_iter: int) -> DataFrame:
    """edges(u, v: long) + nodes(node: long) -> (node, component) for
    every node, component = min node id in its component (a node on no
    u != v edge is its own component)."""
    prev = None
    for _ in range(max_iter):
        # lazy checkpoint: the fingerprint action below both materializes
        # the round's result and measures convergence — one job per
        # round instead of two (eager-checkpoint + fingerprint)
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        fp = _fingerprint(e)
        if fp == prev:
            break
        prev = fp
    # Converged star graphs: every edge is (node, root); roots appear
    # only on the v side.
    assign = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = nodes.join(assign.select("node"), "node", "left_anti").select(
        "node", F.col("node").alias("component"))
    return assign.union(roots).dropDuplicates(["node"])


def min_id_components(
    pairs: DataFrame,
    a: str,
    b: str,
    *,
    driver_threshold: int = DRIVER_CC_THRESHOLD,
    max_iter: int = 30,
) -> DataFrame:
    """pairs(a, b) -> (id, rep): one row per distinct id in either
    column, ``rep`` = the smallest id in that id's connected component
    in the id type's native order. A self-pair ``(x, x)`` only
    registers ``x``. Ids must be non-null; ``pairs`` should be cheap to
    re-scan (checkpointed or a small plan) — it is counted, then read
    again.

    Size-gated on one ``pairs.count()``: at or below
    ``driver_threshold`` pairs a driver union-find over the native ids
    answers (one collect + one Arrow frame instead of ~6
    shuffle/checkpoint jobs; python ``<`` on longs/UTF-8 strings orders
    exactly like Spark). Above it the distributed star loop runs:
    integral ids are already injective longs and go straight in; other
    ids are mapped through ``injective_node_ids`` and the smallest
    natural id per component is kept, so the arbitrary longs never
    surface. Pass ``driver_threshold=0`` to force the distributed
    path."""
    from pyspark.sql.types import IntegralType, StructField, StructType

    id_type = pairs.schema[a].dataType
    if pairs.count() <= driver_threshold:
        # Arrow path (pandas), not a pickled list: a pickled-list
        # createDataFrame needs python workers on EVERY downstream
        # materialization (measured fork storms mid-pipeline); Arrow
        # batches decode JVM-side.
        import pandas as pd

        pdf = pd.DataFrame(
            _driver_union_find(pairs.select(a, b).collect()),
            columns=["id", "rep"], dtype=object)
        schema = StructType(
            [StructField("id", id_type), StructField("rep", id_type)])
        return pairs.sparkSession.createDataFrame(pdf, schema=schema)

    ids = (
        pairs.select(F.col(a).alias("id"))
        .union(pairs.select(F.col(b).alias("id")))
        .distinct()
    )
    if isinstance(id_type, IntegralType):
        edges = pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
        return _star_components(
            edges, ids.select(F.col("id").alias("node")), max_iter,
        ).select(F.col("node").alias("id"), F.col("component").alias("rep"))
    node_map = injective_node_ids(ids, "id")
    edges = (
        pairs.join(node_map.select(F.col("id").alias(a),
                                   F.col("node").alias("u")), a)
        .join(node_map.select(F.col("id").alias(b),
                              F.col("node").alias("v")), b)
        .select("u", "v")
    )
    with_comp = node_map.join(
        _star_components(edges, node_map.select("node"), max_iter), "node")
    reps = with_comp.groupBy("component").agg(F.min("id").alias("rep"))
    return with_comp.join(reps, "component").select("id", "rep")


def connected_components(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    *,
    max_iter: int = 30,
    driver_threshold: int = DRIVER_CC_THRESHOLD,
) -> DataFrame:
    """edges(src,dst: long) -> (node: long, component: long) where
    component is the minimum node id in the component. Covers every
    node that appears in at least one edge; isolated nodes are the
    caller's coalesce.

    Size-gated (``min_id_components``): at or below
    ``driver_threshold`` distinct edges the component assignment is
    computed with a driver-side union-find (dim-scale sameAs graphs —
    the common KG-canonicalization case); above it the O(log^2 n)
    distributed star loop runs. Pass ``driver_threshold=0`` to force
    the distributed path."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    return min_id_components(
        e, "u", "v", driver_threshold=driver_threshold, max_iter=max_iter,
    ).select(F.col("id").alias("node"), F.col("rep").alias("component"))
