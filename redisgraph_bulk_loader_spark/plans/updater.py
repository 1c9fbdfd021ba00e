"""Bulk-update compatibility: incremental graph updates.

The reference's updater (studied at /root/reference/
redisgraph_bulk_loader/bulk_update.py) reads a CSV, quotes each cell
into a Cypher literal (quote_string, :59-74), batches rows by size, and
runs ``UNWIND $rows AS row <query>`` per batch — with compile-time
validation via GRAPH.EXPLAIN before any data moves (:76-80) and
incremental commit semantics (partial failure leaves prior batches
applied, README.md:205).

Spark mapping:
- ``read_update_csv``: the loader's one record reader
  (``loader._record_source``) under ``Config``'s default dialect, which
  is the updater's (bulk_update.py:82-104), with ``cells`` renamed to
  the row variable.
- ``quote_col``: the documented *intent* of quote_string — numerics
  (ASCII decimal literals only), booleans, and bracketed arrays pass
  through, an empty cell is ``null``; everything else (not already
  quoted) is double-quoted. (The reference contains a real bug
  — ``cell.lower != "]"`` compares a bound method, always truthy
  (bulk_update.py:67) — we implement the documented intent, not the
  bug.)
- ``run_update_query`` / ``run_node_merge_query`` /
  ``run_edge_update_query``: the row fragment is analyzed when the call
  is made (the GRAPH.EXPLAIN analogue), then applied as one MERGE. The
  reference splits rows into token-size batches only because each batch
  is a separate server query; here nothing commits between batches, so
  one MERGE gives the same rows.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import Config
from ..ids import assign_ids_after, latest_per_key
from ..streaming.stream import incremental_graph_update
from .loader import _record_source


def quote_col(col):
    """Render one CSV cell column as a literal for the row-parameter
    list (whole-stage-codegen path)."""
    v = F.trim(col)
    numeric = v.rlike(r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$")
    boolean = F.lower(v).isin("true", "false")
    arr = v.startswith("[") & v.endswith("]")
    quoted = (v.startswith('"') & v.endswith('"')) | (
        v.startswith("'") & v.endswith("'")
    )
    return (
        F.when(v == "", F.lit("null"))
        .when(numeric, v)
        .when(boolean, F.lower(v))
        .when(arr | quoted, v)
        .otherwise(F.concat(F.lit('"'), v, F.lit('"')))
    )


# ---------------------------------------------------------------------------
# UNWIND query-template machinery (bulk_update.py:37 parity)
# ---------------------------------------------------------------------------

def compose_update_query(query: str, variable_name: str = "row") -> str:
    """The reference's query composition, verbatim semantics: the user
    fragment runs once per row with the row bound to ``variable_name``
    (bulk_update.py:37 ``" ".join(["UNWIND $rows AS", variable_name,
    query])``). Returned for display/lineage; execution happens in
    run_update_query."""
    return " ".join(["UNWIND $rows AS", variable_name, query])


def read_update_csv(
    spark: SparkSession,
    path: str,
    *,
    separator: str = ",",
    no_header: bool = False,
    variable_name: str = "row",
) -> DataFrame:
    """Read an update CSV the way the reference does
    (bulk_update.py:82-104: QUOTE_NONE, backslash escape,
    skipinitialspace — ``Config``'s default dialect — and an optional
    header skip) into ``(row_idx, <variable_name>: array<string>)`` —
    positional cells, so SQL fragments use 0-based ``<var>[i]`` exactly
    like the reference's Cypher ``row[i]``."""
    return _record_source(
        spark, path, Config(separator=separator), skip_header=not no_header,
    ).withColumnRenamed("cells", variable_name)


def _props_map(prop_cols: List[str]):
    """Column: map<name, canonical literal> over the given property
    columns, rendered with quote_col (the loader's props_json literal
    convention); NULL cells yield absent keys, like the loader
    (test_no_null_values semantics)."""
    if not prop_cols:
        return F.map_from_arrays(F.array(), F.array())
    m = F.map_from_arrays(
        F.array(*[F.lit(c) for c in prop_cols]),
        F.array(*[
            F.when(F.col(c).isNotNull(), quote_col(F.col(c).cast("string")))
            for c in prop_cols
        ]),
    )
    return F.map_filter(m, lambda k, v: v.isNotNull())


def upsert_nodes(
    existing_nodes: DataFrame,
    projected: DataFrame,
    *,
    key_col: str = "key",
    label: str = "N",
    order_col: str = "row_idx",
) -> DataFrame:
    """Reference MERGE-node semantics over a loader-produced nodes
    table (internal_id, label, key, props_json) — the shape every
    reference bulk_update test uses (``MERGE (:L {id: row[0], ...})``,
    test_bulk_update.py:28-81):

    - a row whose key matches an existing node updates its properties
      (SET semantics: provided properties overwrite, properties not in
      the projection are preserved, an explicitly NULL/empty cell
      removes the property — null-valued properties are dropped, as
      the reference server does);
    - an unmatched key creates a new node with a fresh internal id
      after the current max and the given ``label``;
    - last occurrence wins within the update set (row order,
      bulk_update.py:106-119).

    Property columns are rendered as canonical literals via quote_col
    (value-compatible with loader output). Note the JSON *layout* of a
    touched row is normalized by to_json (compact separators, updated
    keys appended last) — semantically equal but not byte-identical to
    the loader's json.dumps, so byte-level fingerprints of touched
    rows change even on a value-level no-op update.
    Update CSVs are dim-scale in the reference (<= the 100k-row
    largest tested load); the fresh ids (``ids.assign_ids_after``, one
    global window) are bounded by that, not by fact tables.
    """
    prop_cols = [c for c in projected.columns
                 if c not in (key_col, order_col)]
    upd = latest_per_key(projected, [key_col], order_col).withColumn(
        "_new_props", _props_map(prop_cols))
    # Match against the last-wins registry view: the loader keeps every
    # row under duplicate identifiers (skip_invalid_nodes), but the
    # mapping points at the latest occurrence (label.py:60-61) — the
    # MERGE must update that row once, not fan out per duplicate.
    reg_view = latest_per_key(
        existing_nodes.select(
            F.col(key_col),
            F.col("internal_id").alias("_eid"),
            F.col("label").alias("_elabel"),
            F.col("props_json").alias("_eprops"),
        ),
        [key_col], "_eid",
    )
    joined = upd.join(reg_view, key_col, "left")
    old_map = F.from_json(F.coalesce(F.col("_eprops"), F.lit("{}")),
                          "map<string,string>")
    provided = F.array(*[F.lit(c) for c in prop_cols]) if prop_cols else F.array()
    merged = F.map_concat(
        F.map_filter(old_map, lambda k, v: ~F.array_contains(provided, k)),
        F.col("_new_props"),
    )
    joined = joined.withColumn("props_json", F.to_json(merged))
    matched = joined.filter(F.col("_eid").isNotNull()).withColumn(
        "internal_id", F.col("_eid"))
    created = assign_ids_after(
        existing_nodes, joined.filter(F.col("_eid").isNull()), [order_col])
    merged_rows = (
        matched.unionByName(created)
        .withColumn("label", F.coalesce(F.col("_elabel"), F.lit(label)))
        .select(*existing_nodes.columns)
    )
    # Remove only the specific matched rows (latest per key): other
    # duplicate rows under a reused identifier stay untouched, exactly
    # like the reference graph where each CSV row remains its own node.
    kept = existing_nodes.join(matched.select("internal_id"), ["internal_id"],
                               "left_anti")
    return kept.unionByName(merged_rows)


def _project_rows(spark: SparkSession, rows: DataFrame,
                  query: str) -> DataFrame:
    """``SELECT <query>, row_idx`` over the update rows, analyzed now:
    a malformed fragment raises AnalysisException before anything is
    written (the GRAPH.EXPLAIN analogue, bulk_update.py:76-80).
    Analysis starts no Spark job."""
    view = "_rgbl_update_rows"
    rows.createOrReplaceTempView(view)
    projected = spark.sql(f"SELECT {query}, row_idx FROM {view}")
    projected.columns  # force analysis
    return projected


def run_update_query(
    spark: SparkSession,
    existing: DataFrame,
    rows: DataFrame,
    query: str,
    *,
    key_cols: List[str],
) -> DataFrame:
    """Spark analogue of the reference's ``UNWIND $rows AS <var>
    <query>`` (bulk_update.py:37,106-119): ``query`` is an ANSI-SQL
    select list over the row variable read by ``read_update_csv`` —
    e.g. ``"row[0] AS ext_id, CAST(row[1] AS INT) AS age"`` with 0-based
    cell access, mirroring Cypher's ``row[0]`` — projected once per row
    and MERGEd into ``existing`` on ``key_cols`` in row order (last
    occurrence wins). Returns the lazy merged frame.

    Documented restriction vs the reference: the fragment is a row
    projection + MERGE, not arbitrary Cypher graph mutation; that is
    the shape every reference test exercises (test_bulk_update.py)."""
    return incremental_graph_update(
        existing, _project_rows(spark, rows, query), key_cols,
        order_col="row_idx",
    )


def run_node_merge_query(
    spark: SparkSession,
    existing_nodes: DataFrame,
    rows: DataFrame,
    query: str,
    *,
    key_col: str = "key",
    label: str = "N",
    projected_key_col: Optional[str] = None,
) -> DataFrame:
    """The reference's ``MERGE (:L {id: row[0], name: row[1]})`` shape
    (test_bulk_update.py:28-81) against a loader-produced nodes table:
    ``query`` projects the node key plus property columns; matched keys
    get SET-style property updates, unmatched keys become new nodes
    with fresh internal ids and ``label``. ``projected_key_col`` lets a
    query written against the reference's ext_id naming address a table
    keyed by ``key``. Compile-time validation as in run_update_query."""
    projected = _project_rows(spark, rows, query)
    cols = projected.columns
    if key_col not in cols:
        if projected_key_col and projected_key_col in cols:
            projected = projected.withColumnRenamed(projected_key_col,
                                                    key_col)
        else:
            raise ValueError(
                f"node-merge query must project the key column "
                f"'{key_col}' (got {cols})"
            )
    return upsert_nodes(
        existing_nodes, projected, key_col=key_col, label=label,
        order_col="row_idx",
    )


def merge_edges(
    nodes: DataFrame,
    edges: Optional[DataFrame],
    projected: DataFrame,
    *,
    rel_type: str,
    src_col: str = "src_key",
    dst_col: str = "dst_key",
    dest_label: str = "N",
    key_col: str = "key",
    order_col: str = "row_idx",
    dest_mode: str = "merge",
    dedup_edges: bool = False,
):
    """The reference's traversal-update shape — ``MATCH (src {id:
    row[0]}) CREATE (src)-[:R]->(dest:L {id: row[1], ...})``
    (test_bulk_update.py:83-121) — over loader tables:

    1. rows whose ``src_col`` key has no existing node are dropped
       (Cypher MATCH semantics: an unmatched pattern yields nothing, so
       neither the dest node nor the edge is created for that row);
    2. dest nodes, per ``dest_mode``:
       - ``'create'``: reference-exact CREATE — EVERY matched row
         creates a fresh dest node (fresh internal id, ``dest_label``),
         even when a node with the same key exists, and that row's edge
         points at the row's own fresh node (the reference counts
         "Nodes created: 3" for 3 rows regardless of key collisions);
       - ``'merge'`` (default): dest keys are MERGEd (created if absent,
         property-SET if present) — the batch-friendly variant that
         never duplicates keyed nodes;
       - ``'none'``: no dest handling; rows whose dst key is missing
         are dropped (MATCH-both semantics).
    3. edges (src_internal, dst_internal, rel_type, props_json) are
       appended — CREATE semantics; ``dedup_edges=True`` gives Cypher
       MERGE semantics instead: the NEW edges are deduped on
       (src, dst, rel_type) and any that already exist are dropped,
       while EXISTING edge rows — including legitimate duplicates from
       earlier CREATE runs, and their properties — are left untouched
       (MERGE never mutates or removes existing edges).

    Returns (nodes, edges) — both full frames. Property columns beyond
    ``src_col``/``dst_col`` become dest-node properties.

    Batch caveat vs the reference's per-row loop: MATCH resolves
    against the nodes present BEFORE this update — a node created by
    an earlier row of the same CSV is not visible to later rows' src
    MATCH (no reference test exercises that shape).
    """
    from ..operators.endpoints import resolve_endpoints

    if dest_mode not in ("create", "merge", "none"):
        raise ValueError("dest_mode must be 'create', 'merge', or 'none'")

    # 1. MATCH src: semi-join keeps only rows whose src node exists
    matched = projected.join(
        nodes.select(F.col(key_col).alias(src_col)).distinct(),
        src_col,
        "semi",
    )
    prop_cols = [c for c in matched.columns
                 if c not in (src_col, dst_col, order_col)]

    def registry(frame):
        # Last-wins per key: under a reused identifier the reference's
        # id dict points at the latest occurrence — without it a
        # duplicate key would fan each edge row into multiple edges.
        return latest_per_key(
            frame.select(F.col(key_col).alias("ext_id"), "internal_id"),
            ["ext_id"], "internal_id")

    if dest_mode == "create":
        # Reference CREATE: one fresh node per row; the row's edge
        # targets that exact node.
        src_registry = registry(nodes)
        fresh = assign_ids_after(nodes, matched, [order_col],
                                 id_col="_new_id")
        new_nodes = fresh.select(
            F.col("_new_id").alias("internal_id"),
            F.lit(dest_label).alias("label"),
            F.col(dst_col).alias(key_col),
            F.to_json(_props_map(prop_cols)).alias("props_json"),
        ).select(*nodes.columns)
        nodes = nodes.unionByName(new_nodes)
        new_edges = (
            fresh.join(src_registry,
                       fresh[src_col] == src_registry["ext_id"])
            .select(
                F.col("internal_id").alias("src_internal"),
                F.col("_new_id").alias("dst_internal"),
                F.lit(rel_type).alias("rel_type"),
                F.lit("{}").alias("props_json"),
            )
        )
    else:
        # 2. MERGE dest nodes (key = dst_col value, props = remaining)
        if dest_mode == "merge":
            dest_proj = matched.select(
                F.col(dst_col).alias(key_col),
                *[c for c in matched.columns
                  if c not in (src_col, dst_col, key_col)],
            )
            nodes = upsert_nodes(
                nodes, dest_proj, key_col=key_col, label=dest_label,
                order_col=order_col,
            )
        # 3. resolve endpoints through the updated registry
        resolved = resolve_endpoints(
            matched.select(F.col(src_col).alias("src_key"),
                           F.col(dst_col).alias("dst_key")),
            registry(nodes),
            src_col="src_key",
            dst_col="dst_key",
            skip_invalid=dest_mode == "none",
        )
        new_edges = resolved.select(
            "src_internal", "dst_internal",
            F.lit(rel_type).alias("rel_type"),
            F.lit("{}").alias("props_json"),
        )
    if dedup_edges:
        new_edges = new_edges.dropDuplicates(
            ["src_internal", "dst_internal", "rel_type"])
        if edges is not None:
            new_edges = new_edges.join(
                edges.select("src_internal", "dst_internal", "rel_type"),
                ["src_internal", "dst_internal", "rel_type"],
                "left_anti",
            )
    if edges is not None:
        out_edges = edges.unionByName(new_edges, allowMissingColumns=True)
    else:
        out_edges = new_edges
    return nodes, out_edges


def run_custom_update(
    nodes: DataFrame,
    edges: Optional[DataFrame],
    rows: Optional[DataFrame],
    fn,
    *,
    validate: bool = True,
):
    """Escape hatch for arbitrary graph mutations — the last semantic
    gap vs the reference's free-form Cypher updater
    (/root/reference/redisgraph_bulk_loader/bulk_update.py:37 accepts
    ANY fragment; the projection+MERGE helpers above cover every shape
    the reference's own tests exercise, but a migrating user with e.g.
    a conditional DELETE or multi-hop MATCH needs a supported path).

    ``fn(nodes, edges, rows) -> (new_nodes, new_edges)`` expresses the
    mutation as DataFrame transformations (joins/filters/unions over
    the loader-shaped tables). Compile-time validation (the
    GRAPH.EXPLAIN analogue, bulk_update.py:76-80) analyzes both result
    plans BEFORE anything is written: an invalid expression raises
    AnalysisException here, and a result that drops or retypes the
    loader-schema columns is rejected — so a bad update cannot
    half-apply.

    Returns (new_nodes, new_edges); the caller commits them via
    ``GraphCatalog.write`` (each write is one snapshot commit, matching
    the reference's incremental batch semantics)."""
    new_nodes, new_edges = fn(nodes, edges, rows)
    if validate:
        for name, before, after in (("nodes", nodes, new_nodes),
                                    ("edges", edges, new_edges)):
            if before is None or after is None:
                continue
            got = dict(after.limit(0).dtypes)  # forces analysis
            for col, dtype in before.dtypes:
                if col not in got:
                    raise ValueError(
                        f"custom update dropped required {name} column "
                        f"'{col}'"
                    )
                if got[col] != dtype:
                    raise ValueError(
                        f"custom update changed {name} column '{col}' "
                        f"from {dtype} to {got[col]}"
                    )
    return new_nodes, new_edges


def run_edge_update_query(
    spark: SparkSession,
    nodes: DataFrame,
    edges: Optional[DataFrame],
    rows: DataFrame,
    query: str,
    *,
    rel_type: str,
    dest_label: str = "N",
    key_col: str = "key",
    dest_mode: str = "merge",
    dedup_edges: bool = False,
):
    """Edge-creating update: ``query`` projects ``src_key``,
    ``dst_key``, and optional dest-property columns; see merge_edges
    (incl. ``dest_mode``: 'merge' default, 'create' for the
    reference-exact fresh-node-per-row semantics, 'none').
    Mirrors the reference's relationship-creating bulk_update
    (test_bulk_update.py:83-121) with the documented projection
    restriction."""
    projected = _project_rows(spark, rows, query)
    cols = projected.columns
    for need in ("src_key", "dst_key"):
        if need not in cols:
            raise ValueError(
                f"edge query must project '{need}' (got {cols})")
    return merge_edges(
        nodes, edges, projected,
        rel_type=rel_type, dest_label=dest_label, key_col=key_col,
        dest_mode=dest_mode, dedup_edges=dedup_edges,
    )
