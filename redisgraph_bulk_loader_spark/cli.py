"""Loader-compatible command-line interface.

Mirrors the reference's two console scripts flag-for-flag
(/root/reference/redisgraph_bulk_loader/bulk_insert.py:50-162 and
bulk_update.py:129-206), with the Redis connection replaced by a Spark
session + an output catalog directory:

    rgbl-spark-insert GRAPH --nodes example/Person.csv \
        --relations example/KNOWS.csv [--output DIR] [--master local[*]]
    rgbl-spark-update GRAPH --csv updates.csv \
        --query "row[0] AS ext_id, row[1] AS name" [--no-header]

Flags the reference exposes but that have no meaning without a Redis
server (--redis-url; the buffer-size trio; the updater's
--max-token-size) are accepted for drop-in compatibility: the insert
buffer sizes still flow into Config's validation envelope (identical
error messages), --redis-url is ignored with a note, and the updater
applies its rows as one MERGE whatever --max-token-size says.
``--index`` / ``--full-text-index`` record requested indexes in the
catalog manifest after the graph tables are written, matching the
reference's post-load index creation order (bulk_insert.py:235-263).
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from typing import Optional


def _session(master: str, app: str):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _insert_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="rgbl-spark-insert",
        description="Bulk-load CSV node/relation files into graph tables "
                    "(reference bulk_insert CLI, Spark backend).",
    )
    ap.add_argument("graph", help="graph name (also the default output dir)")
    ap.add_argument("--redis-url", "-u", default=None,
                    help="accepted for compatibility; ignored (no Redis)")
    ap.add_argument("--nodes", "-n", action="append", default=[],
                    metavar="CSV", help="path to node csv file")
    ap.add_argument("--nodes-with-label", "-N", nargs=2, action="append",
                    default=[], metavar=("LABEL", "CSV"),
                    help="label string followed by path to node csv file")
    ap.add_argument("--relations", "-r", action="append", default=[],
                    metavar="CSV", help="path to relation csv file")
    ap.add_argument("--relations-with-type", "-R", nargs=2, action="append",
                    default=[], metavar=("TYPE", "CSV"),
                    help="relation type string followed by path to csv file")
    ap.add_argument("--separator", "-o", default=",")
    ap.add_argument("--enforce-schema", "-d", action="store_true")
    ap.add_argument("--id-type", "-j", default="STRING")
    ap.add_argument("--skip-invalid-nodes", "-s", action="store_true")
    ap.add_argument("--skip-invalid-edges", "-e", action="store_true")
    ap.add_argument("--quote", "-q", type=int, default=0,
                    help="csv quoting: QUOTE_MINIMAL=0, QUOTE_ALL=1, "
                         "QUOTE_NONNUMERIC=2, QUOTE_NONE=3")
    ap.add_argument("--escapechar", "-x", default="\\",
                    help='escape char for the CSV reader; "none" disables')
    ap.add_argument("--max-token-count", "-c", type=int, default=1024)
    ap.add_argument("--max-buffer-size", "-b", type=int, default=64)
    ap.add_argument("--max-token-size", "-t", type=int, default=64)
    ap.add_argument("--index", "-i", action="append", default=[],
                    metavar="LABEL:PROP")
    ap.add_argument("--full-text-index", "-f", action="append", default=[],
                    metavar="LABEL:PROP")
    ap.add_argument("--output", default=None,
                    help="catalog root directory (default ./<graph>_graph)")
    ap.add_argument("--master", default="local[*]")
    return ap


def insert_main(argv: Optional[list] = None) -> int:
    args = _insert_parser().parse_args(argv)
    if not (args.nodes or args.nodes_with_label):
        print("At least one node file must be specified.", file=sys.stderr)
        return 1

    from .config import Config
    from .materialize import GraphCatalog
    from .plans.loader import bulk_insert

    store_ids = bool(args.relations or args.relations_with_type)
    config = Config(
        max_token_count=args.max_token_count,
        max_buffer_size=args.max_buffer_size,
        max_token_size=args.max_token_size,
        enforce_schema=args.enforce_schema,
        id_type=args.id_type,
        skip_invalid_nodes=args.skip_invalid_nodes,
        skip_invalid_edges=args.skip_invalid_edges,
        separator=args.separator,
        quoting=int(args.quote),
        store_node_identifiers=store_ids,
        escapechar=args.escapechar,
    )
    out_root = args.output or f"{args.graph}_graph"
    spark = _session(args.master, f"rgbl-insert-{args.graph}")
    catalog = GraphCatalog(spark, out_root)
    # Fresh-graph guard — reference refuses an existing Redis key
    # (bulk_insert.py:206-211).
    if catalog.exists("nodes"):
        print(f"Graph with name '{args.graph}', could not be created, "
              f"as catalog '{out_root}' already contains a graph.",
              file=sys.stderr)
        return 1

    # reference ordering: --nodes files first, then --nodes-with-label
    # (parse_schemas, bulk_insert.py:13-23); same for relations
    node_files = [(p, None) for p in args.nodes] + [
        (p, label) for label, p in args.nodes_with_label
    ]
    rel_files = [(p, None) for p in args.relations] + [
        (p, rtype) for rtype, p in args.relations_with_type
    ]

    t0 = time.time()
    g = bulk_insert(spark, node_files, rel_files, config)
    catalog.write("nodes", g.nodes, partition_by=["label"], stage="nodes",
                  input_fingerprint=None)
    catalog.write("node_registry", g.registry, stage="node_registry",
                  input_fingerprint=None)
    n_nodes = sum(r["n"] for r in g.node_counts.collect())
    n_edges = 0
    if g.edges is not None:
        catalog.write("edges", g.edges, partition_by=["rel_type"],
                      stage="edges", input_fingerprint=None)
        n_edges = sum(r["n"] for r in g.edge_counts.collect())
    wall = time.time() - t0
    # report_completion parity (query_buffer.py:93-97)
    print(f"{n_nodes} nodes created with label counts "
          f"{ {r['label']: r['n'] for r in g.node_counts.collect()} }")
    if g.edges is not None:
        print(f"{n_edges} relations created")
    if g.skipped_edges:
        print(f"{g.skipped_edges} invalid relations skipped")
    print(f"Construction of graph '{args.graph}' complete in "
          f"{wall:f} seconds")

    # Post-load index DDL, recorded after graph creation like the
    # reference (bulk_insert.py:235-263).
    for spec in args.index:
        label, prop = spec.split(":")
        print(f"Creating Index on Label: {label}, Property: {prop}")
        catalog.record_index(label, prop, kind="range")
    for spec in args.full_text_index:
        label, prop = spec.split(":")
        print(f"Creating Full Text Search Index on Label: {label}, "
              f"Property: {prop}")
        catalog.record_index(label, prop, kind="fulltext")
    spark.stop()
    return 0


def _update_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="rgbl-spark-update",
        description="Batched UNWIND-style updates against graph tables "
                    "(reference bulk_update CLI, Spark backend).",
    )
    ap.add_argument("graph", help="graph name / catalog directory")
    ap.add_argument("--redis-url", "-u", default=None,
                    help="accepted for compatibility; ignored (no Redis)")
    what = ap.add_mutually_exclusive_group(required=True)
    what.add_argument("--query", "-q", default=None,
                      help="SQL select list over the row variable, 0-based "
                           "cells: e.g. \"row[0] AS ext_id, row[1] AS name\"")
    what.add_argument("--custom", default=None, metavar="MODULE:FUNCTION",
                      help="arbitrary-mutation escape hatch (the analogue "
                           "of the reference accepting any Cypher "
                           "fragment): import FUNCTION from MODULE and run "
                           "it as fn(nodes, edges, rows) -> (nodes, edges) "
                           "via run_custom_update (compile-time plan + "
                           "schema validation before any write). rows is "
                           "the --csv content as "
                           "(row_idx, <var>: array<string>)")
    ap.add_argument("--variable-name", "-v", default="row")
    ap.add_argument("--csv", "-c", required=True, help="update CSV path")
    ap.add_argument("--separator", "-o", default=",")
    ap.add_argument("--no-header", "-n", action="store_true")
    ap.add_argument("--max-token-size", "-t", type=int, default=500,
                    help="accepted for compatibility; sizes nothing (the "
                         "update is applied as one MERGE)")
    ap.add_argument("--key-cols", default="ext_id",
                    help="comma-separated MERGE key columns "
                         "(the Spark analogue of the Cypher MERGE pattern); "
                         "'ext_id' transparently maps onto an insert-produced "
                         "catalog's 'key' column")
    ap.add_argument("--label", "-l", default="N",
                    help="label for nodes the update creates "
                         "(the :L in the reference's MERGE pattern)")
    ap.add_argument("--edge", action="store_true",
                    help="edge-creation mode (the reference's "
                         "'MATCH (src) CREATE (src)-[:R]->(dest)' shape): "
                         "--query must project src_key, dst_key, and "
                         "optional dest property columns. NOTE: dest "
                         "nodes are MERGEd by default (existing keys get "
                         "property-SET, not duplicated) — pass "
                         "--dest-mode create for the reference's exact "
                         "CREATE semantics (a fresh dest node per row)")
    ap.add_argument("--dest-mode", default="merge",
                    choices=["merge", "create", "none"],
                    help="dest-node handling in --edge mode: 'merge' "
                         "(default; upsert by key), 'create' "
                         "(reference-exact: fresh node per row, the "
                         "row's edge targets it), 'none' (dest must "
                         "already exist; unresolved rows dropped)")
    ap.add_argument("--rel-type", default="R",
                    help="relationship type for --edge mode")
    ap.add_argument("--merge-edges", action="store_true",
                    help="MERGE instead of CREATE semantics for the "
                         "edges themselves in --edge mode (new edges "
                         "deduped and skipped when an identical "
                         "src/dst/type edge exists; existing edges are "
                         "never touched)")
    ap.add_argument("--output", default=None,
                    help="catalog root directory (default ./<graph>_graph)")
    ap.add_argument("--master", default="local[*]")
    return ap


def update_main(argv: Optional[list] = None) -> int:
    args = _update_parser().parse_args(argv)
    from .materialize import GraphCatalog
    from .plans.updater import (
        compose_update_query,
        read_update_csv,
        run_edge_update_query,
        run_node_merge_query,
        run_update_query,
    )

    out_root = args.output or f"{args.graph}_graph"
    spark = _session(args.master, f"rgbl-update-{args.graph}")
    catalog = GraphCatalog(spark, out_root)
    if not catalog.exists("nodes"):
        print(f"Graph '{args.graph}' not found in catalog '{out_root}'.",
              file=sys.stderr)
        return 1
    existing = catalog.read("nodes")
    key_cols = args.key_cols.split(",")
    # An insert-produced catalog keys nodes by 'key'; the reference-
    # style default --key-cols ext_id transparently maps onto it.
    requested_key = key_cols[0]
    if (key_cols == ["ext_id"] and "ext_id" not in existing.columns
            and "key" in existing.columns):
        key_cols = ["key"]
    rows = read_update_csv(
        spark, args.csv, separator=args.separator,
        no_header=args.no_header, variable_name=args.variable_name,
    )
    if args.custom:
        import importlib

        from .plans.updater import run_custom_update

        mod_name, _, fn_name = args.custom.rpartition(":")
        if not mod_name:
            print("--custom must be MODULE:FUNCTION", file=sys.stderr)
            return 2
        try:
            fn = getattr(importlib.import_module(mod_name), fn_name)
        except (ImportError, AttributeError) as e:
            print(f"--custom target '{args.custom}' not importable: {e}",
                  file=sys.stderr)
            return 2
        edges = catalog.read("edges") if catalog.exists("edges") else None
        t0 = time.time()
        nodes2, edges2 = run_custom_update(existing, edges, rows, fn)
        # preserve each table's established layout (insert partitions
        # nodes by label and edges by rel_type; a custom rewrite must
        # not silently drop the partitioning)
        catalog.write("nodes", nodes2, stage="custom_update",
                      partition_by=catalog.current_partition_by("nodes"),
                      input_fingerprint=None)
        if edges2 is not None:
            catalog.write("edges", edges2, stage="custom_update",
                          partition_by=catalog.current_partition_by("edges"),
                          input_fingerprint=None)
        n = catalog.read("nodes").count()
        ne = catalog.read("edges").count() if edges2 is not None else 0
        print(f"Custom update of graph '{args.graph}' complete in "
              f"{time.time() - t0:f} seconds ({n} nodes, {ne} relations)")
        spark.stop()
        return 0
    print(compose_update_query(args.query, args.variable_name))
    t0 = time.time()
    if args.edge:
        edges = catalog.read("edges") if catalog.exists("edges") else None
        nodes2, edges2 = run_edge_update_query(
            spark, existing, edges, rows, args.query,
            rel_type=args.rel_type, dest_label=args.label,
            key_col=key_cols[0], dest_mode=args.dest_mode,
            dedup_edges=args.merge_edges,
        )
        catalog.write("nodes", nodes2, stage="update",
                      partition_by=catalog.current_partition_by("nodes"),
                      input_fingerprint=None)
        catalog.write("edges", edges2, stage="update",
                      partition_by=catalog.current_partition_by("edges"),
                      input_fingerprint=None)
        n = catalog.read("nodes").count()
        ne = catalog.read("edges").count()
        print(f"Update of graph '{args.graph}' complete in "
              f"{time.time() - t0:f} seconds ({n} nodes, {ne} relations)")
        spark.stop()
        return 0
    if "props_json" in existing.columns and len(key_cols) == 1:
        # loader-shaped nodes table: reference MERGE semantics — props
        # fold into props_json, unmatched keys create labeled nodes
        merged = run_node_merge_query(
            spark, existing, rows, args.query,
            key_col=key_cols[0], label=args.label,
            projected_key_col=requested_key,
        )
    else:
        merged = run_update_query(
            spark, existing, rows, args.query, key_cols=key_cols,
        )
    catalog.write("nodes", merged, stage="update",
                  partition_by=catalog.current_partition_by("nodes"),
                  input_fingerprint=None)
    n = catalog.read("nodes").count()
    print(f"Update of graph '{args.graph}' complete in "
          f"{time.time() - t0:f} seconds ({n} nodes)")
    spark.stop()
    return 0


def pipeline_main(argv: Optional[list] = None) -> int:
    """spark-submit entry for the KG-construction pipeline (the
    scripts/run_pipeline.py logic, importable as a console script)."""
    ap = argparse.ArgumentParser(prog="rgbl-spark-pipeline")
    ap.add_argument("--input", help="documents parquet/Iceberg path")
    ap.add_argument("--synthesize", type=int, default=0,
                    help="synthesize N docs instead of reading --input")
    ap.add_argument("--aliases",
                    help="alias dictionary parquet (surface, canonical_id)")
    ap.add_argument("--output", required=True, help="catalog root")
    ap.add_argument("--strict-spans", action="store_true")
    ap.add_argument("--lsh-threshold", type=float, default=0.5)
    ap.add_argument("--master", default=None,
                    help="override master (default: spark-submit's)")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("kg-construct")
    if args.master:
        builder = builder.master(args.master)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from .materialize import GraphCatalog
    from .plans import build_graph
    from .sources import alias_table, synthesize_documents

    if args.synthesize:
        docs = synthesize_documents(spark, args.synthesize, seed=42)
    elif args.input:
        docs = spark.read.parquet(args.input)
    else:
        ap.error("one of --input / --synthesize is required")

    aliases = (
        spark.read.parquet(args.aliases) if args.aliases else alias_table(spark)
    )
    catalog = GraphCatalog(spark, args.output)
    t0 = time.time()
    res = build_graph(
        spark, docs, aliases, catalog,
        lsh_threshold=args.lsh_threshold, strict_spans=args.strict_spans,
    )
    stats = {
        "wall_sec": round(time.time() - t0, 2),
        "nodes": res["nodes"].count(),
        "edges": res["edges"].count(),
        "triples": res["triples"].count(),
        "lineage": catalog.lineage(),
    }
    print(json.dumps(stats, indent=1))
    spark.stop()
    return 0
