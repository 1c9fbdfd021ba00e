"""Loader-compatibility plan: CSV node/relation files -> graph tables.

The distributed re-expression of the reference CLI's end-to-end
lifecycle (studied at /root/reference/redisgraph_bulk_loader/
bulk_insert.py:143-232): schema pass -> node pass (typing, ID dict,
dense ids) -> edge pass (endpoint resolution) -> sink.

Reading: ``_record_source`` is the package's one CSV reader — the
loader and the updater (``updater.read_update_csv``) both take its
``(row_idx, cells)`` records — and ``_csv_records`` is its one parse:
the reference's python-csv reader dialect (entity_file.py:192-202,
bulk_update.py:82-104), spelled once. The header is that parse's first
record over the file's head, read through Hadoop FS like the records,
so a quoted header loses its quotes exactly as python csv's does
and scheme-qualified paths (file://, hdfs://) load.

Ordering semantics: the reference assigns internal node ids in
file-CLI-order then row-order (query_buffer.py:12-23). Row order inside
a CSV is recovered here with a per-file zipWithIndex over the raw lines
(the one RDD use in this package — a genuine need: row position IS the
reference's ordering key), or with the record index of the quoted
dialects' parse. Loader-compat inputs are dimension-scale; the
10^12-row path is the documents pipeline.

Typing: every cell goes through the kernel (schemaless inference or
enforced cast); NULL cells become *absent* map keys
(test_no_null_values, test_bulk_loader.py:627-654).
"""

from __future__ import annotations

import csv as _csv
import io
from typing import Callable, Iterable, Iterator, List, Optional, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..config import Config
from ..exceptions import CSVError
from ..ids import assign_dense_ids, detect_duplicates
from ..kernel.typing_kernel import TAG_NULL, canonical_literal, cast_cell, infer_cell
from ..schema import ColumnPlan, HType, parse_header

#: (row_idx, cells): one csv record per row, numbered from 0 with the
#: header as record 0 — the shape every reader below returns
_CELLS_SCHEMA = StructType([
    StructField("row_idx", LongType()),
    StructField("cells", ArrayType(StringType())),
])


def _csv_records(text: str, cfg: Config) -> Iterator[List[str]]:
    """The reference dialect (entity_file.py:192-202, bulk_update.py:
    82-104) over ``text``: ``cfg``'s delimiter, quoting and escape
    char, leading spaces skipped. The package's one csv reader — the
    header and every record path parse through it."""
    reader = _csv.reader(
        io.StringIO(text), delimiter=cfg.separator, skipinitialspace=True,
        quoting=cfg.quoting, escapechar=cfg.escapechar,
    )
    return ([str(c) for c in row] for row in reader)


def _parse_cells(
    df: DataFrame, records: Callable[[pd.DataFrame], Iterable]
) -> DataFrame:
    """(row_idx, cells) from ``records(batch)``, which yields the
    ``(row_idx, cells)`` pairs of one Arrow batch of ``df``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            idx, rows = [], []
            for i, row in records(pdf):
                idx.append(int(i))
                rows.append(row)
            yield pd.DataFrame({"row_idx": idx, "cells": rows})

    return df.mapInPandas(run, schema=_CELLS_SCHEMA)


def _lines_with_index(
    spark: SparkSession, path: str, skip_header: bool = True
) -> DataFrame:
    """(line, row_idx) preserving file order; header dropped unless
    ``skip_header=False``."""
    rdd = spark.sparkContext.textFile(path).zipWithIndex()
    df = spark.createDataFrame(
        rdd, StructType([StructField("line", StringType()),
                         StructField("row_idx", LongType())])
    )
    return df.filter(F.col("row_idx") > 0) if skip_header else df


def _logical_cells(
    spark: SparkSession, path: str, cfg: Config, skip_header: bool = True
) -> DataFrame:
    """(row_idx, cells) via a whole-file csv parse — the only correct
    reading when quoting is enabled: a quoted field may contain an
    embedded newline (the reference iterates the file object with
    a python csv reader, entity_file.py:192-202, which handles them), so
    physical lines are not records. Loader-compat inputs are dim-scale
    (the reference's largest tested load is 100k rows); the single-task
    parse is bounded by that, while the 10^12-row path (documents
    pipeline, and the QUOTE_NONE default dialect where lines ARE
    records) stays distributed."""
    first = 1 if skip_header else 0
    return _parse_cells(
        spark.read.text(path, wholetext=True),
        lambda pdf: (
            (i, row)
            for text in pdf["value"]
            for i, row in enumerate(_csv_records(text, cfg))
            if i >= first
        ),
    )


#: above this input size the single-task whole-file parse (the only
#: fully-general quoted-dialect reader) is replaced by the distributed
#: quote-state record assembly — a large CSV loaded with the CLI
#: default --quote 0 (QUOTE_MINIMAL) must not lose all parallelism or
#: OOM one executor (ADVICE r3).
WHOLE_FILE_MAX_BYTES = 32 << 20


def _input_size_bytes(spark: SparkSession, path: str) -> int:
    """Total byte size of ``path`` via the Hadoop FileSystem API (works
    for any scheme Spark can read)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return int(fs.getContentSummary(p).getLength())


def _scan_quote_state(line, in_q, sep, esc):
    """Exit ``(in_quote, dangling_escape)`` of one physical line given
    the entering in-quote state, following python csv's quoting state
    machine (doublequote=True; a quote OPENS quoting only at field
    start — optionally after skipped initial spaces — while a mid-field
    quote is literal data; escapechar escapes the next char in either
    state; an escapechar as the line's last char escapes the newline
    itself, so the record continues)."""
    at_fs = not in_q
    dangling = False
    i, n = 0, len(line)
    while i < n:
        c = line[i]
        if esc is not None and c == esc:
            if i + 1 >= n:
                dangling = True
                break
            i += 2
            at_fs = False
            continue
        if in_q:
            if c == '"':
                if i + 1 < n and line[i + 1] == '"':
                    i += 2  # doubled quote: literal, stays quoted
                    continue
                in_q = False
                at_fs = False
            i += 1
            continue
        if c == sep:
            at_fs = True
        elif c == '"' and at_fs:
            in_q = True
        elif c == " " and at_fs:
            pass  # skipinitialspace: still at field start
        else:
            at_fs = False
        i += 1
    return in_q, dangling


def _read_head(
    spark: SparkSession, path: str
) -> Optional[Tuple[bytes, int]]:
    """``(first 64 KiB, byte size)`` of ``path`` — of its first
    listed file for a directory — or None when the path does not
    exist.

    Reads through the Hadoop FileSystem API (the handle the record
    readers and ``_input_size_bytes`` use) so the header and the line
    terminator come from the same bytes as the records for every scheme
    Spark reads — file://, hdfs://, s3a://; a local open() fails on the
    URI forms."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return None
    if fs.getFileStatus(p).isDirectory():
        for st in fs.listStatus(p):
            if st.isFile():
                p = st.getPath()
                break
    size = int(fs.getFileStatus(p).getLen())
    stream = fs.open(p)
    try:
        # commons-io (on Spark's classpath) reads exactly n bytes and
        # returns byte[] -> python bytes in ONE py4j roundtrip; a
        # per-byte stream.read() loop would be 64k roundtrips.
        head = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(
            stream, min(size, 1 << 16)))
    finally:
        stream.close()
    return head, size


def _read_header(spark: SparkSession, path: str, cfg: Config) -> List[str]:
    """The file's first csv record under ``cfg``'s dialect — the row
    the reference's reader yields first (entity_file.py:192-202). A
    header of 64 KiB or more, terminator included, raises CSVError."""
    read = _read_head(spark, path)
    if read is None:
        raise FileNotFoundError(f"{path} does not exist")
    head, size = read
    records = _csv_records(head.decode("utf-8", errors="replace"), cfg)
    header = next(records, [])
    if next(records, None) is None and len(head) < size:
        raise CSVError(f"{path}: header record is 64 KiB or longer")
    return header


def _sniff_newline(spark: SparkSession, path: str) -> str:
    """Line terminator of the file ("\r\n" or "\n") from its head —
    Hadoop's line reader strips BOTH, so record reassembly must rejoin
    embedded (in-quote) line breaks with the original terminator or
    multi-line cell bytes differ from the whole-file parse. A missing
    path gives "\n", the placeholder for a plan whose read fails."""
    try:
        read = _read_head(spark, path)
    except Exception as e:  # pragma: no cover - env-specific failures
        # An EXISTING file we cannot sniff (transient remote-FS error,
        # stripped commons-io, ...) must not silently corrupt CRLF
        # multi-line cells — warn before assuming '\n'.
        import warnings

        warnings.warn(
            f"newline sniff failed for {path} ({e!r}); assuming '\\n' — "
            "CRLF files with quoted multi-line fields may reassemble "
            "with the wrong terminator",
            RuntimeWarning,
        )
        return "\n"
    return "\r\n" if read is not None and b"\r\n" in read[0] else "\n"


def _distributed_logical_cells(
    spark: SparkSession, path: str, cfg: Config, skip_header: bool = True
) -> DataFrame:
    """(row_idx, cells) for quoted dialects WITHOUT a single-task
    whole-file parse: quoted fields may span physical lines, so
    physical lines must be reassembled into csv records before parsing.

    A physical line starts a new record iff the previous line ended
    outside a quoted field with no dangling escape. The quoting state
    machine is simulated per line (``_scan_quote_state`` — a faithful
    python-csv twin: mid-field literal quotes do NOT toggle state,
    doubled quotes stay inside the quoted field); since the entering
    state of a partition is unknown until its predecessors finish, each
    task runs the simulation under BOTH entering assumptions (outside /
    inside a quote) in one pass — mapInPandas hands one task the whole
    partition's batches in order, so the dual state threads across
    batches. The driver then folds the per-partition summaries (a few
    longs per partition — nothing scales with rows) into each
    partition's actual entering state + global record offset, and a
    broadcast join picks the right per-line record id. groupBy glues
    each record's lines back together (joined with the file's sniffed
    line terminator, so CRLF files keep their in-cell bytes), then the
    usual Arrow-batched csv parse runs per record. Scales with
    partitions, not file size.

    Known deviation (pathological): a line ending in a bare escapechar
    continues the record (correct), but a quote as the literal FIRST
    char of the continuation line is treated as opening a quoted field
    even though python csv would consider it mid-field; no real dialect
    hits this (escaped newlines in quoted dialects are not exercised by
    the reference either)."""
    from pyspark.sql.types import BooleanType, IntegerType

    sep, esc = cfg.separator, cfg.escapechar
    newline = _sniff_newline(spark, path)

    from ..cache import pin

    lines = _lines_with_index(spark, path, skip_header=False).withColumn(
        "_pid", F.spark_partition_id()
    )

    scan_schema = StructType([
        StructField("row_idx", LongType()),
        StructField("line", StringType()),
        StructField("_pid", IntegerType()),
        StructField("_cnt_o", LongType()),
        StructField("_cnt_i", LongType()),
        StructField("_exq_o", BooleanType()),
        StructField("_dng_o", BooleanType()),
        StructField("_exq_i", BooleanType()),
        StructField("_dng_i", BooleanType()),
    ])

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # dual simulation threads across this task's (= partition's)
        # batches: state under the entered-outside / entered-inside
        # assumptions
        st = {"O": (False, False), "I": (True, False)}
        cnt = {"O": 0, "I": 0}
        for pdf in batches:
            out = {f.name: [] for f in scan_schema.fields}
            for row_idx, line, pid in zip(
                pdf["row_idx"], pdf["line"], pdf["_pid"]
            ):
                line = str(line)
                quick = '"' not in line and (esc is None or esc not in line)
                for tag in ("O", "I"):
                    in_q, dang = st[tag]
                    if not (in_q or dang):
                        cnt[tag] += 1  # this line starts a record
                    if quick:
                        st[tag] = (in_q, False)
                    else:
                        st[tag] = _scan_quote_state(line, in_q, sep, esc)
                out["row_idx"].append(int(row_idx))
                out["line"].append(line)
                out["_pid"].append(int(pid))
                out["_cnt_o"].append(cnt["O"])
                out["_cnt_i"].append(cnt["I"])
                out["_exq_o"].append(st["O"][0])
                out["_dng_o"].append(st["O"][1])
                out["_exq_i"].append(st["I"][0])
                out["_dng_i"].append(st["I"][1])
            yield pd.DataFrame(out)

    scanned = pin(lines.mapInPandas(scan, schema=scan_schema))
    stats = (
        scanned.groupBy("_pid")
        .agg(
            F.min("row_idx").alias("_min_idx"),
            F.max("_cnt_o").alias("_n_o"),
            F.max("_cnt_i").alias("_n_i"),
            F.max_by("_exq_o", "row_idx").alias("_exq_o"),
            F.max_by("_dng_o", "row_idx").alias("_dng_o"),
            F.max_by("_exq_i", "row_idx").alias("_exq_i"),
            F.max_by("_dng_i", "row_idx").alias("_dng_i"),
        )
        .collect()
    )
    stats.sort(key=lambda r: r["_min_idx"])
    # driver fold: resolve each partition's actual entering state
    # (quote state + was-the-boundary-line-a-continuation) and its
    # global record-id offset
    offsets = []  # (pid, use_in, soff, adj)
    enter_q, enter_d = False, False
    soff = 0
    for r in stats:
        cont = enter_q or enter_d
        use_in = enter_q
        # entering outside-quote but mid-record (dangling escape): the
        # partition's first line was counted as a start by the OUT
        # simulation — shift its running count down by one
        adj = 1 if (not enter_q and cont) else 0
        offsets.append((int(r["_pid"]), bool(use_in), soff, adj))
        soff += int(r["_n_i"] if use_in else r["_n_o"]) - adj
        if use_in:
            enter_q, enter_d = bool(r["_exq_i"]), bool(r["_dng_i"])
        else:
            enter_q, enter_d = bool(r["_exq_o"]), bool(r["_dng_o"])
    off_df = F.broadcast(spark.createDataFrame(
        offsets, "_pid int, _use_in boolean, _soff long, _adj long"))
    rec_id = (
        F.col("_soff")
        + F.when(F.col("_use_in"), F.col("_cnt_i")).otherwise(F.col("_cnt_o"))
        - 1 - F.col("_adj")
    )
    records = (
        scanned.join(off_df, "_pid")
        .withColumn("_rec", rec_id)
        .groupBy("_rec")
        .agg(
            F.concat_ws(
                newline,
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("row_idx", "line"))
                    ),
                    lambda s: s["line"],
                ),
            ).alias("_text")
        )
    )
    if skip_header:
        records = records.filter(F.col("_rec") > 0)
    return _parse_cells(
        records,
        lambda pdf: (
            (rec, next(_csv_records(text, cfg), []))
            for rec, text in zip(pdf["_rec"], pdf["_text"])
        ),
    )


def _record_source(
    spark: SparkSession, path: str, cfg: Config, *, skip_header: bool = True
) -> DataFrame:
    """(row_idx, cells) for every record of ``path`` under ``cfg``'s
    dialect, the header (record 0) dropped unless ``skip_header=False``.
    QUOTE_NONE (the reference default, where a newline always ends a
    record) splits physical lines distributed and parses each batch's
    lines; quoted dialects parse the whole file in one task up to
    ``WHOLE_FILE_MAX_BYTES`` and assemble quote-state records
    distributed above it (quoted fields may span lines, but a large
    file must not funnel through a single task)."""
    if cfg.quoting == _csv.QUOTE_NONE:
        return _parse_cells(
            _lines_with_index(spark, path, skip_header),
            lambda pdf: zip(pdf["row_idx"], _csv_records(
                "\n".join(pdf["line"].astype(str)), cfg)),
        )
    if _input_size_bytes(spark, path) > WHOLE_FILE_MAX_BYTES:
        return _distributed_logical_cells(spark, path, cfg, skip_header)
    return _logical_cells(spark, path, cfg, skip_header)


def _parse_rows(
    cells: DataFrame, plan: ColumnPlan, cfg: Config, path: str
) -> DataFrame:
    """Validate each record's arity and type every property cell
    through the kernel. Input is ``_record_source``'s (row_idx, cells).
    Output columns:
    row_idx, _key fields, props (map<string, canonical literal string>),
    plus typed id/endpoint columns."""
    n_cols = plan.column_count
    prop_cols: List[Tuple[int, str, Optional[HType]]] = [
        (i, plan.column_names[i], plan.types[i] if plan.types else None)
        for i in range(n_cols)
        if plan.column_names[i] is not None
    ]
    enforce = cfg.enforce_schema
    kind, id_off = plan.kind, plan.id
    s_off, e_off = plan.start_id, plan.end_id

    out_fields = [
        StructField("row_idx", LongType()),
        StructField("props_json", StringType()),
    ]
    if kind == "node":
        out_fields.append(StructField("ext_id", StringType()))
    else:
        out_fields.append(StructField("src_id", StringType()))
        out_fields.append(StructField("dst_id", StringType()))
    schema = StructType(out_fields)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import json

        for pdf in batches:
            out = {f.name: [] for f in schema.fields}
            for row_idx, row in zip(pdf["row_idx"], pdf["cells"]):
                if len(row) != n_cols:
                    raise CSVError(
                        f"{path}:{int(row_idx)} Expected {n_cols} columns, "
                        f"encountered {len(row)}"
                    )
                props = {}
                for off, name, htype in prop_cols:
                    raw = row[off]
                    if enforce:
                        cell = cast_cell(raw, htype)
                    else:
                        cell = infer_cell(raw)
                    if cell.t != TAG_NULL:
                        props[name] = canonical_literal(cell)
                out["row_idx"].append(int(row_idx))
                out["props_json"].append(json.dumps(props, ensure_ascii=False))
                # identifiers keep trailing whitespace: the reference only
                # skips leading space (skipinitialspace), so 'a' and 'a '
                # are distinct node keys (entity_file.py csv dialect)
                if kind == "node":
                    out["ext_id"].append(row[id_off])
                else:
                    out["src_id"].append(row[s_off])
                    out["dst_id"].append(row[e_off])
            yield pd.DataFrame(out)

    return cells.mapInPandas(run, schema=schema)


def _ns_prefixed(col, namespace: Optional[str]):
    if namespace:
        return F.concat(F.lit(namespace + "."), col)
    return col


class BulkGraph:
    """Result bundle: nodes / edges / registry DataFrames."""

    def __init__(self, nodes, edges, registry, node_counts, edge_counts,
                 skipped_edges):
        self.nodes = nodes
        self.edges = edges
        self.registry = registry
        self.node_counts = node_counts
        self.edge_counts = edge_counts
        self.skipped_edges = skipped_edges


def bulk_insert(
    spark: SparkSession,
    node_files: Sequence[Tuple[str, Optional[str]]],
    relation_files: Sequence[Tuple[str, Optional[str]]] = (),
    config: Optional[Config] = None,
) -> BulkGraph:
    """(path, label_or_None) lists -> graph tables.

    Matches the reference lifecycle: all node files first (complete
    registry), then relation files. Duplicate identifiers: last wins in
    the registry, every row still becomes a node; strict mode fails
    (label.py:51-61).
    """
    cfg = config or Config()
    if relation_files:
        cfg.store_node_identifiers = True

    node_frames = []
    plans: List[ColumnPlan] = []
    for file_idx, (path, label) in enumerate(node_files):
        header = _read_header(spark, path, cfg)
        entity = label or path.rsplit("/", 1)[-1].rsplit(".", 1)[0]
        plan = parse_header(
            header, "node", entity,
            enforce_schema=cfg.enforce_schema, id_type=cfg.id_type,
            store_node_identifiers=cfg.store_node_identifiers, source=path,
        )
        plans.append(plan)
        parsed = _parse_rows(_record_source(spark, path, cfg), plan, cfg, path)
        node_frames.append(
            parsed.select(
                F.lit(file_idx).alias("file_idx"),
                "row_idx",
                F.lit(plan.entity_str).alias("label"),
                _ns_prefixed(F.col("ext_id"), plan.id_namespace).alias("key"),
                "props_json",
            )
        )
    all_nodes = node_frames[0]
    for f in node_frames[1:]:
        all_nodes = all_nodes.unionByName(f)

    # dense internal ids in (file, row) order — reference counter parity
    from ..cache import pin

    with_ids = pin(assign_dense_ids(all_nodes, ["file_idx", "row_idx"]))

    # duplicate identifiers
    if cfg.store_node_identifiers and not cfg.skip_invalid_nodes:
        detect_duplicates(with_ids, ["key"], strict=True)
    registry = (
        with_ids.groupBy("key").agg(F.max("internal_id").alias("internal_id"))
    )  # last occurrence wins (max internal id == latest row)

    nodes = with_ids.select("internal_id", "label", "key", "props_json")
    node_counts = nodes.groupBy("label").agg(F.count("*").alias("n"))

    edges = None
    skipped = 0
    edge_frames = []
    for path, rtype in relation_files:
        header = _read_header(spark, path, cfg)
        entity = rtype or path.rsplit("/", 1)[-1].rsplit(".", 1)[0]
        plan = parse_header(
            header, "relation", entity,
            enforce_schema=cfg.enforce_schema, id_type=cfg.id_type,
            source=path,
        )
        parsed = _parse_rows(_record_source(spark, path, cfg), plan, cfg, path)
        edge_frames.append(
            parsed.select(
                F.lit(plan.entity_str).alias("rel_type"),
                _ns_prefixed(F.col("src_id"), plan.start_namespace).alias("src_key"),
                _ns_prefixed(F.col("dst_id"), plan.end_namespace).alias("dst_key"),
                "props_json",
            )
        )
    if edge_frames:
        from ..operators.endpoints import resolve_endpoints

        all_edges = edge_frames[0]
        for f in edge_frames[1:]:
            all_edges = all_edges.unionByName(f)
        reg = registry.select(F.col("key").alias("ext_id"), "internal_id")
        # eager_check: the reference CLI fails at load time with a typed
        # error (relation_type.py:74-88); loader inputs are dim-scale,
        # so the extra validation job is bounded
        resolved = resolve_endpoints(
            all_edges, reg,
            src_col="src_key", dst_col="dst_key",
            skip_invalid=cfg.skip_invalid_edges,
            broadcast_registry=True, eager_check=True,
        )
        if cfg.skip_invalid_edges:
            skipped = all_edges.count() - resolved.count()
        edges = resolved.select(
            "src_internal", "dst_internal", "rel_type", "props_json"
        )
    edge_counts = (
        edges.groupBy("rel_type").agg(F.count("*").alias("n"))
        if edges is not None else None
    )
    return BulkGraph(nodes, edges, registry, node_counts, edge_counts, skipped)
