"""Streaming / incremental graph updates.

The reference's bulk-update path applies batched Cypher UNWIND updates
to an existing graph (studied at /root/reference/redisgraph_bulk_loader/
bulk_update.py:37-122): rows arrive, are quoted/typed, batched by size,
and MERGEd incrementally — partial failure leaves earlier batches
applied (README.md:205).

Spark mapping:
- ``incremental_graph_update``: batch MERGE semantics — new rows are
  upserted into the nodes table keyed by ext_id (insert-if-absent,
  last-wins property update), exactly the CREATE/MERGE idempotency the
  reference tests pin (test_bulk_update.py:28-81).
- ``stream_events_to_graph``: Structured Streaming ingestion — a
  readStream source of events becomes micro-batched upserts via
  ``foreachBatch`` (each micro-batch is one incremental commit, the
  streaming analogue of the reference's size-bounded batches).
"""

from __future__ import annotations

from typing import Callable, List, Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def incremental_graph_update(
    existing_nodes: DataFrame,
    updates: DataFrame,
    key_cols: List[str],
    *,
    order_col: Optional[str] = None,
) -> DataFrame:
    """MERGE semantics: upsert ``updates`` into ``existing_nodes`` on
    key_cols. With ``order_col`` (or a ``row_idx`` column, auto-detected),
    the last occurrence by that order wins — the reference applies rows
    strictly in file order (bulk_update.py:106-119). Without any order
    column a DataFrame has no row order, so dropDuplicates keeps an
    *arbitrary* row per key; callers needing reference parity must carry
    an order column (the loader's row_idx). Running it twice with the
    same updates is a no-op (idempotent MERGE, test_bulk_update.py:28-81)."""
    cols = existing_nodes.columns
    if order_col is None and "row_idx" in updates.columns:
        order_col = "row_idx"
    if order_col:
        w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
        upd = (
            updates.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select(*cols)
        )
    else:
        upd = updates.select(*cols).dropDuplicates(key_cols)
    kept = existing_nodes.join(upd.select(*key_cols), key_cols, "left_anti")
    return kept.unionByName(upd)


def stream_events_to_graph(
    events_stream: DataFrame,
    apply_batch: Callable[[DataFrame, int], None],
    *,
    checkpoint_dir: str,
    trigger_once: bool = True,
    output_mode: str = "update",
):
    """Wire a streaming events DataFrame into micro-batched graph
    updates. ``apply_batch(batch_df, batch_id)`` performs the MERGE
    (typically incremental_graph_update + catalog write). Returns the
    StreamingQuery. Watermarking/dedup belongs to the caller's
    transformations on ``events_stream``; a stream carrying an
    append-mode stateful operator (e.g. ``dedup_stream``) must pass
    ``output_mode='append'`` — Spark's unsupported-operation check
    rejects it under the default update mode."""
    writer = (
        events_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_documents_to_graph(
    docs_stream: DataFrame,
    dim: DataFrame,
    catalog,
    *,
    checkpoint_dir: str,
    table: str = "triples_stream",
    trigger_once: bool = True,
    compact_every: Optional[int] = None,
    dedup_exact: bool = False,
    dedup_ttl_ms: Optional[int] = None,
):
    """Streaming KG ingestion: a readStream of spans-documents flows
    through the SAME batch operators (extract_mentions ->
    link_mentions against a prebuilt broadcast dim) inside
    ``foreachBatch``, and each micro-batch lands one DELTA snapshot —
    only the batch's own triples are written (Iceberg fast-append
    shape), so write volume is O(batch) per commit, not a full rewrite
    of the accumulated table (ADVICE r3). The commit log still gives
    incremental semantics: partial failure leaves prior batches
    applied, the checkpoint prevents reprocessing, and ``read`` unions
    the delta chain. ``compact_every=K`` collapses the chain into one
    full snapshot whenever it exceeds K members (bounding the read
    fan-in for a long-running stream); without it, run
    ``catalog.compact(table)`` periodically yourself.
    Canonicalization (connected components) is
    a corpus-global operation and stays a periodic batch job over the
    accumulated table — document-level extraction+linking is the
    per-batch increment.

    ``dim`` is ``build_alias_dim(aliases)``: a lazy aggregate over the
    alias table, so every micro-batch re-runs it. A long-running stream
    can checkpoint it once before starting:
    ``F.broadcast(build_alias_dim(aliases).checkpoint())`` (the
    checkpoint drops the broadcast hint, hence the re-wrap).

    ``dedup_exact=True`` interposes the stateful ingest dedup
    (``dedup_stream``) BEFORE extraction, keyed on the canonical JSON
    of the span sequence (the per-row invariant the pipeline
    preserves): a document whose exact span content already flowed
    through the stream is dropped, so re-crawled/replayed pages never
    re-extract or re-land triples. ``dedup_ttl_ms`` bounds that state
    (idle fingerprints are forgotten and re-emit — the standard
    bounded-state tradeoff); default is exact-forever.

    Returns the StreamingQuery."""
    from ..extract import extract_mentions

    if dedup_exact:
        from .stateful import dedup_stream

        docs_stream = dedup_stream(
            docs_stream,
            key_col=F.md5(F.to_json(F.col("spans"))),
            state_ttl_ms=dedup_ttl_ms,
        )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        from ..link import link_mentions

        linked = link_mentions(
            extract_mentions(batch_df), dim=dim, broadcast_vocab=True
        )
        triples = (
            linked
            .filter(F.col("subj_cid").isNotNull()
                    & F.col("obj_cid").isNotNull())
            .select(
                "doc_id",
                F.col("subj_cid").alias("subj"),
                "pred",
                F.col("obj_cid").alias("obj"),
            )
        )
        catalog.write(table, triples, mode="delta",
                      stage=f"stream_batch_{batch_id}")
        if compact_every:
            catalog.compact_if_chain_exceeds(table, compact_every)

    return stream_events_to_graph(
        docs_stream, apply, checkpoint_dir=checkpoint_dir,
        trigger_once=trigger_once,
        output_mode="append" if dedup_exact else "update",
    )


def windowed_event_counts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_duration: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming windowed aggregation with late-data policy: events
    later than ``watermark`` behind the stream's max event time are
    dropped; windows finalize (append mode) once the watermark passes
    their end. Works identically on batch frames (watermark is a no-op
    there), so the DuckDB-oracled batch query is this plan's twin."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_duration).alias("w"), F.col(key_col))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("win_start"), key_col, "n")
    )


def sessionize_events(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
) -> DataFrame:
    """Gap-based sessionization (batch form): a new session starts when
    the previous event of the same user is more than ``gap_minutes``
    older. Returns events + session_id. Window-function form is
    SQL-expressible for the DuckDB oracle."""
    w = Window.partitionBy(user_col).orderBy(ts_col)
    prev_ts = F.lag(ts_col).over(w)
    # Exact microsecond gap via timestamp_diff — unix_timestamp()
    # truncates to whole seconds and misclassifies gaps within <1s of
    # the boundary (DuckDB's epoch() keeps microseconds). Works on both
    # TIMESTAMP and TIMESTAMP_NTZ, timezone-independent.
    gap_us = F.timestamp_diff("MICROSECOND", prev_ts, F.col(ts_col))
    new_sess = (
        prev_ts.isNull() | (gap_us > gap_minutes * 60 * 1_000_000)
    ).cast("int")
    sess_idx = F.sum(new_sess).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.withColumn(
        "session_id",
        F.concat_ws("-", F.col(user_col).cast("string"), sess_idx.cast("string")),
    )
