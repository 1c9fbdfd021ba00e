"""Deterministic dense node-ID assignment and the node registry.

The reference keeps one in-memory dict identifier -> dense sequential
internal id, in node-file order then row order (studied at
/root/reference/redisgraph_bulk_loader/query_buffer.py:12-23,
label.py:51-61). Its batch-size-invariance test pins that internal ids
are stable regardless of batching. At cluster scale the dict becomes a
DataFrame and the counter is size-gated on one count. Dim-scale input
gets one global ``row_number`` window: a single task, cheaper at that
size than the jobs of the parallel path. Larger input gets the classic
two-job pattern, both jobs fully parallel:

  job 1: repartitionByRange on the stable sort key, count rows per
         partition (tiny collect — one long per partition)
  job 2: row_number within each partition + the partition's prefix-sum
         offset

Both give the same ids, invariant under partition count, which is what
checkpoint resume requires (``monotonically_increasing_id`` is neither
dense nor rerun-stable).

Duplicate identifiers follow the reference: last occurrence wins for
the mapping while all node rows are still created; strict mode fails
the job (label.py:51-61, test_reused_identifier).
"""

from __future__ import annotations

from itertools import accumulate
from typing import List, Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..exceptions import SchemaError


def assign_dense_ids(
    df: DataFrame,
    order_cols: List[str],
    *,
    id_col: str = "internal_id",
    start: int = 0,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Add a dense LONG id column numbered from ``start`` in
    ``order_cols`` order (a total order — add tie-breakers if not;
    nulls sort first). One ``df.count()`` picks the branch against
    ``canon.components.DRIVER_CC_THRESHOLD`` (read at call time): a
    global window at or below it, the range-partition path over
    ``num_partitions`` (default: the default parallelism) above.
    """
    from ..canon import components

    if df.count() <= components.DRIVER_CC_THRESHOLD:
        return df.withColumn(
            id_col,
            (F.row_number().over(Window.orderBy(*order_cols)) - 1 + start)
            .cast("long"),
        )
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    parted = df.repartitionByRange(n, *order_cols).sortWithinPartitions(*order_cols)
    # Persist before the two downstream jobs: repartitionByRange picks
    # its boundaries by *sampling per action*, so without materializing,
    # the counts job and the row_number job can see different partition
    # assignments and the offsets go stale. At production scale this
    # stage's output is checkpointed to the catalog anyway (IDs are
    # assigned once, then read back), so the persist window is short.
    from ..cache import pin

    with_pid = pin(parted.withColumn("_pid", F.spark_partition_id()))
    counts = {
        r["_pid"]: r["cnt"]
        for r in with_pid.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    # prefix sums from start; the gate guarantees at least one partition
    pids = sorted(counts)
    offsets = list(accumulate((counts[p] for p in pids[:-1]), initial=start))
    # Tiny broadcast dim (one row per partition) instead of a when-chain:
    # stays O(1) in plan size even at tens of thousands of partitions.
    # Built from pandas (Arrow, JVM-side decode) — a pickled-list
    # createDataFrame re-forks python workers on every materialization.
    import pandas as pd

    offsets_df = df.sparkSession.createDataFrame(
        pd.DataFrame({"_pid": pids, "_offset": offsets})
        .astype({"_pid": "int32", "_offset": "int64"}),
        schema="_pid int, _offset long",
    )
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        with_pid.join(F.broadcast(offsets_df), "_pid")
        .withColumn(id_col, F.row_number().over(w) - 1 + F.col("_offset"))
        .drop("_pid", "_offset")
    )


def detect_duplicates(
    nodes: DataFrame, key_cols: List[str], *, strict: bool
) -> DataFrame:
    """Reference dup-identifier semantics: warn/fail on reuse.

    strict=True raises on any duplicate key (reference exits unless
    skip_invalid_nodes); returns the input unchanged otherwise.
    """
    dups = (
        nodes.groupBy(*key_cols)
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > 1)
    )
    if strict:
        sample = dups.limit(1).collect()
        if sample:
            key = tuple(sample[0][c] for c in key_cols)
            shown = f"'{key[0]}'" if len(key) == 1 else str(key)
            raise SchemaError(
                f"Node identifier {shown} was used multiple times"
            )
    return nodes


def build_node_registry(
    nodes: DataFrame,
    key_cols: List[str],
    order_cols: List[str],
) -> DataFrame:
    """identifier -> dense internal id mapping with last-wins dedup.

    Mirrors the reference dict: a reused identifier's mapping points at
    its *latest* occurrence (label.py:60-61 overwrites unconditionally),
    while the node table itself keeps every row.
    Output: key_cols + internal_id.
    """
    ordered = assign_dense_ids(
        nodes.select(*dict.fromkeys(key_cols + order_cols)),
        order_cols,
    )
    return latest_per_key(ordered, key_cols, "internal_id").select(
        *key_cols, "internal_id")


def latest_per_key(df: DataFrame, key_cols: List[str],
                   order_col: str) -> DataFrame:
    """The last-occurrence rule: per ``key_cols``, the row with the
    largest ``order_col`` (the reference applies rows in file order, so
    its id dict and its MERGE both end on the latest row, label.py:60-61,
    bulk_update.py:106-119). Returns ``df``'s columns."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def assign_ids_after(existing: DataFrame, df: DataFrame,
                     order_cols: List[str], *,
                     id_col: str = "internal_id") -> DataFrame:
    """Number ``df``'s rows densely in ``order_cols`` order, after the
    largest ``internal_id`` of ``existing`` (from 0 when it is empty):
    the ids an update gives the nodes it creates. Lazy — the start id
    is a one-row aggregate cross-joined in and the rows are numbered by
    one global window, so no job runs before the caller's action;
    update sets are dim-scale (``plans.updater.upsert_nodes``)."""
    start = existing.agg(
        F.coalesce(F.max("internal_id") + 1, F.lit(0)).alias("_start"))
    rank = F.row_number().over(Window.orderBy(*order_cols)) - 1
    return (
        df.crossJoin(F.broadcast(start))
        .withColumn(id_col, (rank + F.col("_start")).cast("long"))
        .drop("_start")
    )
