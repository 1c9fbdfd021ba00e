"""Deterministic dense node-ID assignment and the node registry.

The reference keeps one in-memory dict identifier -> dense sequential
internal id, in node-file order then row order (studied at
/root/reference/redisgraph_bulk_loader/query_buffer.py:12-23,
label.py:51-61). Its batch-size-invariance test pins that internal ids
are stable regardless of batching. At cluster scale the dict becomes a
DataFrame and the counter becomes the classic two-job pattern:

  job 1: repartitionByRange on the stable sort key, count rows per
         partition (tiny collect — one long per partition)
  job 2: row_number within each partition + the partition's prefix-sum
         offset

``monotonically_increasing_id`` is neither dense nor rerun-stable, and
a single global window would serialize on one task — this pattern keeps
both jobs fully parallel and the result invariant under partition
count, which is what checkpoint resume requires.

Duplicate identifiers follow the reference: last occurrence wins for
the mapping while all node rows are still created; strict mode fails
the job (label.py:51-61, test_reused_identifier).
"""

from __future__ import annotations

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
    """Add a dense 0-based id column ordered by ``order_cols``.

    ``order_cols`` must be a total order (add tie-breakers if not);
    determinism across reruns and partition counts follows from the
    range partitioner + in-partition sort using only the data itself.
    """
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
    offsets = {}
    acc = start
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    # Tiny broadcast dim (one row per partition) instead of a when-chain:
    # stays O(1) in plan size even at tens of thousands of partitions.
    # Built from pandas (Arrow, JVM-side decode) — a pickled-list
    # createDataFrame re-forks python workers on every materialization.
    import pandas as pd

    spark = df.sparkSession
    items = sorted(offsets.items()) or [(0, start)]
    offsets_pdf = pd.DataFrame(
        {"_pid": [int(p) for p, _ in items],
         "_offset": [int(o) for _, o in items]}
    ).astype({"_pid": "int32", "_offset": "int64"})
    offsets_df = spark.createDataFrame(
        offsets_pdf, schema="_pid int, _offset long"
    )
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        with_pid.join(F.broadcast(offsets_df), "_pid", "left")
        .withColumn(
            id_col,
            F.row_number().over(w) - 1 + F.coalesce(F.col("_offset"), F.lit(start)),
        )
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
            raise SchemaError(
                f"Node identifier {tuple(sample[0][c] for c in key_cols)} "
                f"was used multiple times"
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
    w = Window.partitionBy(*key_cols).orderBy(F.col("internal_id").desc())
    return (
        ordered.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
        .select(*key_cols, "internal_id")
    )
