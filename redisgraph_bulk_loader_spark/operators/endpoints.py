"""Edge endpoint resolution — the reference's only join.

The reference probes an in-memory identifier dict per edge row
(/root/reference/redisgraph_bulk_loader/relation_type.py:66-88;
build at label.py:51-61): unknown endpoint -> warn+skip when
skip_invalid_edges else fail.

Distributed form: two equi-joins of the edge stream against the node
registry (ns, ext_id) -> internal_id. The registry is broadcast when it
fits (dims up to low GBs on big executors); beyond that it is a shuffle
hash join, where hub entities (a handful of ids carrying a large
fraction of edges) would skew single reducers — handled here by
explicit salting (``skew.salted_join``): the registry side is
replicated salt-ways, the edge side salts uniformly, so hot keys spread
over the salt reducers. AQE skew-join remains the backstop.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..exceptions import CSVError
from .skew import salted_join


#: above this many registry rows the broadcast would OOM executors at
#: scale — auto mode switches to the salted shuffle join. Read at call
#: time, so tests can lower it.
BROADCAST_THRESHOLD_ROWS = 5_000_000


def resolve_endpoints(
    edges: DataFrame,
    registry: DataFrame,
    *,
    src_col: str = "src_id",
    dst_col: str = "dst_id",
    skip_invalid: bool = False,
    broadcast_registry: Optional[bool] = None,
    eager_check: bool = False,
) -> DataFrame:
    """edges(+src_col,dst_col) x registry(ext_id, internal_id) ->
    edges + (src_internal, dst_internal).

    strict (skip_invalid=False): any unresolved endpoint raises
    (reference: KeyError propagates). By default the check is *inline*
    (``raise_error`` fused into the projection, so validation
    piggybacks the real action — no extra job); ``eager_check=True``
    restores the fail-at-call-time behavior (extra job, dim-scale only).

    Join strategy: ``broadcast_registry=None`` (auto) counts the
    registry and broadcasts it up to ``BROADCAST_THRESHOLD_ROWS`` rows;
    above that (or with False) it runs ``skew.salted_join`` — billions
    of nodes must never broadcast.
    """
    if broadcast_registry is None:
        broadcast_registry = registry.count() <= BROADCAST_THRESHOLD_ROWS
    reg = registry.select("ext_id", "internal_id")
    if broadcast_registry:
        reg = F.broadcast(reg)
    joined = edges
    for key, out_col in ((src_col, "src_internal"), (dst_col, "dst_internal")):
        side = reg.select(F.col("ext_id").alias(key),
                          F.col("internal_id").alias(out_col))
        if broadcast_registry:
            joined = joined.join(side, key, "left")
        else:
            joined = salted_join(joined, side, [key], how="left")

    bad = F.col("src_internal").isNull() | F.col("dst_internal").isNull()
    if skip_invalid:
        return joined.filter(~bad)
    if eager_check:
        first_bad = joined.filter(bad).limit(1).collect()
        if first_bad:
            r = first_bad[0]
            raise CSVError(
                "Relationship specified a non-existent identifier. "
                f"src: {r[src_col]}; dest: {r[dst_col]}"
            )
        return joined
    # Inline strict validation: the error fires inside the projection of
    # whatever action consumes the result — the double-join runs ONCE,
    # not once for validation and again for the real action. BOTH
    # internal-id columns carry the guard, so a caller that projects
    # only one of them (column pruning drops the other) still validates.
    err = F.concat(
        F.lit("Relationship specified a non-existent identifier. src: "),
        F.coalesce(F.col(src_col).cast("string"), F.lit("null")),
        F.lit("; dest: "),
        F.coalesce(F.col(dst_col).cast("string"), F.lit("null")),
    )
    return joined.withColumn(
        "src_internal",
        F.when(bad, F.raise_error(err)).otherwise(F.col("src_internal")),
    ).withColumn(
        "dst_internal",
        F.when(bad, F.raise_error(err)).otherwise(F.col("dst_internal")),
    )
