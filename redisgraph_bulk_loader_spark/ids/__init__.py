from .assign import (  # noqa: F401
    assign_dense_ids,
    assign_ids_after,
    build_node_registry,
    detect_duplicates,
    latest_per_key,
)
