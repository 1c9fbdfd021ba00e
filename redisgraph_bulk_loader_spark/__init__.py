"""redisgraph_bulk_loader_spark — a from-scratch PySpark-native
knowledge-graph construction engine with the data-processing
capabilities of RedisGraph/redisgraph-bulk-loader.

The reference (at /root/reference, v0.12.3) is a streaming CSV→graph
encoder; this package generalizes it into a distributed pipeline:

- ``kernel``      per-cell type inference / enforced casting with exact
                  parity to the reference's rules (entity_file.py:33-176)
- ``schema``      driver-side header planning (name:TYPE, ID namespaces)
- ``sources``     deterministic spans-document corpus synthesis
- ``extract``     batched mention detection / triple extraction over
                  interleaved text+media spans (Arrow-vectorized)
- ``ids``         deterministic dense node-ID assignment + registries
- ``operators``   endpoint resolution joins, dedup family, similarity
                  search, text analysis
- ``link``        entity linking (broadcast alias dict + MinHash-LSH)
- ``canon``       connected-components canonicalization
- ``materialize`` node/edge/triple table writes, lineage, resume
- ``plans``       end-to-end pipeline orchestration
- ``streaming``   Structured Streaming ingestion of event streams
- ``cache``       persist-lifecycle registry (``release_pins`` is the
                  long-lived-session contract for reclaiming operator
                  caches)
"""

__version__ = "0.1.0"

from .cache import release_pins  # noqa: E402,F401 (session contract)
