from .documents import (  # noqa: F401
    DOCUMENTS_SCHEMA,
    GOLD_SCHEMA,
    alias_table,
    synthesize_documents,
    synthesize_gold_triples,
)
