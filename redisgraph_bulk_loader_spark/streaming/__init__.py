from .stream import (  # noqa: F401
    incremental_graph_update,
    sessionize_events,
    stream_documents_to_graph,
    stream_events_to_graph,
    windowed_event_counts,
)
from .stateful import (  # noqa: F401
    dedup_stream,
    sessionize_stream,
)
