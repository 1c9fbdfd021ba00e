"""Custom stateful streaming operator: cross-batch sessionization.

The batch sessionizer (stream.py:sessionize_events) needs the whole
history per user; a stream cannot re-sort the past. This is the
standard case for ``applyInPandasWithState``: per-user state carries
(last event time, session count, event count) across micro-batches, so
a session spanning a batch boundary is counted once.

Batch arithmetic is vectorized inside each Arrow batch (int64
nanosecond math + shifted comparison) — no per-row Python beyond the
group loop the API mandates.

Ordering contract: events within a user must arrive in non-decreasing
micro-batch order (the file/kafka source's natural order); late data
beyond that is the caller's watermark + drop policy, exactly like the
reference's updater applies rows strictly in arrival order
(bulk_update.py:106-119).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame


def _session_output_schema(events: DataFrame, user_col: str):
    """Output StructType for the sessionizers: the key field keeps
    ``user_col``'s name and input type (ADVICE r3 — a hardcoded
    'user_id long' mislabels renamed columns and breaks Arrow
    conversion for string-typed ids)."""
    from pyspark.sql.types import LongType, StructField, StructType

    return StructType([
        StructField(user_col, events.schema[user_col].dataType),
        StructField("n_sessions", LongType()),
        StructField("n_events", LongType()),
    ])


def sessionize_stream(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
) -> DataFrame:
    """Streaming gap-based sessionization. Emits one
    (<user_col>, n_sessions, n_events) row per touched user per
    micro-batch (update mode); the latest row per user is the running
    total. Cross-batch state: a session open at the end of one batch
    continues into the next. The output key field carries ``user_col``'s
    name AND type from the input schema (a string-typed user id must
    not be declared long — Arrow conversion would fail at runtime)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000
    out_schema = _session_output_schema(events, user_col)

    def fn(key, pdfs: Iterator["pd.DataFrame"], state):
        if state.exists:
            last_us, n_sessions, n_events = state.get
        else:
            last_us, n_sessions, n_events = None, 0, 0
        # The group's micro-batch arrives as multiple Arrow chunks in
        # file order, not time order: sorting per chunk would misorder
        # events across chunk boundaries. Buffer the whole batch (one
        # user's events, bounded per micro-batch) and sort once.
        chunks = [pdf[ts_col] for pdf in pdfs if len(pdf)]
        if chunks:
            us = (pd.concat(chunks).astype("int64") // 1000).sort_values()
            prev = us.shift(1)
            if last_us is not None:
                prev.iloc[0] = last_us
            # NaN (no previous event ever) compares False -> counted
            # via isna: a first-ever event always opens a session
            gaps_new = ((us - prev) > gap_us) | prev.isna()
            n_sessions += int(gaps_new.sum())
            n_events += int(len(us))
            last_us = int(us.iloc[-1])
        state.update((last_us, n_sessions, n_events))
        yield pd.DataFrame(
            {
                user_col: [key[0]],
                "n_sessions": [n_sessions],
                "n_events": [n_events],
            }
        )

    return events.groupBy(user_col).applyInPandasWithState(
        fn,
        out_schema,
        "last_us long, n_sessions long, n_events long",
        "update",
        GroupStateTimeout.NoTimeout,
    )


def _dedup_key(text_col, key_col):
    """Dedup-key expression for ``dedup_stream``:
    ``doc_fingerprint`` of ``text_col`` by default (the batch
    ``exact_dedup`` key), or the caller's ``key_col`` Column for
    non-flat-text inputs (e.g. ``md5(to_json(struct(spans)))`` for
    spans-documents). Null keys share one sentinel group — GROUP BY
    null semantics, matching the batch window partition."""
    from pyspark.sql import functions as F

    from ..functions.text import doc_fingerprint

    key = key_col if key_col is not None else doc_fingerprint(
        F.col(text_col))
    return F.coalesce(key.cast("string"), F.lit("\x00null"))


def dedup_stream(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    key_col=None,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming exact-dedup on ingest: each distinct document content
    is emitted ONCE across the life of the stream; re-occurrences in
    later micro-batches are dropped. The dedup key is the SAME
    ``doc_fingerprint`` (md5 of whitespace-normalized text) the batch
    ``exact_dedup`` uses, so a corpus deduped on ingest equals the
    batch-deduped corpus when every duplicate group's first arrival is
    its min id; within one micro-batch the min-``id_col`` row survives
    (exactly the batch operator's window rule, deterministic under
    Arrow chunking). Null/whitespace-only texts share one sentinel
    fingerprint group — GROUP BY null semantics, matching the batch
    window partition. For inputs without a flat text column pass
    ``key_col`` (a Column producing the dedup key, e.g.
    ``F.md5(F.to_json(F.struct("spans")))``).

    Output: the surviving input rows (input schema, append mode).

    State is one marker per distinct fingerprint — unbounded over an
    unbounded stream. ``state_ttl_ms`` bounds it with a
    processing-time timeout: a fingerprint idle longer than the TTL is
    forgotten (its next occurrence re-emits — the standard
    bounded-state dedup tradeoff, equivalent to Spark's own
    ``dropDuplicates`` + watermark behavior). Default: exact forever.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import StructType

    in_fields = list(docs.schema.fields)
    out_schema = StructType(in_fields)
    cols = [f.name for f in in_fields]

    keyed = docs.withColumn("_fp", _dedup_key(text_col, key_col))

    def fn(key, pdfs: Iterator["pd.DataFrame"], state):
        if state.hasTimedOut:
            # idle past the TTL: forget the fingerprint (next
            # occurrence re-emits); emit nothing now
            state.remove()
            return
        seen = state.exists
        best = None
        for pdf in pdfs:
            if not len(pdf):
                continue
            if seen:
                continue  # duplicate content from an earlier batch
            # stable sort, not idxmin: argmin is undefined for
            # object-dtype (string) id columns
            cand = pdf.sort_values(id_col, kind="mergesort").iloc[0]
            if best is None or cand[id_col] < best[id_col]:
                best = cand
        # Mark seen only when the content was actually emitted once
        # (or already was): an all-empty-chunk invocation must not
        # suppress content forever without a single emission
        # (ADVICE r5).
        if seen or best is not None:
            state.update((1,))
            if state_ttl_ms is not None:
                state.setTimeoutDuration(state_ttl_ms)
        if best is not None and not seen:
            yield pd.DataFrame([best[cols].to_dict()])

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return keyed.groupBy("_fp").applyInPandasWithState(
        fn, out_schema, "seen long", "append", timeout
    )
