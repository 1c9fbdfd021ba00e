"""Driver-side header planning: CSV header row -> ColumnPlan.

Reproduces the observable header semantics of the reference loader
(studied at /root/reference/redisgraph_bulk_loader/entity_file.py:
256-319, label.py:18-49, relation_type.py:16-54), as pinned by its unit
tests (test/test_label.py, test/test_relation_type.py):

- schemaless node files: column 0 is the identifier; a leading ``_`` in
  its (unstripped) name makes it private — used as the join key but not
  stored as a property
- schemaless relation files: columns 0/1 are src/dst endpoints (never
  properties), 2+ are properties; <2 columns is a CSVError
- enforced schema: header cells are ``name:TYPE``; >1 colon is a
  CSVError; a nameless column is legal only for
  ID/START_ID/END_ID/IGNORE; a *named* ID column is also stored as a
  property; START_ID/END_ID/IGNORE never are
- node files need exactly one ID column (only when identifiers are
  stored, i.e. edges are being built); relation files exactly one
  START_ID and one END_ID
- ID namespaces captured from ``(\\w+)`` inside parentheses
- ``id_type=INTEGER`` flips ID_STRING -> ID_INTEGER

This is pure driver-side Python (runs once per input table, never per
row) and has no Spark dependency, so the reference's unit tests
translate 1:1.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from enum import IntEnum
from typing import List, Optional

from ..exceptions import CSVError, SchemaError


class HType(IntEnum):
    """Header column types; values match the reference Type enum
    (entity_file.py:15-30). Value types 1-5 equal the kernel's tags, and
    ``kernel.cast_cell`` takes a member as the declared type."""

    UNKNOWN = 0
    BOOL = 1
    DOUBLE = 2
    STRING = 3
    LONG = 4
    ARRAY = 5
    ID_STRING = 6
    ID_INTEGER = 7
    START_ID = 8
    END_ID = 9
    IGNORE = 10


_ALIASES = {
    "BOOL": HType.BOOL,
    "BOOLEAN": HType.BOOL,
    "DOUBLE": HType.DOUBLE,
    "FLOAT": HType.DOUBLE,
    "STRING": HType.STRING,
    "LONG": HType.LONG,
    "INT": HType.LONG,
    "INTEGER": HType.LONG,
    "ARRAY": HType.ARRAY,
    "ID_STRING": HType.ID_STRING,
    "ID_INTEGER": HType.ID_INTEGER,
    "START_ID": HType.START_ID,
    "END_ID": HType.END_ID,
    "IGNORE": HType.IGNORE,
    "UNKNOWN": HType.UNKNOWN,
}

_NS_RE = re.compile(r"\((\w+)\)")


def convert_schema_type(in_type: str) -> HType:
    """Resolve a declared type string: exact (alias) name match first,
    then prefix rules for namespaced pseudo-types
    (entity_file.py:33-46)."""
    if in_type in _ALIASES:
        return _ALIASES[in_type]
    if in_type.startswith("ID"):
        return HType.ID_STRING
    if in_type.startswith("START_ID("):
        return HType.START_ID
    if in_type.startswith("END_ID("):
        return HType.END_ID
    raise SchemaError(f"Encountered invalid field type '{in_type}'")


@dataclass
class ColumnPlan:
    """Everything the pipeline needs to know about one input table."""

    entity_str: str
    kind: str  # "node" | "relation"
    column_count: int
    column_names: List[Optional[str]]  # None = not stored as a property
    types: List[HType] = field(default_factory=list)
    prop_count: int = 0
    # node files
    id: Optional[int] = None  # offset of the identifier column
    id_namespace: Optional[str] = None
    # relation files
    start_id: Optional[int] = None
    end_id: Optional[int] = None
    start_namespace: Optional[str] = None
    end_namespace: Optional[str] = None


def _parse_enforced(header: List[str], plan: ColumnPlan, id_type: str, source: str):
    plan.types = [HType.UNKNOWN] * plan.column_count
    for idx, raw_field in enumerate(header):
        parts = raw_field.split(":")
        if len(parts) > 2:
            raise CSVError(f"{source}: Field '{raw_field}' has multiple colons")
        if len(parts) < 2:
            raise SchemaError(
                f"{source}: Each property in the header should be a "
                f"colon-separated pair (got '{raw_field}')"
            )
        name_part, type_part = parts[0], parts[1]
        col_type = convert_schema_type(type_part.upper().strip())
        if len(name_part) == 0 and col_type not in (
            HType.ID_STRING,
            HType.ID_INTEGER,
            HType.START_ID,
            HType.END_ID,
            HType.IGNORE,
        ):
            raise SchemaError(
                f"{source}: Each property in the header should be a "
                f"colon-separated pair"
            )
        if len(name_part) > 0 and col_type not in (
            HType.START_ID,
            HType.END_ID,
            HType.IGNORE,
        ):
            plan.column_names[idx] = name_part.strip()
        if col_type == HType.ID_STRING and id_type == "INTEGER":
            col_type = HType.ID_INTEGER
        plan.types[idx] = col_type


def parse_header(
    header: List[str],
    kind: str,
    entity_str: str,
    *,
    enforce_schema: bool = False,
    id_type: str = "STRING",
    store_node_identifiers: bool = True,
    source: str = "<input>",
) -> ColumnPlan:
    """Parse one header row into a ColumnPlan.

    ``kind`` is "node" or "relation". ``source`` is used in error
    messages only.
    """
    column_count = len(header)
    plan = ColumnPlan(
        entity_str=entity_str,
        kind=kind,
        column_count=column_count,
        column_names=[None] * column_count,
    )

    if enforce_schema:
        _parse_enforced(header, plan, id_type, source)
        if kind == "node":
            if store_node_identifiers:
                n_ids = plan.types.count(HType.ID_STRING) + plan.types.count(
                    HType.ID_INTEGER
                )
                if n_ids != 1:
                    raise SchemaError(
                        f"Node file '{source}' should have exactly one ID column."
                    )
                try:
                    plan.id = plan.types.index(HType.ID_STRING)
                except ValueError:
                    plan.id = plan.types.index(HType.ID_INTEGER)
                match = _NS_RE.search(header[plan.id])
                if match:
                    plan.id_namespace = match.group(1)
            else:
                plan.id = 0
        else:
            if plan.types.count(HType.START_ID) != 1:
                raise SchemaError(
                    f"Relation file '{source}' should have exactly one "
                    f"START_ID column."
                )
            if plan.types.count(HType.END_ID) != 1:
                raise SchemaError(
                    f"Relation file '{source}' should have exactly one "
                    f"END_ID column."
                )
            plan.start_id = plan.types.index(HType.START_ID)
            plan.end_id = plan.types.index(HType.END_ID)
            sm = _NS_RE.search(header[plan.start_id])
            if sm:
                plan.start_namespace = sm.group(1)
            em = _NS_RE.search(header[plan.end_id])
            if em:
                plan.end_namespace = em.group(1)
    else:
        plan.types = [HType.UNKNOWN] * column_count
        if kind == "node":
            plan.id = 0
            for idx, f in enumerate(header):
                plan.column_names[idx] = f.strip()
            # Unstripped leading underscore check, as in label.py:27.
            if column_count > 0 and len(header[0]) > 0 and header[0][0] == "_":
                plan.column_names[0] = None
        else:
            if column_count < 2:
                raise CSVError(
                    f"Relation file '{source}' should have at least 2 "
                    f"elements in header line."
                )
            plan.start_id = 0
            plan.end_id = 1
            for idx in range(2, column_count):
                plan.column_names[idx] = header[idx].strip()

    plan.prop_count = column_count - plan.column_names.count(None)
    return plan
