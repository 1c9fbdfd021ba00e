"""Per-cell dynamic typing kernel.

This reproduces, from scratch, the observable typing semantics of the
reference loader's property encoders (entity_file.py:49-176).

Each value type has one parser (``_long``, ``_double``, ``_bool``,
``_array``) that takes a stripped non-empty value and returns its
``TypedCell``, or None when the value does not parse as that type:

- LONG: Python ``int(v)`` that fits a signed 64-bit integer (the
  reference hits ``struct.error`` packing ``q`` on overflow;
  entity_file.py:141-145)
- DOUBLE: Python ``float(v)``, finite only (NaN/Inf parse but are
  rejected; entity_file.py:147-155)
- BOOL: ``true``/``false``, case-insensitive (entity_file.py:157-161)
- ARRAY: ``[`` ... ``]`` through ``ast.literal_eval``; elements are
  re-inferred from ``str(elem)`` one by one, so arrays are
  heterogeneous and nest (entity_file.py:49-59, 163-168)

Both typing modes are built from those parsers. An empty (or None)
cell is NULL in both, and NULL cells become absent property keys.

- ``infer_cell`` (schemaless) tries LONG, DOUBLE, BOOL, ARRAY in that
  order and falls back to STRING, so an int64-overflowing integer
  types as DOUBLE and quote characters stay literal (under the
  loader's default QUOTE_NONE dialect ``"30165"``, quotes included, is
  a string).
- ``cast_cell`` (enforced schema, entity_file.py:64-123) takes the
  header's declared ``HType`` — whose value members equal the tags
  below, with ID_STRING parsed as STRING and ID_INTEGER as LONG — and
  runs only that type's parser; a value that does not parse raises
  ``SchemaError``, and so does a non-empty cell of any other declared
  type (UNKNOWN, START_ID, END_ID, IGNORE).

Everything here is pure Python, with no Spark imports, so it is
unit-testable standalone; the loader's ``_parse_rows`` calls it per cell
inside its Arrow-batched ``mapInPandas`` (plans/loader.py).
"""

from __future__ import annotations

import ast
import json
import math
import struct
from typing import NamedTuple, Optional

from ..exceptions import SchemaError
from ..schema.header import HType

# Tag values reuse the reference's Type enum numbering
# (entity_file.py:15-30), as does HType, so downstream consumers agree
# on the wire enum.
TAG_NULL = 0
TAG_BOOL = 1
TAG_DOUBLE = 2
TAG_STRING = 3
TAG_LONG = 4
TAG_ARRAY = 5

_INT64_MIN = -(2**63)
_INT64_MAX = 2**63 - 1


class TypedCell(NamedTuple):
    """Tagged-union value: exactly one payload field is set (by tag).

    ``a`` holds the canonical array literal (see canonical_literal) —
    arrays stay heterogeneous/nested, which a fixed Spark element type
    cannot carry, so the canonical string is the lossless cross-engine
    representation.
    """

    t: int
    b: Optional[bool] = None
    d: Optional[float] = None
    l: Optional[int] = None  # noqa: E741
    s: Optional[str] = None
    a: Optional[str] = None


NULL_CELL = TypedCell(TAG_NULL)


def _canon_elem(value) -> str:
    """Canonical rendering of one parsed array element.

    Mirrors the reference's element handling: each element is
    re-inferred from ``str(elem)`` (entity_file.py:56-57), so we infer
    on the stringified element and render the *typed* result.
    """
    cell = infer_cell(str(value))
    return canonical_literal(cell)


def canonical_literal(cell: TypedCell) -> str:
    """Deterministic JSON-ish literal for a typed cell (used for array
    payloads and for cross-engine value comparison)."""
    t = cell.t
    if t == TAG_NULL:
        return "null"
    if t == TAG_BOOL:
        return "true" if cell.b else "false"
    if t == TAG_LONG:
        return str(cell.l)
    if t == TAG_DOUBLE:
        return repr(cell.d)
    if t == TAG_STRING:
        return json.dumps(cell.s, ensure_ascii=False)
    if t == TAG_ARRAY:
        return cell.a
    raise ValueError(f"unknown tag {t}")


def _parse_array_literal(stripped: str) -> str:
    """Parse a bracket literal with ``ast.literal_eval`` and render the
    canonical form with element-wise re-inference. Raises on parse
    failure; ``_array`` turns that into "does not parse"."""
    parsed = ast.literal_eval(stripped)
    # The reference accepts any literal_eval result here and iterates
    # it; tuples/lists both iterate, scalars raise TypeError.
    return "[" + ",".join(_canon_elem(elem) for elem in parsed) + "]"


# One parser per value type. Each takes a stripped non-empty value and
# returns its TypedCell, or None when the value does not parse as that
# type; inference and enforced casts are both built from these.

def _long(v: str) -> Optional[TypedCell]:
    # exact Python int() accept-set (signs, underscores, unicode
    # digits); int64 overflow does not parse (entity_file.py:141-145)
    try:
        n = int(v)
    except ValueError:
        return None
    return TypedCell(TAG_LONG, l=n) if _INT64_MIN <= n <= _INT64_MAX else None


def _double(v: str) -> Optional[TypedCell]:
    # exact Python float() accept-set; NaN/Inf parse but are rejected
    # (entity_file.py:147-155)
    try:
        f = float(v)
    except ValueError:
        return None
    return TypedCell(TAG_DOUBLE, d=f) if math.isfinite(f) else None


_BOOL_CELLS = {"true": TypedCell(TAG_BOOL, b=True),
               "false": TypedCell(TAG_BOOL, b=False)}


def _bool(v: str) -> Optional[TypedCell]:
    return _BOOL_CELLS.get(v.lower())


def _array(v: str) -> Optional[TypedCell]:
    if v[0] != "[" or v[-1] != "]":
        return None
    try:
        return TypedCell(TAG_ARRAY, a=_parse_array_literal(v))
    except Exception:
        return None


def _string(v: str) -> TypedCell:
    return TypedCell(TAG_STRING, s=v)


def infer_cell(raw: Optional[str]) -> TypedCell:
    """Infer one cell per the reference precedence (docstring above)."""
    if raw is None:
        return NULL_CELL
    v = raw.strip()
    if v == "":
        return NULL_CELL
    # A TypedCell is a non-empty tuple, so ``or`` moves on only past None.
    return _long(v) or _double(v) or _bool(v) or _array(v) or _string(v)


#: declared header type -> (parser, what the violation message calls it)
_CASTS = {
    HType.BOOL: (_bool, "a boolean"),
    HType.DOUBLE: (_double, "a double"),
    HType.STRING: (_string, None),
    HType.LONG: (_long, "a long"),
    HType.ARRAY: (_array, "an array"),
    HType.ID_STRING: (_string, None),
    HType.ID_INTEGER: (_long, "a long"),
}


def cast_cell(raw: Optional[str], declared: int) -> TypedCell:
    """Cast one cell to its declared header type (an ``HType``; the
    value members equal the kernel tags); SchemaError on violation.

    Matches typed_prop_to_binary's observable behavior
    (entity_file.py:64-123): empty -> NULL regardless of type, otherwise
    only the declared type's parser runs.
    """
    if raw is None:
        return NULL_CELL
    v = raw.strip()
    if v == "":
        return NULL_CELL
    try:
        parse, what = _CASTS[declared]
    except KeyError:
        raise SchemaError(f"unsupported declared type tag {declared}") from None
    cell = parse(v)
    if cell is None:
        raise SchemaError(f"Could not parse '{v}' as {what}")
    return cell


# ---------------------------------------------------------------------------
# Optional wire-format encoder: byte-level parity with the reference's
# binary property encoding (tag byte + payload; strings NUL-terminated;
# arrays: tag, little-endian length q, recursively encoded elements).
# Used only by parity tests — the pipeline materializes typed columns.
# ---------------------------------------------------------------------------

def encode_cell_binary(raw: Optional[str]) -> bytes:
    cell = infer_cell(raw)
    return _encode_typed(cell, raw)


def _encode_typed(cell: TypedCell, raw: Optional[str]) -> bytes:
    t = cell.t
    if t == TAG_NULL:
        return struct.pack("=B", 0)
    if t == TAG_LONG:
        return struct.pack("=Bq", TAG_LONG, cell.l)
    if t == TAG_DOUBLE:
        return struct.pack("=Bd", TAG_DOUBLE, cell.d)
    if t == TAG_BOOL:
        return struct.pack("=B?", TAG_BOOL, cell.b)
    if t == TAG_STRING:
        enc = cell.s.encode("utf-8")
        return struct.pack("=B%ds" % (len(enc) + 1), TAG_STRING, enc)
    if t == TAG_ARRAY:
        # Re-parse the original to preserve element identity; the
        # canonical literal is itself literal_eval-compatible for
        # non-string-ambiguous cases, but the raw value is authoritative.
        src = raw.strip() if raw is not None else cell.a
        parsed = ast.literal_eval(src)
        out = struct.pack("=Bq", TAG_ARRAY, len(parsed))
        for elem in parsed:
            out += encode_cell_binary(str(elem))
        return out
    raise ValueError(f"unknown tag {t}")


def encode_cell_binary_typed(raw: Optional[str], declared_tag: int) -> bytes:
    """Enforced-schema wire encoding: cast first (SchemaError on
    violation), then the same tagged layout (typed_prop_to_binary,
    entity_file.py:64-123)."""
    cell = cast_cell(raw, declared_tag)
    return _encode_typed(cell, raw)


def pack_header(entity_str: str, column_names) -> bytes:
    """Binary header token parity (pack_header, entity_file.py:240-254):
    unaligned native layout — null-terminated entity name, uint32
    property count, then each kept column name null-terminated.
    ``column_names`` uses None for skipped columns, like ColumnPlan."""
    entity_bytes = entity_str.encode()
    props = [c for c in column_names if c]
    fmt = "=%dsI" % (len(entity_bytes) + 1)
    args = [entity_bytes, len(props)]
    for prop in props:
        enc = prop.encode()
        fmt += "%ds" % (len(enc) + 1)
        args.append(enc)
    return struct.pack(fmt, *args)


def pack_node_row(cells, column_names, types=None) -> bytes:
    """Node row wire encoding (pack_props, entity_file.py:322-331):
    kept columns only, inferred or enforced per ``types`` (list of
    declared tags, None entries for skipped columns)."""
    out = []
    for idx, raw in enumerate(cells):
        if not column_names[idx]:
            continue
        if types is not None and types[idx] is not None:
            out.append(encode_cell_binary_typed(raw, types[idx]))
        else:
            out.append(encode_cell_binary(raw))
    return b"".join(out)


def pack_edge_row(src: int, dest: int, cells, column_names, types=None) -> bytes:
    """Edge row wire encoding (relation_type.py:89-91): '=QQ' — two
    8-byte unsigned internal node ids — then the packed properties."""
    return struct.pack("=QQ", src, dest) + pack_node_row(
        cells, column_names, types)
