"""Per-cell dynamic typing kernel.

This reproduces, from scratch, the observable typing semantics of the
reference loader's property encoders (studied at
/root/reference/redisgraph_bulk_loader/entity_file.py:49-176):

Inference precedence on the *stripped* cell (``infer_cell``):

1. ``""``                       -> NULL (property absent downstream)
2. Python ``int(v)``            -> LONG, **unless** the value overflows a
   signed 64-bit integer, in which case it falls through to the float
   rule (the reference hits ``struct.error`` packing ``q`` and falls
   through; entity_file.py:141-145)
3. Python ``float(v)``, finite  -> DOUBLE (NaN/Inf parse but are
   rejected and fall through; entity_file.py:147-155)
4. ``true``/``false`` (case-insensitive) -> BOOL (entity_file.py:157-161)
5. ``[`` ... ``]``              -> ARRAY via ``ast.literal_eval``; any
   parse error falls through to string (entity_file.py:163-168).
   Elements are re-inferred from ``str(elem)`` individually — arrays are
   heterogeneous and nest (entity_file.py:49-59)
6. otherwise                    -> STRING (quote characters are literal
   under the loader's default QUOTE_NONE csv dialect, so ``"30165"``
   including quotes types as a string)

Enforced casting (``cast_cell``) per declared type
(entity_file.py:64-123): empty cell -> NULL for any type; LONG must
``int()``-parse AND fit in int64; DOUBLE must ``float()``-parse finite;
BOOL must be a ``true``/``false`` literal; STRING passes through; ARRAY
must be bracket-delimited and literal_eval-parse. Violations raise
``SchemaError``.

Everything here is pure Python/pandas — no Spark imports — so it is
unit-testable standalone; the loader's ``_parse_rows`` calls it per cell
inside its Arrow-batched ``mapInPandas`` (plans/loader.py).
"""

from __future__ import annotations

import ast
import json
import math
import struct
from typing import List, NamedTuple, Optional

from ..exceptions import SchemaError

# Tag values reuse the reference's Type enum numbering
# (entity_file.py:15-30) so downstream consumers agree on the wire enum.
TAG_NULL = 0
TAG_BOOL = 1
TAG_DOUBLE = 2
TAG_STRING = 3
TAG_LONG = 4
TAG_ARRAY = 5

TAG_NAMES = {
    TAG_NULL: "null",
    TAG_BOOL: "bool",
    TAG_DOUBLE: "double",
    TAG_STRING: "string",
    TAG_LONG: "long",
    TAG_ARRAY: "array",
}

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
    failure (callers decide whether to fall through or error)."""
    parsed = ast.literal_eval(stripped)
    # The reference accepts any literal_eval result here and iterates
    # it; tuples/lists both iterate, scalars raise TypeError which the
    # inferred path swallows (fall to string) and the typed path
    # propagates as a schema violation.
    return "[" + ",".join(_canon_elem(elem) for elem in parsed) + "]"


def infer_cell(raw: Optional[str]) -> TypedCell:
    """Infer one cell per the reference precedence (docstring above)."""
    if raw is None:
        return NULL_CELL
    v = raw.strip()
    if v == "":
        return NULL_CELL
    # 1) integer — exact Python int() accept-set (signs, underscores,
    #    unicode digits); int64 overflow falls through to float.
    try:
        n = int(v)
        if _INT64_MIN <= n <= _INT64_MAX:
            return TypedCell(TAG_LONG, l=n)
    except ValueError:
        pass
    # 2) finite float — exact Python float() accept-set.
    try:
        f = float(v)
        if not math.isnan(f) and not math.isinf(f):
            return TypedCell(TAG_DOUBLE, d=f)
    except ValueError:
        pass
    # 3) boolean literal.
    low = v.lower()
    if low == "false":
        return TypedCell(TAG_BOOL, b=False)
    if low == "true":
        return TypedCell(TAG_BOOL, b=True)
    # 4) array literal; any failure falls through to string.
    if v[0] == "[" and v[-1] == "]":
        try:
            return TypedCell(TAG_ARRAY, a=_parse_array_literal(v))
        except Exception:
            pass
    # 5) string.
    return TypedCell(TAG_STRING, s=v)


# Declared-type names accepted in enforced-schema headers, with aliases
# (entity_file.py:15-30). Values are the internal tag the cast targets.
DECLARED_TYPES = {
    "BOOL": TAG_BOOL,
    "BOOLEAN": TAG_BOOL,
    "DOUBLE": TAG_DOUBLE,
    "FLOAT": TAG_DOUBLE,
    "STRING": TAG_STRING,
    "LONG": TAG_LONG,
    "INT": TAG_LONG,
    "INTEGER": TAG_LONG,
    "ARRAY": TAG_ARRAY,
}


def cast_cell(raw: Optional[str], declared_tag: int) -> TypedCell:
    """Cast one cell to a declared type; SchemaError on violation.

    Matches typed_prop_to_binary's observable behavior
    (entity_file.py:64-123): empty -> NULL regardless of type; LONG
    requires int() parse + int64 range; DOUBLE requires finite float();
    BOOL requires the literal; ARRAY requires brackets + parseability.
    """
    if raw is None:
        return NULL_CELL
    v = raw.strip()
    if v == "":
        return NULL_CELL
    if declared_tag == TAG_LONG:
        try:
            n = int(v)
        except ValueError:
            raise SchemaError(f"Could not parse '{v}' as a long")
        if not (_INT64_MIN <= n <= _INT64_MAX):
            raise SchemaError(f"Could not parse '{v}' as a long")
        return TypedCell(TAG_LONG, l=n)
    if declared_tag == TAG_DOUBLE:
        try:
            f = float(v)
        except ValueError:
            raise SchemaError(f"Could not parse '{v}' as a double")
        if math.isnan(f) or math.isinf(f):
            raise SchemaError(f"Could not parse '{v}' as a double")
        return TypedCell(TAG_DOUBLE, d=f)
    if declared_tag == TAG_BOOL:
        low = v.lower()
        if low == "false":
            return TypedCell(TAG_BOOL, b=False)
        if low == "true":
            return TypedCell(TAG_BOOL, b=True)
        raise SchemaError(f"Could not parse '{v}' as a boolean")
    if declared_tag == TAG_STRING:
        return TypedCell(TAG_STRING, s=v)
    if declared_tag == TAG_ARRAY:
        if v[0] != "[" or v[-1] != "]":
            raise SchemaError(f"Could not parse '{v}' as an array")
        try:
            return TypedCell(TAG_ARRAY, a=_parse_array_literal(v))
        except Exception:
            raise SchemaError(f"Could not parse '{v}' as an array")
    raise SchemaError(f"unsupported declared type tag {declared_tag}")


# ---------------------------------------------------------------------------
# Batch entry points (what the pandas UDFs call): list-in/list-out so
# the Arrow batch stays in one Python call.
# ---------------------------------------------------------------------------

def infer_cells(values) -> List[TypedCell]:
    return [infer_cell(v) for v in values]


def cast_cells(values, declared_tag: int) -> List[TypedCell]:
    return [cast_cell(v, declared_tag) for v in values]


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
