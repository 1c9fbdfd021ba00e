from .typing_kernel import (  # noqa: F401
    TAG_ARRAY,
    TAG_BOOL,
    TAG_DOUBLE,
    TAG_LONG,
    TAG_NULL,
    TAG_STRING,
    TypedCell,
    canonical_literal,
    cast_cell,
    encode_cell_binary,
    infer_cell,
)
