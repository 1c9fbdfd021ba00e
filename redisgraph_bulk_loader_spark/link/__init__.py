from .alias import (  # noqa: F401
    augment_alias_dim,
    build_alias_dim,
    link_mentions,
    normalize_surface,
    patch_unresolved,
)
from .lsh import lsh_candidate_pairs  # noqa: F401
