from .hashing import (  # noqa: F401
    band_buckets,
    char_shingles,
    hamming64,
    jaccard,
    simhash_df,
    word_shingles,
)
from .text import (  # noqa: F401
    bpe_ish_token_count,
    doc_fingerprint,
    language_id,
    quality_score,
    token_count,
)
