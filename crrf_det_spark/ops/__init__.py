"""Large-scale training-data pipeline operators: deduplication, similarity
search, text analysis, multimodal column plumbing.

These extend the reference's capabilities with the operations a 100TB
training-data pipeline needs; each is Spark-first (built-in functions or
Arrow-batched pandas UDFs, never per-row Python)."""

from .dedup import (  # noqa: F401
    exact_duplicates,
    minhash_signatures,
    minhash_lsh_pairs,
    minhash_word_signatures,
    minhash_near_pairs_verified,
    simhash_near_pairs,
    simhash_signatures,
    ngram_jaccard_pairs,
    embedding_near_duplicates,
)
from .components import (  # noqa: F401
    duplicate_components,
    keep_representatives,
)
from .similarity import (  # noqa: F401
    brute_force_topk,
    hyperplanes,
    ivf_assign,
    ivf_topk_oneshot,
    ivf_topk_indexed,
    ivf_train,
    ivf_write_index,
    lsh_assign,
    lsh_bucket_topk_oneshot,
    lsh_probe_keys,
    lsh_topk_indexed,
    lsh_write_index,
    probe_centroids,
)
from .curate import (  # noqa: F401
    curate_corpus,
    curation_report,
    normalized_digest,
)
from .spans import (  # noqa: F401
    paragraph_spans,
    line_shingles,
    span_duplicate_edges,
    dedup_spans,
    dedup_shingles,
    strip_repeated_spans,
    strip_repeated_shingles,
)
from .pii import (  # noqa: F401
    PII_PATTERNS,
    contamination_probe,
    pii_counts,
    pii_stats,
    redact_pii,
)
from .textstats import (  # noqa: F401
    language_id,
    quality_score,
    token_counts,
    fingerprint,
)
