from .dedup import (  # noqa: F401
    dedup_exact,
    minhash_signature,
    minhash_lsh_candidates,
    simhash64,
    simhash_band_candidates,
    ngram_jaccard_pairs,
)
from .similarity import knn_bruteforce, ann_lsh_topk  # noqa: F401
from .asof import asof_join  # noqa: F401
from .sessionize import sessionize  # noqa: F401
from .skew import salted_join_key  # noqa: F401
from .components import connected_components, dedup_clusters  # noqa: F401
from .pagerank import pagerank  # noqa: F401
