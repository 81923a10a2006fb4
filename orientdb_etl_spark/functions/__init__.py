"""Large-scale training-data pipeline operators.

Beyond the reference's ETL surface: deduplication (exact / MinHash-LSH /
SimHash / n-gram Jaccard / embedding-cosine), similarity search (brute-force
and bucketed ANN), text analysis (language-ID, quality scoring, token
counting, fingerprinting) and multimodal binary-column plumbing. Everything
stays JVM-side (built-in expressions) unless genuinely impossible, in which
case Arrow-batched Pandas UDFs are used — never row-at-a-time Python.
"""

from orientdb_etl_spark.functions.dedup import (
    exact_dedup,
    embedding_near_dedup,
    incremental_dedup,
    incremental_near_dedup,
    minhash_lsh_dedup,
    ngram_jaccard_pairs,
    semantic_dedup,
    simhash_dedup,
)
from orientdb_etl_spark.functions.layout import (
    add_zorder_key,
    zorder_write,
)
from orientdb_etl_spark.functions.packing import (
    pack_greedy,
    pack_offsets,
    pack_utilization,
)
from orientdb_etl_spark.functions.similarity import (
    brute_force_topk,
    cosine_sim_expr,
    lsh_bucketed_topk,
)
from orientdb_etl_spark.functions.text import (
    doc_fingerprint,
    language_id,
    quality_score,
    token_count,
)

__all__ = [
    "add_zorder_key",
    "brute_force_topk",
    "cosine_sim_expr",
    "doc_fingerprint",
    "embedding_near_dedup",
    "exact_dedup",
    "incremental_dedup",
    "incremental_near_dedup",
    "language_id",
    "lsh_bucketed_topk",
    "minhash_lsh_dedup",
    "ngram_jaccard_pairs",
    "pack_greedy",
    "pack_offsets",
    "pack_utilization",
    "quality_score",
    "semantic_dedup",
    "simhash_dedup",
    "token_count",
    "zorder_write",
]
