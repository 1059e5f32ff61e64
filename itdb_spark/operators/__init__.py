from itdb_spark.operators.dedup import (  # noqa: F401
    exact_dup_groups,
    minhash_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from itdb_spark.operators.multimodal import (  # noqa: F401
    decode_binary_metadata,
    decode_image_header,
)
from itdb_spark.operators.hierarchy import expand_hierarchy  # noqa: F401
from itdb_spark.operators.similarity import brute_force_knn, cosine_col  # noqa: F401
from itdb_spark.operators.packing import pack_sequences  # noqa: F401
from itdb_spark.operators.skew import (  # noqa: F401
    salted_count,
    salted_sum,
    skew_safe_join,
)
