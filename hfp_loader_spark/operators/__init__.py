"""Operator tier: the engine's public operator API.

Grouped per SURVEY §2: ETL parity operators (transform/dedup/routing),
core relational helpers, and the §2.11 extension operators (near-dup,
text, similarity, multimodal).
"""

from hfp_loader_spark.operators.dedup import (  # noqa: F401
    anti_join_existing,
    exact_dedup,
    filter_valid_uuid,
    union_key_sets,
)
from hfp_loader_spark.operators.neardup import (  # noqa: F401
    jaccard_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
    simhash_fingerprints,
    simhash_near_pairs,
    weighted_jaccard_matrix,
    weighted_minhash_matrix,
)
from hfp_loader_spark.operators.ranking import roc_auc  # noqa: F401
from hfp_loader_spark.operators.relational import (  # noqa: F401
    anti_join,
    apply_changelog,
    association_rules,
    broadcast_join,
    choose_join_strategy,
    conversion_attribution,
    global_top_k,
    integer_sigma_outliers,
    linear_fit,
    mad_outliers,
    salted_join,
    semi_join,
    sessionize,
    top_k_per_group,
)
from hfp_loader_spark.operators.quality import profile_columns  # noqa: F401
from hfp_loader_spark.operators.routing import (  # noqa: F401
    routed_tables,
    with_target_table,
)
from hfp_loader_spark.operators.similarity import (  # noqa: F401
    arrow_top_k,
    brute_force_top_k,
    cosine,
    cosine_neardup_pairs,
    signlsh_top_k,
)
from hfp_loader_spark.operators.text import (  # noqa: F401
    fingerprint,
    predict_lang,
    quality_score,
    tokens,
    word_shingles,
)
from hfp_loader_spark.operators.decomposition import (  # noqa: F401
    centered_scatter,
    deflate_scatter,
    merge_scatter_stats,
    power_iterate,
    power_iteration_pc1,
    project_pc1,
    scatter_stats,
    top_p_components,
)
from hfp_loader_spark.operators.graph import (  # noqa: F401
    connected_components_alternating,
    label_propagation,
    pagerank,
    pagerank_state,
)
from hfp_loader_spark.operators.sketches import (  # noqa: F401
    bitmap_cardinality,
    bitmap_intersect_cardinality,
    key_bitmaps,
    kmv_distinct_estimate,
    kmv_jaccard,
    kmv_merge,
    kmv_sketch,
    load_bitmap_index,
    save_bitmap_index,
)
from hfp_loader_spark.operators.clustering import (  # noqa: F401
    kmeans_fixed_point,
    kmeans_fixed_point_grouped,
    kmeans_fixed_point_model,
)
from hfp_loader_spark.operators.similarity import (  # noqa: F401
    ivf_exact_cells_top_k,
    pq_exact_codes_top_k,
)
from hfp_loader_spark.operators.transform import typed_projection  # noqa: F401
