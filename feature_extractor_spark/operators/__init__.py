from feature_extractor_spark.operators.windows import (  # noqa: F401
    sliding_windows,
    lag_lead_features,
    last_step,
)
from feature_extractor_spark.operators.asof import asof_join  # noqa: F401
from feature_extractor_spark.operators.sessionize import sessionize  # noqa: F401
from feature_extractor_spark.operators.unwindow import unwindow  # noqa: F401
from feature_extractor_spark.operators.skew import salted_repartition  # noqa: F401
from feature_extractor_spark.operators.dedup import (  # noqa: F401
    contamination_flags,
    exact_dedup,
    minhash_lsh_pairs,
    near_dup_clusters,
)
from feature_extractor_spark.operators.similarity import (  # noqa: F401
    cosine_topk,
    semantic_dedup,
)
from feature_extractor_spark.operators.dedup import (  # noqa: F401
    line_dedup_corpus,
    strip_lines_by_hash,
)
from feature_extractor_spark.operators.packing import (  # noqa: F401
    append_eos,
    bin_packing_stats,
    chunk_tokens,
    pack_bins,
    pack_sequences,
    packing_stats,
)
from feature_extractor_spark.operators.sampling import (  # noqa: F401
    mixture_fractions,
    sample_n_per_group,
    stratified_sample,
    temperature_targets,
)
from feature_extractor_spark.operators.dedup import (  # noqa: F401
    hamming_near_dup_pairs,
)
from feature_extractor_spark.operators.multimodal import (  # noqa: F401
    audio_fingerprint,
    audio_near_dup_pairs,
    image_near_dup_pairs,
    perceptual_hash,
)
from feature_extractor_spark.operators.ann_index import (  # noqa: F401
    ann_index_append,
    ann_index_topk,
    build_ann_index,
    compact_ann_index,
)
