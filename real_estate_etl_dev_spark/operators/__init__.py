"""Operator layer: merge engine, row rules, dedup tiers, similarity
search, projection DSL, pagination, dead-letter sink, multimodal plumbing."""

from .analytics import paginate_keyset, paginate_offset, top1_by_key
from .dedup import (
    content_hash,
    dedup_exact_groups,
    dedup_exact_keep_first,
    dedup_minhash_pairs,
    dedup_simhash_pairs,
    minhash_signature,
    ngram_jaccard,
    setsim_bucket_audit,
    setsim_hybrid_hot_audit,
    setsim_join_hybrid,
    setsim_join_prefix,
    shingles,
    simhash_frame,
)
from .layout import salted_count_sum, write_bucketed
from .merge import (
    MERGE_FIELDS,
    MERGE_POLICIES,
    apply_tombstones,
    change_log,
    merge_listings,
)
from .multimodal import attach_binary, fake_feature_extractor
from .projection import Field, project_fields, rename_and_derive, split_skip
from .rules import (
    availability_consistency,
    backfill_sold_at,
    define_land_zoning,
    export_projection,
    identify_issues,
    missing_fields_audit,
)
from .similarity import (
    ann_operating_curve,
    cosine,
    cosine_topk,
    decimal_sq_dist,
    dot,
    ivf_topk,
    l2_norm,
    lcg_rp_signature,
    lsh_topk,
    rp_signature,
)
from .sinks import dead_letter_frame

__all__ = [name for name in dir() if not name.startswith("_")]
