"""Relational operators: dedup, validity split, surrogate keys, merges,
set ops, and the large-scale extension operators (near-dup detection,
similarity search, text analysis)."""

from .asof import asof_join
from .bloom import bloom_might_contain, bloom_semi_join, build_bloom
from .chunking import chunk_documents
from .dedup import keep_latest
from .diff import diff_summary, table_diff
from .drift import categorical_distribution, js_divergence
from .graph import connected_components, dedup_by_components
from .keys import with_surrogate_key
from .matview import (
    matview_apply_changes,
    matview_compact,
    matview_finalize,
    matview_merge,
    matview_partials,
)
from .merge import insert_if_absent, merge_into
from .multimodal import (
    audio_frame_energy,
    byte_histogram_features,
    decode_image,
    silence_trim_stats,
    synthesize_audio,
)
from .observe import observe_quality, observe_stream, quality_metrics
from .packing import pack_chunks, pack_manifest
from .pq import ivf_pq_topk, pq_encode, pq_topk_adc, pq_train
from .rankstats import (
    ks_two_sample,
    mann_whitney_u,
    prefix_sums_by_value,
)
from .sampling import mixture_sample, systematic_weighted_sample
from .scd2 import scd2_apply, scd2_snapshot
from .sketch import approx_quantiles, hll_partials, hll_rollup
from .text import bm25_scores
from .skew import replicate_join, salted_two_phase_agg
from .split import validity_split
from .zorder import morton_interleave, zorder_key, zorder_write

__all__ = [
    "asof_join",
    "ks_two_sample",
    "mann_whitney_u",
    "prefix_sums_by_value",
    "observe_quality",
    "observe_stream",
    "quality_metrics",
    "build_bloom",
    "bloom_might_contain",
    "bloom_semi_join",
    "chunk_documents",
    "keep_latest",
    "table_diff",
    "diff_summary",
    "matview_partials",
    "matview_apply_changes",
    "matview_merge",
    "matview_compact",
    "matview_finalize",
    "pack_chunks",
    "pack_manifest",
    "pq_encode",
    "pq_topk_adc",
    "pq_train",
    "ivf_pq_topk",
    "categorical_distribution",
    "js_divergence",
    "mixture_sample",
    "systematic_weighted_sample",
    "bm25_scores",
    "connected_components",
    "dedup_by_components",
    "with_surrogate_key",
    "insert_if_absent",
    "merge_into",
    "scd2_apply",
    "scd2_snapshot",
    "approx_quantiles",
    "hll_partials",
    "hll_rollup",
    "replicate_join",
    "salted_two_phase_agg",
    "validity_split",
    "morton_interleave",
    "zorder_key",
    "zorder_write",
    "decode_image",
    "byte_histogram_features",
    "synthesize_audio",
    "audio_frame_energy",
    "silence_trim_stats",
]
