from .latest import latest_snapshot
from .topk import top_k, top_bottom_union
from .share import with_share_of_total
from .classify import when_chain
from .asof import asof_join
from .skew import salted_aggregate
from .components import connected_components
from .similarity import (
    cosine_pairs_blockwise,
    cosine_pairs_grid,
    ivf_topk_distributed,
    topk_neighbors_distributed,
)
from .multimodal import as_media_frame, extract_media_meta, sample_frames

__all__ = [
    "latest_snapshot",
    "top_k",
    "top_bottom_union",
    "with_share_of_total",
    "when_chain",
    "asof_join",
    "salted_aggregate",
    "connected_components",
    "cosine_pairs_blockwise",
    "cosine_pairs_grid",
    "ivf_topk_distributed",
    "topk_neighbors_distributed",
    "as_media_frame",
    "extract_media_meta",
    "sample_frames",
]
