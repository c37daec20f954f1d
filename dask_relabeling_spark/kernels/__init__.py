"""Pure-NumPy per-tile kernels (no Spark imports) — the numerical core that
runs inside Arrow-batched pandas UDFs.  Kept Spark-free so the golden tests
can exercise them directly."""
from .ccl import label, segment_fn
from .relabel import (merge_tiles, remove_overlapped_objects, sort_indices,
                      zero_classes_where_removed)
from .annotate import annotation_offset, labels_to_annotations
from .contours import trace_outer_contour
from .halo import (assemble_expanded, margin_pieces, pad_tile, tile_origin,
                   trim_halo, unpad_tile)

__all__ = [
    "label", "segment_fn", "merge_tiles", "remove_overlapped_objects",
    "sort_indices", "zero_classes_where_removed", "annotation_offset",
    "labels_to_annotations", "trace_outer_contour", "assemble_expanded",
    "margin_pieces", "pad_tile", "tile_origin", "trim_halo", "unpad_tile",
]
