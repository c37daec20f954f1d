"""Public API parity layer: the reference's three entry points plus sort,
re-expressed over TileSets (reference ``relabel/__init__.py:1-7`` exports
and ``relabeling.py:195-309`` signatures/defaults).

The composed plan for ``image2labels`` is exactly two shuffles — the two
halo exchanges — with every kernel stage a narrow map fused between them
(SURVEY §3.1):

    tiles -(exchange)-> overlapped -(UDF seg)-> -(UDF dedup)->
          -(exchange)-> -(UDF paste/trim)-> labels

Each entry point composes the two passes of ``operators/halo.py``
directly — ``emit_pieces`` in front of ``double_exchange_pieces``
(labels) or ``exchange_records_from_pieces`` (annotations) — over the
``kernels/stages.py`` kernels that the staged operators use too.
"""
from __future__ import annotations

from typing import Callable, List, Optional, Union

from ..kernels.ccl import segment_fn as default_segment_fn
from ..kernels.stages import (annotate_stage, crop_stage, dedup_stage,
                              merge_stage, pad_stage, segment_stage,
                              trim_stage)
from ..sources.tiles import TileSet
from .halo import (crop_to_image, double_exchange_pieces, emit_pieces,
                   exchange_records_from_pieces, halo_exchange,
                   map_tiles_records, pad_edge_tiles)
from .annotate_ops import ANNOTATION_SCHEMA, annotate_labeled_tiles
from .relabel_ops import (merge_overlapped_tiles, remove_overlapped_labels,
                          segment_overlapped_input, sort_label_indices)


def _norm_overlaps(overlaps: Union[int, List[int]], nd: int) -> tuple:
    if isinstance(overlaps, int):
        return (overlaps,) * nd
    return tuple(int(o) for o in overlaps)


def prepare_input(ts: TileSet, overlaps: Union[int, List[int]]) -> TileSet:
    """Pad to a chunk multiple, then materialize the halo (one shuffle).
    Reference ``relabeling.py:166-192``."""
    ov = _norm_overlaps(overlaps, ts.nd)
    return halo_exchange(pad_edge_tiles(ts), ov)


def image2labels(ts: TileSet, seg_fn: Optional[Callable] = None,
                 overlaps: Union[int, List[int]] = 50,
                 threshold: float = 0.05,
                 returns_classes: bool = False,
                 segmentation_fn_kwargs: Optional[dict] = None,
                 segmentation_tile_kwargs: Optional[dict] = None) -> TileSet:
    """End-to-end: pad -> overlap -> segment -> dedup -> merge -> unpad.
    Reference ``relabeling.py:195-242`` (note threshold default 0.05).

    ``segmentation_tile_kwargs`` maps kwarg names to aligned TileSets (the
    reference's dask-array kwargs); each goes through the same
    pad+overlap preparation, then equi-joins on the tile key
    (``relabeling.py:206-213``).

    Physical plan (no tile kwargs): ``emit_pieces`` (pad + emit) into
    ``double_exchange_pieces`` — the whole pipeline in 3 Python passes /
    2 shuffles, kernels unchanged (golden byte-equality).  With aligned
    tile kwargs the equi-join forces a materialization between exchange
    1 and the segmentation UDF, so that path keeps the
    stage-per-operator composition.
    """
    if segmentation_tile_kwargs:
        overlapped = prepare_input(ts, overlaps)
        extra = {name: prepare_input(other, overlaps)
                 for name, other in segmentation_tile_kwargs.items()}
        segmented = segment_overlapped_input(
            overlapped, seg_fn=seg_fn, returns_classes=returns_classes,
            segmentation_fn_kwargs=segmentation_fn_kwargs,
            extra_tiles=extra)
        deduped = remove_overlapped_labels(segmented, threshold=threshold)
        merged = merge_overlapped_tiles(deduped)
        return crop_to_image(merged)

    ov = _norm_overlaps(overlaps, ts.nd)
    mid, fin = _labels_mid_fin(
        seg_fn or default_segment_fn, dict(segmentation_fn_kwargs or {}),
        returns_classes, ov, threshold, ts.grid, ts.chunk_shape,
        ts.image_shape)
    out = double_exchange_pieces(
        emit_pieces(ts, ov, pad_stage(ts.chunk_shape)), ts.nd, ts.grid, ov,
        mid, fin)
    return ts.with_df(out, overlaps=(0,) * ts.nd)


def _labels_mid_fin(fn, kwargs, returns_classes, ov, threshold, grid,
                    chunk, img):
    """The segment+dedup (mid) and merge+trim+crop (fin) kernel chains of
    ``image2labels``, shared with the from-pieces fusion path."""
    segment = segment_stage(fn, kwargs, returns_classes)
    dedup = dedup_stage(grid, ov, threshold)
    merge, trim = merge_stage(grid, ov), trim_stage(grid, ov)
    crop = crop_stage(chunk, img)

    def mid(tile, cls, loc):
        return dedup(*segment(tile, cls, loc), loc)

    def fin(tile, cls, loc):
        return crop(*trim(*merge(tile, cls, loc), loc), loc)

    return mid, fin


def image2labels_from_pieces(pieces_df, nd: int, grid, chunk_shape,
                             image_shape, spark,
                             seg_fn: Optional[Callable] = None,
                             overlaps: Union[int, List[int]] = 50,
                             threshold: float = 0.05) -> TileSet:
    """``image2labels`` for a source that already emitted halo pieces
    (``operators/halo.py::emit_piece_records`` inside its own build
    pass): the full tile payload never crosses the Arrow boundary before
    the first exchange — one fewer full-payload generation than
    building a tile table first.  Kernels and result are identical to
    ``image2labels`` (asserted by ``tests/test_spark_pipeline.py``)."""
    ov = _norm_overlaps(overlaps, nd)
    mid, fin = _labels_mid_fin(
        seg_fn or default_segment_fn, {}, False, ov, threshold, grid,
        chunk_shape, image_shape)
    out = double_exchange_pieces(pieces_df, nd, grid, ov, mid, fin)
    return TileSet(df=out, nd=nd, grid=grid, chunk_shape=chunk_shape,
                   overlaps=(0,) * nd, image_shape=image_shape)


def _geojson_finish(grid, chunk, ov, object_classes, threshold,
                    seg=None, returns_classes=False, seg_kwargs=None):
    """Fused (segment) -> border-dedup -> annotate kernel chain, emitting
    one annotation record per tile (NULL for empty, the reference's
    scalar-0 sentinel)."""
    segment = (None if seg is None else
               segment_stage(seg, dict(seg_kwargs or {}), returns_classes))
    dedup = dedup_stage(grid, ov, threshold)
    annotate = annotate_stage(grid, chunk, ov, object_classes)

    def finish(tile, cls, loc):
        if segment is not None:
            tile, cls = segment(tile, cls, loc)
        return annotate(*dedup(tile, cls, loc), loc)

    return finish


def _check_annotation_nd(nd: int) -> None:
    if nd not in (2, 3):
        raise NotImplementedError(
            f"annotation supports 2D (reference parity) and 3D "
            f"(footprint+zRange extension), got {nd}D")


def labels2geojson(ts: TileSet, overlaps: Union[int, List[int]] = 50,
                   threshold: float = 0.5,
                   object_classes: Optional[dict] = None,
                   pre_overlapped: bool = False):
    """(overlap) -> dedup -> annotate; no merge stage — annotation bakes the
    overlap bookkeeping into its coordinate offsets (reference
    ``relabeling.py:245-276``, threshold default 0.5).

    Physical plan: dedup+annotate fuse into ONE Python pass; with
    ``pre_overlapped=False`` the pad+emit of the halo exchange fuses in
    front (2 passes, 1 shuffle total)."""
    _check_annotation_nd(ts.nd)
    if pre_overlapped:
        finish = _geojson_finish(ts.grid, ts.chunk_shape, ts.overlaps,
                                 object_classes, threshold)
        return map_tiles_records(ts, finish, ANNOTATION_SCHEMA)
    ov = _norm_overlaps(overlaps, ts.nd)
    finish = _geojson_finish(ts.grid, ts.chunk_shape, ov,
                             object_classes, threshold)
    return exchange_records_from_pieces(
        emit_pieces(ts, ov, pad_stage(ts.chunk_shape)), ts.nd, ts.grid,
        finish, ANNOTATION_SCHEMA)


def image2geojson(ts: TileSet, seg_fn: Optional[Callable] = None,
                  overlaps: Union[int, List[int]] = 50,
                  threshold: float = 0.5,
                  returns_classes: bool = False,
                  object_classes: Optional[dict] = None,
                  segmentation_fn_kwargs: Optional[dict] = None):
    """pad -> overlap -> segment -> dedup -> annotate (reference
    ``relabeling.py:279-309``) — fused into 2 Python passes / 1 shuffle:
    mapInPandas(pad+emit) -> groupBy(key) -> applyInPandas(assemble+
    segment+dedup+annotate)."""
    _check_annotation_nd(ts.nd)
    ov = _norm_overlaps(overlaps, ts.nd)
    finish = _geojson_finish(ts.grid, ts.chunk_shape, ov, object_classes,
                             threshold, seg=seg_fn or default_segment_fn,
                             returns_classes=returns_classes,
                             seg_kwargs=segmentation_fn_kwargs)
    return exchange_records_from_pieces(
        emit_pieces(ts, ov, pad_stage(ts.chunk_shape)), ts.nd, ts.grid,
        finish, ANNOTATION_SCHEMA)


__all__ = ["prepare_input", "image2labels", "labels2geojson",
           "image2geojson", "sort_label_indices",
           "segment_overlapped_input", "remove_overlapped_labels",
           "merge_overlapped_tiles", "annotate_labeled_tiles"]
