"""dask_relabeling_spark — a PySpark-native engine with the capabilities of
TheJacksonLaboratory/dask_relabeling, rebuilt Spark-first.

Public surface mirrors the reference's entry points
(``/root/reference/relabel/__init__.py``) over a tile-table data model, plus
the large-scale data-pipeline operators (dedup, similarity, text analysis,
multimodal plumbing) that generalize the same parallel patterns.

The root is lazy (PEP 562): each exported name is imported on first
access, so ``python -m dask_relabeling_spark.worker_daemon`` and a worker
that unpickles one library closure load no more than they use.
"""
import importlib

__version__ = "0.1.0"

# exported name -> module that defines it (relative to this package)
_EXPORTS = {
    "get_spark": ".session",
    "TileSet": ".sources.tiles", "from_array": ".sources.tiles",
    "from_tiles": ".sources.tiles", "to_array": ".sources.tiles",
    "to_tiles": ".sources.tiles",
    "prepare_input": ".operators.pipeline",
    "image2labels": ".operators.pipeline",
    "image2geojson": ".operators.pipeline",
    "labels2geojson": ".operators.pipeline",
    "segment_overlapped_input": ".operators.pipeline",
    "remove_overlapped_labels": ".operators.pipeline",
    "merge_overlapped_tiles": ".operators.pipeline",
    "annotate_labeled_tiles": ".operators.pipeline",
    "sort_label_indices": ".operators.relabel_ops",
    "zip_annotated_tiles": ".operators.annotate_ops",
    "asof_join": ".operators.asof",
    "dense_ids": ".functions.ids",
    "grouped_topk": ".functions.skew",
    "write_bucketed": ".sources.bucketed", "read_table": ".sources.bucketed",
    "load_table": ".sources.tables",
}
_SUBMODULES = {name: f".operators.{name}"
               for name in ("dedup", "multimodal", "similarity", "text")}

__all__ = [*_EXPORTS, *_SUBMODULES]


def __getattr__(name):
    if name in _SUBMODULES:
        value = importlib.import_module(_SUBMODULES[name], __name__)
    elif name in _EXPORTS:
        value = getattr(importlib.import_module(_EXPORTS[name], __name__),
                        name)
    else:
        raise AttributeError(
            f"module {__name__!r} has no attribute {name!r}")
    globals()[name] = value
    return value
