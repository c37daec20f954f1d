"""GeoJSON annotation operator and the zip sink.

``annotate_labeled_tiles`` turns each deduped label tile into one GeoJSON
FeatureCollection (reference ``relabeling.py:102-123``); the result is a
DataFrame of ``(tile key, annotation JSON string)`` — a *structured* column,
so downstream consumers can ``from_json`` it into the nested struct schema
(FIXTURES.md) or write it out as-is.

``zip_annotated_tiles`` reproduces the reference sink
(``relabeling.py:126-163``): one ``{cz-}cy-cx.geojson`` entry per non-empty
tile, zipped (DEFLATE-9).  The non-empty annotations are collected through
the DataFrame (one SQL execution) and the zip is written on the driver, so
no executor touches the filesystem; the driver holds the annotation text
of the non-empty tiles (GeoJSON contours, not pixels) once.
"""
from __future__ import annotations

import pathlib
import zipfile
from datetime import datetime
from typing import Optional, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels.stages import annotate_stage
from ..sources.tiles import TileSet
from .halo import map_tiles_records

ANNOTATION_SCHEMA = T.StructType([
    T.StructField("cz", T.IntegerType(), True),
    T.StructField("cy", T.IntegerType(), False),
    T.StructField("cx", T.IntegerType(), False),
    T.StructField("annotation", T.StringType(), True),
])

# Spark-typed view of one FeatureCollection, for F.from_json consumers
GEOJSON_SPARK_SCHEMA = T.StructType([
    T.StructField("type", T.StringType()),
    T.StructField("features", T.ArrayType(T.StructType([
        T.StructField("type", T.StringType()),
        T.StructField("geometry", T.StructType([
            T.StructField("type", T.StringType()),
            T.StructField("coordinates", T.ArrayType(
                T.ArrayType(T.ArrayType(T.LongType())))),
        ])),
        T.StructField("properties", T.StructType([
            T.StructField("objectType", T.StringType()),
        ])),
    ]))),
])


def annotate_labeled_tiles(ts: TileSet,
                           object_classes: Optional[dict] = None
                           ) -> DataFrame:
    """Per-tile GeoJSON FeatureCollection; NULL for empty tiles (the
    reference's scalar ``0`` sentinel, ``utils.py:182-186``).

    2D matches the reference goldens byte-for-byte.  3D is an EXTENSION
    (the reference's own 3D path cannot execute — its tests pass
    ``annotations_output=None``, ``tests/fixtures.py:93``): each 3D
    object is annotated by the 2D contour of its (y, x) footprint plus
    an inclusive ``zRange`` property
    (``kernels/annotate.py::labels_to_annotations_3d``)."""
    if ts.nd not in (2, 3):
        raise NotImplementedError(f"annotation supports 2D/3D, got {ts.nd}D")
    return map_tiles_records(
        ts, annotate_stage(ts.grid, ts.chunk_shape, ts.overlaps,
                           object_classes), ANNOTATION_SCHEMA)


def zip_annotated_tiles(annotations: DataFrame,
                        out_dir: Union[str, pathlib.Path, None] = None
                        ) -> pathlib.Path:
    """Zip one ``{cz-}cy-cx.geojson`` entry per non-empty tile into
    ``<out_dir>.zip`` (reference ``relabeling.py:126-163``).  The rows are
    collected before anything is written, so a failing upstream leaves no
    file behind.  Out-dir conventions as in the reference: a pre-existing
    ``out_dir`` also gets the loose files and is kept; a fresh one is
    never created."""
    now = datetime.now()
    if out_dir is None:
        out_dir = "./annotations_output-" + now.strftime("%Y%m%d-%H%M%S")
    out_dir = pathlib.Path(out_dir)
    rows = annotations.where(F.col("annotation").isNotNull()).select(
        "cz", "cy", "cx", "annotation").collect()
    files = sorted(("-".join(str(c) for c in (r.cz, r.cy, r.cx)
                             if c is not None) + ".geojson", r.annotation)
                   for r in rows)
    keep_loose = out_dir.is_dir()
    out_zip = pathlib.Path(str(out_dir) + ".zip")
    with zipfile.ZipFile(out_zip, "w", zipfile.ZIP_DEFLATED,
                         compresslevel=9) as zf:
        for name, text in files:
            data = text.encode()
            info = zipfile.ZipInfo(name, now.timetuple()[:6])
            info.external_attr = 0o644 << 16    # a bare name gets 0o600
            # a ZipInfo entry does not inherit the archive's compression
            zf.writestr(info, data, zf.compression, zf.compresslevel)
            if keep_loose:
                (out_dir / name).write_bytes(data)
    return out_zip
