"""Structural validation of tile-table rows (round-14 tile fuzz arm).

``pdf_tile`` / ``pdf_classes`` / ``checked_loc`` reject malformed rows
loudly with chunk-coordinate context, and ``_chunk_loud`` attributes
any downstream kernel error to its chunk — the bookkeeping dask gives
the reference for free (a dask chunk cannot have a payload/shape
mismatch, reference ``chunkops.py:19-32``) enforced at the Spark table
boundary.  Pure-Python tests (no SparkSession): the same helpers run
inside every tile mapInPandas/applyInPandas loop; the e2e posture is
pinned by tests/test_dirty_corpus_gate.py::test_tile_corruption_panel.
"""
import numpy as np
import pandas as pd
import pytest

from dask_relabeling_spark.operators.halo import _chunk_loud
from dask_relabeling_spark.sources.tiles import (attributed_error,
                                                 checked_loc, pdf_classes,
                                                 pdf_tile)


def _row(**kw):
    base = {"cz": None, "cy": 1, "cx": 2, "d": None, "h": 2, "w": 3,
            "data": list(range(6)), "nclasses": None, "classes": None}
    base.update(kw)
    return pd.Series(base)


def test_pdf_tile_ok():
    t = pdf_tile(_row(), 2)
    assert t.shape == (2, 3) and t.dtype == np.int64
    assert t[1, 2] == 5


def test_pdf_tile_ok_3d():
    t = pdf_tile(_row(cz=0, d=2, data=list(range(12))), 3)
    assert t.shape == (2, 2, 3)


@pytest.mark.parametrize("kw,needle", [
    # payload/shape mismatch: np.reshape would raise anonymously
    (dict(data=list(range(5))), "payload length 5"),
    (dict(data=list(range(7))), "payload length 7"),
    # -1 dim: np.reshape would silently INFER it from the payload
    (dict(h=-1, w=-1, data=list(range(6))), "non-positive dimension"),
    # zero dim + empty payload: reshape would silently succeed and the
    # tile would vanish into the exchange
    (dict(h=0, w=0, data=[]), "non-positive dimension"),
    (dict(h=None), "NULL dimension h"),
    (dict(h=float("nan")), "NULL dimension h"),   # Arrow nullable-int
    (dict(data=None), "NULL payload"),
])
def test_pdf_tile_loud(kw, needle):
    with pytest.raises(ValueError, match=r"tile \(cy=1, cx=2\)") as ei:
        pdf_tile(_row(**kw), 2)
    assert needle in str(ei.value)


def test_pdf_classes_ok_and_none():
    assert pdf_classes(_row(), 2) is None
    # Arrow renders a NULL int column as NaN — still "both NULL"
    assert pdf_classes(_row(nclasses=float("nan")), 2) is None
    c = pdf_classes(_row(nclasses=2, classes=list(range(12))), 2)
    assert c.shape == (2, 2, 3)


@pytest.mark.parametrize("kw,needle", [
    (dict(nclasses=2), "NULL together"),
    (dict(classes=list(range(6))), "NULL together"),
    (dict(nclasses=float("nan"), classes=list(range(6))),
     "NULL together"),
    (dict(nclasses=0, classes=[]), "non-positive nclasses"),
    (dict(nclasses=2, classes=list(range(10))), "classes length 10"),
    # round-14 ADVICE: pdf_classes validates dimensions itself (shared
    # _checked_shape) — a standalone call on a NULL/zero-dim row fails
    # loudly instead of dying as int(None)/reshaping garbage
    (dict(nclasses=2, classes=list(range(12)), h=None),
     "NULL dimension h"),
    (dict(nclasses=2, classes=[], h=0, w=0, data=[]),
     "non-positive dimension"),
])
def test_pdf_classes_loud(kw, needle):
    with pytest.raises(ValueError, match=r"tile \(cy=1, cx=2\)") as ei:
        pdf_classes(_row(**kw), 2)
    assert needle in str(ei.value)


def test_checked_loc_ok_and_bounds():
    assert checked_loc(_row(), 2, (3, 3)) == (1, 2)
    assert checked_loc(_row(cy=2, cx=2), 2, (3, 3)) == (2, 2)
    with pytest.raises(ValueError, match="outside the declared grid"):
        checked_loc(_row(cx=3), 2, (3, 3))
    with pytest.raises(ValueError, match="outside the declared grid"):
        checked_loc(_row(cy=-1), 2, (3, 3))


@pytest.mark.parametrize("kw", [dict(cx=None), dict(cy=float("nan"))])
def test_checked_loc_null_key(kw):
    with pytest.raises(ValueError, match="NULL key component"):
        checked_loc(_row(**kw), 2, (3, 3))


def test_chunk_loud_attributes_anonymous_errors():
    with pytest.raises(ValueError, match=r"chunk \(1, 2\): boom"):
        _chunk_loud((1, 2), lambda: (_ for _ in ()).throw(
            ValueError("boom")))


def test_chunk_loud_passes_attributed_errors_unchanged():
    # sentinel-marked errors (everything pdf_tile/pdf_classes/
    # checked_loc/_assemble_one raise) pass through even when caught
    # while working on a DIFFERENT chunk — their message already names
    # the right coordinates
    err = attributed_error(
        "tile (cy=1, cx=2): payload length 5 != 2x3 = 6")
    with pytest.raises(ValueError) as ei:
        _chunk_loud((0, 1), lambda: (_ for _ in ()).throw(err))
    assert str(ei.value) == str(err)   # no double prefix
    err2 = attributed_error("chunk (1, 2): duplicate tile")
    with pytest.raises(ValueError) as ei:
        _chunk_loud((0, 1), lambda: (_ for _ in ()).throw(err2))
    assert str(ei.value) == str(err2)


def test_chunk_loud_attributes_coincidental_prefixes():
    # round-14 ADVICE: pass-through keys on the sentinel ATTRIBUTE, not
    # the message text — a kernel error that merely *sounds* attributed
    # still gets this chunk's coordinates prepended
    with pytest.raises(ValueError,
                       match=r"chunk \(0, 1\): tile \(garbled"):
        _chunk_loud((0, 1), lambda: (_ for _ in ()).throw(
            ValueError("tile (garbled kernel message")))
    # and the wrapper's own output is sentinel-marked, so a re-wrap at
    # an outer _chunk_loud layer cannot double-prefix it
    try:
        _chunk_loud((0, 1), lambda: (_ for _ in ()).throw(
            ValueError("boom")))
    except ValueError as exc:
        assert getattr(exc, "_chunk_attributed", False)
        with pytest.raises(ValueError, match=r"^chunk \(0, 1\): boom$"):
            _chunk_loud((9, 9), lambda: (_ for _ in ()).throw(exc))


def test_chunk_loud_preserves_exception_type():
    class Custom(ValueError):
        pass

    with pytest.raises(Custom, match=r"chunk \(0, 0\):"):
        _chunk_loud((0, 0), lambda: (_ for _ in ()).throw(Custom("x")))
    # multi-arg-constructor exceptions fall back to ValueError, chained
    class MultiArg(Exception):
        def __init__(self, a, b):
            super().__init__(a, b)

    with pytest.raises(ValueError, match=r"chunk \(0, 0\):") as ei:
        _chunk_loud((0, 0),
                    lambda: (_ for _ in ()).throw(MultiArg(1, 2)))
    assert isinstance(ei.value.__cause__, MultiArg)


def _out_of_grid(spark):
    """A 2x2 label TileSet whose (1, 1) row carries the key (1, 5)."""
    from pyspark.sql import functions as F

    from dask_relabeling_spark import from_array
    img = np.zeros((8, 8), dtype=np.int64)
    img[1:3, 1:3] = 1
    img[5:7, 5:7] = 2
    ts = from_array(spark, img, chunk_shape=(4, 4))
    bad = (F.col("cy") == 1) & (F.col("cx") == 1)
    return ts.with_df(ts.df.withColumn(
        "cx", F.when(bad, F.lit(5)).otherwise(F.col("cx"))))


def _annotate(ts):
    from dask_relabeling_spark import annotate_labeled_tiles
    return annotate_labeled_tiles(ts)


def _sort_distributed(ts):
    from dask_relabeling_spark import sort_label_indices
    return sort_label_indices(ts, distributed=True).df


def _segment_aligned(ts):
    from dask_relabeling_spark import segment_overlapped_input
    return segment_overlapped_input(
        ts, seg_fn=lambda tile, mask: tile * mask,
        extra_tiles={"mask": ts}).df


@pytest.mark.parametrize("run", [_annotate, _sort_distributed,
                                 _segment_aligned])
def test_out_of_grid_key_fails_loudly_on_every_per_tile_path(spark, run):
    # every per-tile path validates the key: an out-of-grid row must
    # not pass silently (annotation would compute wrong offsets)
    with pytest.raises(Exception, match=r"tile \(cy=1, cx=5\): location "
                                        r"outside the declared grid"):
        run(_out_of_grid(spark)).collect()
