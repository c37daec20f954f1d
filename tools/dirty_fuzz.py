"""Seeded randomized dirty-corpus differential fuzz.

The fixed profiles in ``null_parity_sweep.py`` pin the dirty-row
classes we already know about; this tool searches for the ones we
don't.  Each seed generates a random batch of documents / embeddings /
events rows — including NULL keys, NULL timestamps, NULL/NaN/Inf
components and values, empty strings, duplicated text, ties, and
extreme magnitudes — injects them into the sf0.001 tables, and runs
every registered query against its DuckDB oracle through the sweep's
own ``run_profile`` machinery (same normalization as the driver gate).

Round-12 origin: seed 101 found SEVEN silently diverging queries in
one run — the NULL-ts/NULL-value/NULL-user_id divergence class across
the time-ordered event plans (engines' opposite window NULL ordering,
``F.window``'s NULL-ts drop, an incremental split predicate losing
NULL ts, DuckDB ASOF matching NULL-ts left rows).  All fixed with
explicit both-engine conventions; the trigger rows were then
promoted into the sweep's permanent null profile.

Usage:  python tools/dirty_fuzz.py [seed ...]    (default: 101)
        python tools/dirty_fuzz.py --media [seed ...]   (media payloads)
        python tools/dirty_fuzz.py --tiles [seed ...]   (tile tables)
Exit 1 if any seed produced a silent divergence.

MUST be run from the repo root (Spark's Python workers resolve
``dask_relabeling_spark`` via the working directory; run from
anywhere else and every Python-kernel query fails with a spurious
ModuleNotFoundError on the executor side).
"""
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import null_parity_sweep as NPS  # noqa: E402

from dask_relabeling_spark.session import get_spark  # noqa: E402

WORDS = ["the", "data", "spark", "engine", "tile", "label", "dedup",
         "corpus", "token", "quality", "straße", "İstanbul", "ΣΟΦΟΣ",
         "中文", "naïve", "", "a", "zzz"]
LANGS = ["en", "de", "tr", "el", "zh", None, ""]
SOURCES = ["web", "books", "code", None, ""]
ETYPES = ["view", "click", "purchase", None, ""]


def _sql_str(s):
    return "NULL" if s is None else "'" + s.replace("'", "''") + "'"


# Fuzz ids start here — far above both the base key range (max 999 at
# sf0.001) and the fixed profiles' 9000001+ rows, so injected batches
# never collide with either.
BASE_ID = 91000000


def gen_profile(rng: random.Random) -> dict:
    """Random dirty rows for the three injectable tables.  Ids start at
    ``BASE_ID`` (91000000, above the fixed profiles' 9000001+ range)."""
    docs, embs, evts = [], [], []
    for i in range(12):
        if rng.random() < 0.15:
            text = None
        else:
            text = " ".join(rng.choice(WORDS)
                            for _ in range(rng.randint(0, 30)))
            if rng.random() < 0.2:
                text = text + "  " + text  # duplication pressure
        nch = "NULL" if text is None else str(len(text))
        docs.append(f"({BASE_ID + i}, {_sql_str(text)}, "
                    f"{_sql_str(rng.choice(LANGS))}, "
                    f"{_sql_str(rng.choice(SOURCES))}, {nch})")
    for i in range(8):
        kind = rng.random()
        if kind < 0.15:
            vec = "NULL"
        else:
            comps = []
            for _ in range(64):
                r = rng.random()
                if r < 0.02:
                    comps.append("NULL")
                elif r < 0.04:
                    comps.append("'NaN'::FLOAT")
                elif r < 0.05:
                    comps.append("'Infinity'::FLOAT")
                elif r < 0.15:
                    comps.append("0.0")  # tie / zero-norm pressure
                else:
                    comps.append(f"{rng.uniform(-2, 2):.6f}")
            vec = "[" + ", ".join(comps) + "]::FLOAT[]"
        lab = "NULL" if rng.random() < 0.2 else str(rng.randint(0, 4))
        embs.append(f"({BASE_ID + i}, {vec}, {lab})")
    for i in range(12):
        ts = ("NULL" if rng.random() < 0.1 else
              f"TIMESTAMP '2024-01-0{rng.randint(1, 9)} "
              f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:00'")
        uid = "NULL" if rng.random() < 0.15 else str(rng.randint(1, 5))
        r = rng.random()
        if r < 0.1:
            val = "NULL"
        elif r < 0.2:
            val = "0.0"
        elif r < 0.3:
            val = str(rng.choice([-1e9, 1e9, 1e-12, -0.0]))
        else:
            val = f"{rng.uniform(-100, 100):.4f}"
        props = rng.choice(['\'{"k": 1}\'', "'{}'", "NULL", "'[]'",
                            '\'{"k": null}\'', "'not json'"])
        evts.append(f"({BASE_ID + i}, {ts}, {uid}, "
                    f"{_sql_str(rng.choice(ETYPES))}, {val}, {props})")
    return {"documents": docs, "embeddings": embs, "events": evts}


# ---------------------------------------------------------------------------
# Media-payload arm (round 13): corrupt/truncated PGM/WAV/Y4M bytes.
#
# The table arm above reaches the multimodal queries only through their
# documents-synthesized payloads, which are well-formed by construction
# — so the decode kernels had never been fed a corrupt payload under a
# gate.  This arm builds VALID payloads with the repo's own encoders,
# applies per-format structural corruptions, and pins the reference's
# robustness posture (chunkops kernels fail loudly per chunk):
#
#   expect "loud"  — the stage must RAISE, and the error must name the
#                    offending media_id (operators/multimodal._loud);
#                    silent acceptance of a structurally invalid
#                    payload is a divergence.
#   expect "valid" — the mutation is legal per the format spec
#                    (comments, unknown RIFF chunks, FRAME params,
#                    trailing sub-header junk): the stage must succeed
#                    AND decode byte-identically to the pristine twin.
#   expect "either"— ambiguous-per-spec inputs: loud (with media_id)
#                    or success both acceptable; never compared.
#
# First run (round 13) found silent decodes of zero-dimension PGM/Y4M
# headers and size-lying RIFF chunks, plus anonymous errors from every
# kernel — fixed in kernels/codecs.py + operators/multimodal._loud;
# the classes are pinned by tests/test_dirty_corpus_gate.py's media
# panel (seed 0 of gen_media_cases).
# ---------------------------------------------------------------------------

MEDIA_STAGES = {"pgm": ("feat", "resize"), "wav": ("feat",),
                "y4m": ("frames",)}
_MEDIA_KIND = {"pgm": "image", "wav": "audio", "y4m": "video"}


def gen_media_cases(rng: random.Random):
    """Returns ``(pristine, cases)``: one valid payload per format and
    the corruption cases derived from it (tag, payload, expect)."""
    import numpy as np
    from dask_relabeling_spark.kernels import codecs as C

    img = np.frombuffer(rng.randbytes(64), dtype=np.uint8).reshape(8, 8)
    wav_s = np.frombuffer(rng.randbytes(64), dtype="<i2")
    vid = np.frombuffer(rng.randbytes(48), dtype=np.uint8).reshape(3, 4, 4)
    P = C.encode_pgm(img)
    W = C.encode_wav_pcm16(wav_s, 8000)
    Y = C.encode_y4m_mono(vid)
    pristine = {"pgm": P, "wav": W, "y4m": Y}
    raster = P[P.index(b"255\n") + 4:]
    cases = [
        ("pgm", "truncate-raster", P[:-rng.randint(1, 63)], "loud"),
        ("pgm", "truncate-header", P[:rng.randint(1, 10)], "loud"),
        ("pgm", "empty", b"", "loud"),
        ("pgm", "wrong-magic", b"\x89PNG\r\n" + P[2:], "loud"),
        ("pgm", "bad-maxval", b"P5\n8 8\n65535\n" + raster, "loud"),
        ("pgm", "zero-dims", b"P5\n0 0\n255\n", "loud"),
        ("pgm", "negative-dim", b"P5\n-8 8\n255\n" + raster, "loud"),
        ("pgm", "nonnumeric-dim", b"P5\nx 8\n255\n" + raster, "loud"),
        ("pgm", "comment-header", b"P5\n# a comment\n8 8\n255\n" + raster,
         "valid"),
        ("pgm", "trailing-bytes", P + rng.randbytes(5), "valid"),
        ("pgm", "random-blob", rng.randbytes(40), "either"),
        ("wav", "truncate-data", W[:-rng.randint(1, 63)], "loud"),
        ("wav", "empty", b"", "loud"),
        ("wav", "wrong-magic", b"RIFX" + W[4:], "loud"),
        ("wav", "not-wave", W[:8] + b"AVI " + W[12:], "loud"),
        ("wav", "non-pcm", W[:20] + (2).to_bytes(2, "little") + W[22:],
         "loud"),
        ("wav", "stereo", W[:22] + (2).to_bytes(2, "little") + W[24:],
         "loud"),
        ("wav", "8bit", W[:34] + (8).to_bytes(2, "little") + W[36:],
         "loud"),
        ("wav", "missing-data", W[:36] + b"datx" + W[40:], "loud"),
        # size-field lies SMALLER: declared-size-authoritative parsing
        # of a shorter data chunk is correct RIFF behavior
        ("wav", "lying-size-small",
         W[:40] + (len(W) - 48).to_bytes(4, "little") + W[44:], "either"),
        ("wav", "extra-chunk",
         W[:36] + b"LIST\x04\x00\x00\x00ABCD" + W[36:], "valid"),
        ("wav", "odd-chunk",
         W[:36] + b"JUNK\x03\x00\x00\x00abc\x00" + W[36:], "valid"),
        ("wav", "trailing-junk", W + rng.randbytes(5), "valid"),
        ("wav", "random-blob", rng.randbytes(60), "either"),
        ("y4m", "truncate-frame", Y[:-rng.randint(1, 15)], "loud"),
        ("y4m", "empty", b"", "loud"),
        ("y4m", "wrong-magic", b"XUV4MPEG2" + Y[9:], "loud"),
        ("y4m", "zero-dims", Y.replace(b" W4 ", b" W0 ", 1), "loud"),
        ("y4m", "negative-dim", Y.replace(b" H4 ", b" H-4 ", 1), "loud"),
        ("y4m", "missing-wh",
         b"YUV4MPEG2 F25:1 Cmono" + Y[Y.index(b"\n"):], "loud"),
        ("y4m", "subsampled", Y.replace(b"Cmono", b"C420jpeg", 1),
         "loud"),
        ("y4m", "bad-marker",
         Y[:Y.index(b"FRAME", 40)] + b"FRAMX"
         + Y[Y.index(b"FRAME", 40) + 5:], "loud"),
        ("y4m", "marker-eof", Y + b"FRAME", "loud"),
        ("y4m", "frame-params",
         Y.replace(b"FRAME\n", b"FRAME Xtag\n", 1), "valid"),
        ("y4m", "trailing-junk", Y + b"JUNK", "loud"),
        ("y4m", "random-blob", rng.randbytes(50), "either"),
    ]
    return pristine, cases


def _run_media_stage(spark, stage, kind, payload, media_id):
    """Execute one decode stage over a single-row media DataFrame and
    return a comparable value; decode errors propagate to the caller."""
    from dask_relabeling_spark.operators import multimodal as MM
    df = spark.createDataFrame(
        [(media_id, _MEDIA_KIND[kind], payload, None)], MM.MEDIA_SCHEMA)
    if stage == "feat":
        rows = MM.decode_and_featurize(df, decode="real").collect()
        return [tuple(r["feature"]) for r in rows]
    if stage == "resize":
        out = MM.decode_and_featurize(
            MM.resize_media(df, out_w=4, out_h=4, decode="real"),
            decode="real", feature_dim=2)
        return [tuple(r["feature"]) for r in out.collect()]
    rows = MM.sample_frames(df, every_k=2, decode="real").collect()
    return sorted((r["frame_idx"], bytes(r["frame"])) for r in rows)


def run_media_fuzz(spark, rng: random.Random, quiet: bool = True):
    """Gate the corruption cases; returns (bad, n_loud, n_run)."""
    pristine, cases = gen_media_cases(rng)
    bad, n_loud, n_run = [], 0, 0
    base = {}

    # Python-runner teardown race (observed on Spark 4.1 in long-lived
    # local sessions): this panel intentionally crashes Python workers
    # dozens of times in sequence, and occasionally the NEXT task trips
    # over a half-torn-down reused worker — the job then aborts with
    # java.nio.channels.ClosedSelectorException (raised inside
    # BasePythonRunner$ReaderInputStream.read, no Python traceback at
    # all), which this gate would misread as an anonymous decode error.
    # One retry is the honest classifier: every corruption case is
    # deterministic, so a REAL anonymous decode error reproduces on the
    # retry, while the worker race (infrastructure, not a decode
    # verdict) does not.  The retry fires ONLY on the known
    # infrastructure signatures AND only when the error carries no
    # media_id — a properly attributed loud failure is never re-run.
    infra = ("ClosedSelectorException", "ClosedByInterruptException",
             "Python worker exited unexpectedly")

    def outcome(stage, kind, payload, mid):
        for attempt in range(2):
            try:
                return ("ok", _run_media_stage(spark, stage, kind,
                                               payload, mid))
            except Exception as exc:  # noqa: BLE001 — classified below
                val = str(exc)
                if (attempt == 0 and f"media_id={mid}" not in val
                        and any(sig in val for sig in infra)):
                    continue
                return ("err", val)

    for kind, stages in MEDIA_STAGES.items():
        for stage in stages:
            base[kind, stage] = outcome(stage, kind, pristine[kind], 1)
            if base[kind, stage][0] != "ok":
                bad.append((f"{kind}/pristine/{stage}",
                            "pristine payload failed to decode: "
                            + base[kind, stage][1][:160]))
    for i, (kind, tag, payload, expect) in enumerate(cases):
        mid = 777001 + i
        for stage in MEDIA_STAGES[kind]:
            n_run += 1
            name = f"{kind}/{tag}/{stage}"
            st, val = outcome(stage, kind, payload, mid)
            if st == "err":
                n_loud += 1
                if expect == "valid":
                    bad.append((name, f"legal mutation refused: "
                                f"{val[:160]}"))
                elif f"media_id={mid}" not in val:
                    bad.append((name, "anonymous decode error (no "
                                f"media_id context): {val[:160]}"))
                elif not quiet:
                    print(f"loud   {name}")
            else:
                if expect == "loud":
                    bad.append((name, "structurally invalid payload "
                                "decoded silently"))
                elif expect == "valid" and val != base[kind, stage][1]:
                    bad.append((name, "legal mutation decoded "
                                "differently from pristine twin"))
                elif not quiet:
                    print(f"ok     {name}")
    # batch accounting: dirty-adjacent rows must not silently drop
    from dask_relabeling_spark.operators import multimodal as MM
    commented = [p for k, t, p, _ in cases
                 if k == "pgm" and t == "comment-header"][0]
    batch = spark.createDataFrame(
        [(1, "image", pristine["pgm"], None),
         (2, "image", commented, None),
         (3, "audio", pristine["wav"], None)], MM.MEDIA_SCHEMA)
    n_run += 1
    if MM.decode_and_featurize(batch, decode="real").count() != 3:
        bad.append(("batch/accounting", "row silently dropped in a "
                    "mixed valid batch"))
    # NULL meta through the FAKE decode paths (r13 ADVICE: resize_media
    # gained the NULL-meta guard but sample_frames' fake path had no
    # twin — and the real-decode cases above `continue` before reaching
    # it, so only an explicit fake-path probe can see the crash)
    nullmeta = spark.createDataFrame(
        [(778001, "video", pristine["y4m"], None)], MM.MEDIA_SCHEMA)
    n_run += 2
    try:
        if MM.sample_frames(nullmeta, every_k=2, decode="fake") \
                .count() < 1:
            bad.append(("fake/null-meta/frames",
                        "NULL-meta row produced no frames"))
    except Exception as exc:  # noqa: BLE001 — legal row must not crash
        bad.append(("fake/null-meta/frames",
                    f"legal NULL-meta row crashed the batch: "
                    f"{str(exc)[:160]}"))
    try:
        if MM.resize_media(nullmeta, out_w=4, out_h=4, decode="fake") \
                .count() != 1:
            bad.append(("fake/null-meta/resize",
                        "NULL-meta row silently dropped"))
    except Exception as exc:  # noqa: BLE001
        bad.append(("fake/null-meta/resize",
                    f"legal NULL-meta row crashed the batch: "
                    f"{str(exc)[:160]}"))
    return bad, n_loud, n_run


# ---------------------------------------------------------------------------
# Tile-table arm (round 14): malformed tile rows through the relabel
# pipelines.
#
# The flagship relabel queries synthesize their tile tables internally
# (well-formed by construction), so the tile kernels had never been fed
# a malformed TABLE row under a gate — the last operator family outside
# the differential net (r13 verdict, missing item 1).  The reference
# cannot represent these states at all (dask's shape bookkeeping makes a
# payload/shape mismatch or a duplicate chunk unrepresentable,
# chunkops.py:19-32); a Spark tile TABLE has no such guarantee.  This
# arm builds a valid dense tile table, applies per-row structural
# corruptions, and runs the REAL pipelines (image2labels: 2 exchanges;
# labels2geojson: 1 exchange) over each:
#
#   expect "loud"  — every stage must RAISE, and the error must carry
#                    chunk-coordinate context (sources/tiles.py checks,
#                    operators/halo._per_tile / _chunk_loud /
#                    _assemble_one);
#                    silent acceptance is a divergence.  Pre-round-14,
#                    a -1 dim was INFERRED by np.reshape, a zero-dim
#                    tile vanished, a duplicate chunk key was
#                    last-row-wins nondeterministic ownership, and a
#                    one-sided NULL nclasses/classes silently dropped
#                    the classes plane.
#   expect "valid" — the mutation is legal (row order permutation):
#                    the stage must succeed AND produce output
#                    identical to the pristine table's.
#   expect "either"— ambiguous (negative/huge label values): loud
#                    (attributed) or success both acceptable.
# ---------------------------------------------------------------------------

TILE_GRID = (3, 3)
TILE_CHUNK = (8, 8)
TILE_OVERLAP = 2
TILE_STAGES = ("labels", "geojson")


def _tile_rows(rng: random.Random) -> list:
    """Dense pristine 3x3 tile table (sparse random binary masks)."""
    import numpy as np
    rows = []
    for cy in range(TILE_GRID[0]):
        for cx in range(TILE_GRID[1]):
            px = np.frombuffer(rng.randbytes(64), dtype=np.uint8)
            mask = (px % 11 == 0).astype(np.int64)
            rows.append({"cz": None, "cy": cy, "cx": cx,
                         "d": None, "h": 8, "w": 8,
                         "data": [int(v) for v in mask],
                         "nclasses": None, "classes": None})
    return rows


def gen_tile_cases(rng: random.Random):
    """Returns ``(pristine_rows, cases)``: the dense table and the
    corruption cases derived from it (tag, rows, expect, needles) —
    ``needles`` are the chunk-context substrings of which at least one
    must appear in a loud error."""
    rows = _tile_rows(rng)
    tgt = next(i for i, r in enumerate(rows)
               if (r["cy"], r["cx"]) == (1, 1))
    d = rows[tgt]["data"]

    def mut(**kw):
        out = [dict(r) for r in rows]
        out[tgt] = {**out[tgt], **kw}
        return out

    at = ["(cy=1, cx=1)"]          # pdf_tile/pdf_classes/checked_loc
    anyc = ["chunk (", "tile ("]   # any chunk/tile-attributed error
    cases = [
        ("short-payload", mut(data=d[:-rng.randint(1, 63)]), "loud", at),
        ("long-payload", mut(data=d + [1, 1, 1]), "loud", at),
        ("zero-dims", mut(h=0, w=0, data=[]), "loud", at),
        # np.reshape INFERS a -1 dimension from the payload length:
        # silently accepted before round 14
        ("negative-dim", mut(h=-1), "loud", at),
        ("null-dim", mut(h=None), "loud", at),
        ("null-payload", mut(data=None), "loud", at),
        ("null-key", mut(cx=None), "loud", ["(cy=1, cx=None)"]),
        ("out-of-grid", mut(cx=7), "loud", ["(cy=1, cx=7)"]),
        ("duplicate-key", rows + [dict(rows[tgt], data=[0] * 64)],
         "loud", ["duplicate"]),
        ("missing-chunk", [r for i, r in enumerate(rows) if i != tgt],
         "loud", ["missing"]),
        ("nclasses-no-classes", mut(nclasses=2), "loud", at),
        ("classes-no-nclasses", mut(classes=[0] * 128), "loud", at),
        ("classes-len-mismatch", mut(nclasses=2, classes=[0] * 100),
         "loud", at),
        ("zero-nclasses", mut(nclasses=0, classes=[]), "loud", at),
        # internally consistent but wrong-shaped for the grid: must
        # still die attributed, not as an anonymous np.pad/np.block
        # error from whichever neighbor assembles first
        ("wrong-shape", mut(h=16, w=4), "loud", anyc),
        ("negative-labels", mut(data=[-v for v in d]), "either", anyc),
        ("huge-labels", mut(data=[v * (2 ** 61) for v in d]), "either",
         anyc),
        ("permuted-rows", list(reversed(rows)), "valid", []),
    ]
    return rows, cases


def _run_tile_stage(spark, stage, rows):
    """Execute one relabel pipeline over a tile table built from
    ``rows`` and return a comparable value; errors propagate."""
    from pyspark.sql import types as T

    from dask_relabeling_spark.operators.pipeline import (image2labels,
                                                          labels2geojson)
    from dask_relabeling_spark.sources.tiles import TILE_FIELDS, TileSet

    # all-nullable twin of TILE_SCHEMA: a parquet tile table carries no
    # nullability guarantee — which is exactly this arm's point
    schema = T.StructType([
        T.StructField(f.name,
                      T.ArrayType(T.LongType(), True)
                      if isinstance(f.dataType, T.ArrayType)
                      else f.dataType, True)
        for f in TILE_FIELDS])
    df = spark.createDataFrame(
        [tuple(r[f.name] for f in TILE_FIELDS) for r in rows], schema)
    ts = TileSet(df=df, nd=2, grid=TILE_GRID, chunk_shape=TILE_CHUNK,
                 overlaps=(0, 0), image_shape=(24, 24))
    if stage == "labels":
        out = image2labels(ts, overlaps=TILE_OVERLAP, threshold=0.05)
        return sorted((r.cy, r.cx, tuple(r.data))
                      for r in out.df.collect())
    out = labels2geojson(ts, overlaps=TILE_OVERLAP, threshold=0.5)
    return sorted((r.cy, r.cx, r.annotation) for r in out.collect())


def run_tile_fuzz(spark, rng: random.Random, quiet: bool = True):
    """Gate the malformed-tile cases; returns (bad, n_loud, n_run)."""
    rows, cases = gen_tile_cases(rng)
    bad, n_loud, n_run = [], 0, 0
    base = {}
    for stage in TILE_STAGES:
        try:
            base[stage] = _run_tile_stage(spark, stage, rows)
        except Exception as exc:  # noqa: BLE001 — recorded as divergence
            bad.append((f"tiles/pristine/{stage}",
                        "pristine tile table failed: " + str(exc)[:160]))
    for tag, mrows, expect, needles in cases:
        for stage in TILE_STAGES:
            n_run += 1
            name = f"tiles/{tag}/{stage}"
            try:
                val, err = _run_tile_stage(spark, stage, mrows), None
            except Exception as exc:  # noqa: BLE001 — classified below
                val, err = None, str(exc)
            if err is not None:
                n_loud += 1
                if expect == "valid":
                    bad.append((name,
                                f"legal table refused: {err[:160]}"))
                elif needles and not any(n in err for n in needles):
                    bad.append((name, "anonymous tile error (no chunk "
                                f"context): {err[:200]}"))
                elif not quiet:
                    print(f"loud   {name}")
            else:
                if expect == "loud":
                    bad.append((name, "malformed tile table accepted "
                                "silently"))
                elif expect == "valid" and val != base.get(stage):
                    bad.append((name, "legal mutation produced "
                                "different output from the pristine "
                                "table"))
                elif not quiet:
                    print(f"ok     {name}")
    return bad, n_loud, n_run


# ---------------------------------------------------------------------------
# Ingestion-sources arm (round 15): dirty bytes through
# sources/formats.py.
#
# The table/media/tile arms all start from ALREADY-LOADED DataFrames;
# the readers themselves (csv/json parsing, PERMISSIVE corrupt-record
# handling, whole-file text/binary ingest, compaction rewrites) had
# never been fed dirty bytes under a gate — the classic silent-
# divergence surface: a reader that mis-parses quietly poisons every
# query downstream while both engines report success (r14 verdict,
# next-round item 2).  Three check families:
#
#   differential — the same well-formed-but-nasty csv/jsonl bytes read
#       by ``read_any`` AND DuckDB's read_csv/read_json with the same
#       explicit schema must parse to identical tables (driver
#       normalization via oracle_sweep).  The arm's first run found
#       ``read_any``'s CSV defaults were NOT the RFC-4180 quoting its
#       docstring claimed — Spark's default backslash escape reads the
#       RFC form ``"say ""hi"""`` as the literal ``"say ""hi"""`` —
#       fixed with escape='"' on both read_any and write_any.
#   accounting — a file with K malformed records among N must read as
#       exactly N rows with exactly K flagged in the corrupt-record
#       column (no silent drops, no silent coercion: a string where
#       the schema says DOUBLE is flagged, not nulled quietly), and
#       FAILFAST must raise.  Records only one engine can represent
#       stay OUT of the differential set and are pinned here instead
#       (duplicate JSON keys: Spark keeps the LAST value, DuckDB the
#       first — last-wins is the pinned Spark posture).
#   round-trip — write_any -> read_any preserves the row multiset per
#       format.  Pinned lossy mappings: csv reads '' back as NULL
#       (both engines agree on the bytes; the type system cannot);
#       embedded newlines need multiLine=true on re-read (NOT the
#       default: multiLine reads files whole and kills split
#       parallelism at scale).  compact_parquet / write_zordered
#       preserve the multiset and honor file counts.  Spark's text and
#       binaryFile sources emit NO row for a zero-length file — pinned
#       here so a Spark upgrade that changes it fails the panel;
#       per-file accounting at 100 TB must come from an upstream
#       manifest, not the listing.
# ---------------------------------------------------------------------------

SRC_SCHEMA = "id BIGINT, name STRING, val DOUBLE, ts TIMESTAMP"
_SRC_DUCK_COLS = ("{'id': 'BIGINT', 'name': 'VARCHAR', "
                  "'val': 'DOUBLE', 'ts': 'TIMESTAMP'}")
_SRC_NAMES = ["plain", "a,b", 'say "hi"', "line1\nline2", "naïve 中文",
              " lead", "trail ", "'quote", "tab\tsep", None,
              "ΣΟΦΟΣ İstanbul", "-", "x" * 300, 'all "quoted"']
_SRC_VALS = [1.5, -0.0, 0.0, 2e-3, -1e9, 123456.789, None, 4.0,
             0.1 + 0.2, -2.5]


def gen_source_values(rng: random.Random, n: int = 14) -> list:
    """Well-formed-but-nasty (id, name, val, ts) tuples: every value
    has ONE unambiguous parse under an explicit schema in both engines,
    so any cross-engine difference is a reader bug, not a convention
    gap."""
    out = []
    for i in range(n):
        ts = (None if rng.random() < 0.2 else
              f"2024-01-{rng.randint(1, 9):02d} "
              f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:"
              f"{rng.randint(0, 59):02d}")
        out.append((i + 1, rng.choice(_SRC_NAMES),
                    rng.choice(_SRC_VALS), ts))
    return out


def _src_write_csv(path: str, vals: list,
                   rng: random.Random = None) -> None:
    import csv as _csv
    # per-seed framing variation: LF vs CRLF line endings and an
    # optional UTF-8 BOM — the classic silent header-divergence
    # surface (a reader that keeps the BOM corrupts the first column
    # name).  Probed identical across engines under an explicit
    # schema; randomizing here keeps the class pinned per seed.
    term = "\n" if rng is None else rng.choice(["\n", "\r\n"])
    bom = "" if rng is None or rng.random() < 0.5 else "\ufeff"
    with open(path, "w", newline="", encoding="utf-8") as fh:
        fh.write(bom)
        w = _csv.writer(fh, lineterminator=term)   # RFC-4180 quoting
        w.writerow(["id", "name", "val", "ts"])
        for i, nm, v, ts in vals:
            w.writerow([i, "" if nm is None else nm,
                        "" if v is None else repr(v),
                        "" if ts is None else ts])


def _src_write_jsonl(path: str, vals: list, rng: random.Random) -> None:
    import json as _json
    with open(path, "w", encoding="utf-8") as fh:
        for i, nm, v, ts in vals:
            rec = {"id": i, "name": nm, "val": v, "ts": ts}
            if nm is None and rng.random() < 0.5:
                del rec["name"]     # missing field == explicit null
            fh.write(_json.dumps(rec, ensure_ascii=rng.random() < 0.5)
                     + "\n")


def run_source_fuzz(spark, rng: random.Random, quiet: bool = True):
    """Gate the ingestion surface; returns (bad, n_loud, n_run)."""
    import shutil
    import tempfile

    import duckdb

    d = tempfile.mkdtemp(prefix="srcfuzz_")
    con = duckdb.connect()
    try:
        return _source_fuzz_checks(spark, rng, quiet, d, con)
    finally:
        # a mid-run exception (e.g. a Spark read failure outside the
        # FAILFAST probes) must not leak the srcfuzz_* dir or the
        # duckdb connection on every gate/pytest run (round-15 ADVICE)
        con.close()
        shutil.rmtree(d, ignore_errors=True)


def _source_fuzz_checks(spark, rng: random.Random, quiet: bool, d, con):
    import oracle_sweep as OS
    from dask_relabeling_spark.sources.formats import (
        compact_parquet, read_any, read_binary_files, read_whole_text,
        write_any, write_zordered)

    bad, n_loud, n_run = [], 0, 0
    # empty-field-free value set for the csv differential: '' -> NULL
    # is pinned in the round-trip family below; here every field is
    # either absent or unambiguous
    vals = gen_source_values(rng)

    def check(name, ok, why=""):
        nonlocal n_run
        n_run += 1
        if not ok:
            bad.append((name, why))
        elif not quiet:
            print(f"ok     {name}")

    # -- differential: csv ------------------------------------------------
    csv_p = os.path.join(d, "diff.csv")
    _src_write_csv(csv_p, vals, rng)
    sdf = OS.normalize(read_any(
        spark, csv_p, "csv", schema=SRC_SCHEMA,
        multiLine="true").toPandas())
    odf = OS.normalize(con.execute(
        f"SELECT * FROM read_csv('{csv_p}', header=true, "
        f"columns={_SRC_DUCK_COLS})").df())
    check("sources/csv/differential", OS.values_match(sdf, odf),
          f"spark {len(sdf)} rows != duckdb {len(odf)} rows or values "
          "diverge on identical RFC-4180 bytes")

    # -- differential: jsonl ----------------------------------------------
    jl_p = os.path.join(d, "diff.jsonl")
    _src_write_jsonl(jl_p, vals, rng)
    sdf = OS.normalize(read_any(
        spark, jl_p, "json", schema=SRC_SCHEMA).toPandas())
    odf = OS.normalize(con.execute(
        f"SELECT * FROM read_json('{jl_p}', "
        f"format='newline_delimited', "
        f"columns={_SRC_DUCK_COLS})").df())
    check("sources/jsonl/differential", OS.values_match(sdf, odf),
          "engines parse identical well-formed JSONL differently")

    # -- accounting: csv ---------------------------------------------------
    bad_csv = os.path.join(d, "bad.csv")
    with open(bad_csv, "w", encoding="utf-8") as fh:
        fh.write("id,name,val,ts\n"
                 "1,ok,1.5,2024-01-01 00:00:00\n"
                 "2,toomany,2.5,2024-01-01 00:00:00,EXTRA\n"
                 "3,short\n"
                 "4,badnum,not-a-number,2024-01-01 00:00:00\n"
                 '5,"unclosed,5.5,2024-01-01 00:00:00\n'
                 "6,fine,6.5,2024-01-02 03:04:05\n")
    acc = read_any(spark, bad_csv, "csv",
                   schema=SRC_SCHEMA + ", _corrupt STRING",
                   columnNameOfCorruptRecord="_corrupt").collect()
    n_corrupt = sum(1 for r in acc if r._corrupt is not None)
    check("sources/csv/no-silent-drop", len(acc) == 6,
          f"{len(acc)} rows out of 6 physical records")
    check("sources/csv/corrupt-flagged", n_corrupt == 4,
          f"{n_corrupt} rows flagged corrupt, expected 4 "
          "(extra-col, short, bad-number, unclosed-quote)")
    try:
        read_any(spark, bad_csv, "csv", schema=SRC_SCHEMA,
                 mode="FAILFAST").collect()
        check("sources/csv/failfast", False,
              "FAILFAST accepted a malformed file silently")
    except Exception:  # noqa: BLE001 — loud is the required posture
        n_loud += 1
        check("sources/csv/failfast", True)

    # -- accounting: jsonl --------------------------------------------------
    bad_jl = os.path.join(d, "bad.jsonl")
    with open(bad_jl, "w", encoding="utf-8") as fh:
        fh.write('{"id": 1, "name": "ok", "val": 1.5}\n'
                 '{"id": 2, "val": 2.5}\n'                # missing: legal
                 '{"id": 3, "name": "mixed", "val": "1.5"}\n'  # type err
                 'not json at all\n'
                 '{"id": 5, "name": "trunc\n'             # truncated
                 '{"id": 6, "name": "a", "name": "b", "val": 6.0}\n')
    acc = read_any(spark, bad_jl, "json",
                   schema=SRC_SCHEMA + ", _corrupt STRING",
                   columnNameOfCorruptRecord="_corrupt").collect()
    n_corrupt = sum(1 for r in acc if r._corrupt is not None)
    check("sources/jsonl/no-silent-drop", len(acc) == 6,
          f"{len(acc)} rows out of 6 physical lines")
    check("sources/jsonl/corrupt-flagged", n_corrupt == 3,
          f"{n_corrupt} rows flagged corrupt, expected 3 "
          "(string-in-double, not-json, truncated)")
    dup = [r for r in acc if r.id == 6]
    check("sources/jsonl/dup-key-last-wins",
          len(dup) == 1 and dup[0].name == "b",
          "duplicate-key posture drifted from pinned last-wins")
    try:
        read_any(spark, bad_jl, "json", schema=SRC_SCHEMA,
                 mode="FAILFAST").collect()
        check("sources/jsonl/failfast", False,
              "FAILFAST accepted malformed JSONL silently")
    except Exception:  # noqa: BLE001
        n_loud += 1
        check("sources/jsonl/failfast", True)

    # -- round-trips ---------------------------------------------------------
    def key(rows):
        return sorted(((r.id, r.name,
                        None if r.val is None else repr(r.val), r.ts)
                       for r in rows), key=repr)

    import datetime
    rt_rows = [(i, nm, v,
                None if ts is None else
                datetime.datetime.fromisoformat(ts))
               for i, nm, v, ts in vals] + [(99, "", 9.0, None)]
    src = spark.createDataFrame(rt_rows, SRC_SCHEMA)
    want = key(src.collect())
    # csv's pinned lossy mapping: '' comes back as NULL
    want_csv = sorted(((i, (None if nm == "" else nm), v, ts)
                       for i, nm, v, ts in want), key=repr)
    for fmt in ("parquet", "orc", "json", "csv"):
        p = os.path.join(d, f"rt_{fmt}")
        write_any(src, p, fmt=fmt)
        opts = {"multiLine": "true"} if fmt == "csv" else {}
        back = read_any(spark, p, fmt, schema=SRC_SCHEMA, **opts)
        got = key(back.collect())
        check(f"sources/roundtrip/{fmt}",
              got == (want_csv if fmt == "csv" else want),
              "row multiset changed across write_any -> read_any")

    # -- compaction / zorder ---------------------------------------------
    pq = os.path.join(d, "frag")
    src.repartition(5).write.parquet(pq)
    for tag, sort_by in (("coalesce", None), ("sorted", "id")):
        out = os.path.join(d, f"compact_{tag}")
        nf = compact_parquet(spark, pq, out, 2, sort_by=sort_by)
        got = key(spark.read.parquet(out).collect())
        check(f"sources/compact/{tag}",
              nf == 2 and got == want,
              f"{nf} files (want 2) or row multiset changed")
    zp = os.path.join(d, "zord")
    write_zordered(src, zp, "id", n_files=2)
    check("sources/zorder/multiset",
          key(spark.read.parquet(zp).collect()) == want,
          "row multiset changed across write_zordered")

    # -- whole-text / binary ingest ----------------------------------------
    td = os.path.join(d, "texts")
    os.makedirs(td)
    texts = {"a.txt": "doc one\nline two\n", "b.txt": "",
             "c.txt": "naïve 中文"}
    for fn, content in texts.items():
        with open(os.path.join(td, fn), "w", encoding="utf-8") as fh:
            fh.write(content)
    wt = read_whole_text(spark, td).collect()
    check("sources/wholetext/nonempty-files",
          sorted(r.value for r in wt)
          == sorted(v for v in texts.values() if v),
          "whole-file rows diverge from file contents (pinned: a "
          "zero-length file yields NO row)")
    lm = read_whole_text(spark, td, line_mode=True).collect()
    check("sources/wholetext/line-mode",
          sorted(r.value for r in lm)
          == sorted(ln for v in texts.values() for ln in v.splitlines()),
          "line rows diverge from file lines")
    blob = rng.randbytes(256)
    bd = os.path.join(d, "blobs")
    os.makedirs(bd)
    open(os.path.join(bd, "x.bin"), "wb").write(blob)
    open(os.path.join(bd, "y.bin"), "wb").write(b"")
    open(os.path.join(bd, "big.bin"), "wb").write(rng.randbytes(1024))
    open(os.path.join(bd, "skip.dat"), "wb").write(b"zz")
    bf = read_binary_files(spark, bd, glob="*.bin").collect()
    got_bf = sorted((os.path.basename(r.path), len(bytes(r.content)))
                    for r in bf)
    check("sources/binary/listing",
          got_bf == [("big.bin", 1024), ("x.bin", 256)],
          f"binaryFile listing {got_bf} != glob-filtered non-empty "
          "files (pinned: zero-length files yield NO row)")
    xrow = [r for r in bf if r.path.endswith("x.bin")]
    check("sources/binary/bytes-exact",
          len(xrow) == 1 and bytes(xrow[0].content) == blob,
          "blob content changed through binaryFile ingest")
    capped = read_binary_files(spark, bd, glob="*.bin",
                               max_bytes=512).collect()
    check("sources/binary/max-bytes",
          sorted(os.path.basename(r.path) for r in capped)
          == ["x.bin"],
          "max_bytes guard failed to exclude the oversized blob")

    return bad, n_loud, n_run


def main() -> int:
    args = [a for a in sys.argv[1:]
            if a not in ("--media", "--tiles", "--sources")]
    media = "--media" in sys.argv[1:]
    tiles = "--tiles" in sys.argv[1:]
    sources = "--sources" in sys.argv[1:]
    seeds = [int(s) for s in args] or [101]
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    any_bad = False
    for seed in seeds:
        if sources:
            bad, n_loud, n_run = run_source_fuzz(
                spark, random.Random(seed))
            print(f"sources seed {seed}: {len(bad)} divergences, "
                  f"{n_loud} loud / {n_run} run")
        elif tiles:
            bad, n_loud, n_run = run_tile_fuzz(
                spark, random.Random(seed))
            print(f"tiles seed {seed}: {len(bad)} divergences, "
                  f"{n_loud} loud / {n_run} run")
        elif media:
            bad, n_loud, n_run = run_media_fuzz(
                spark, random.Random(seed))
            print(f"media seed {seed}: {len(bad)} divergences, "
                  f"{n_loud} loud / {n_run} run")
        else:
            NPS._PROFILES["fuzz"] = gen_profile(random.Random(seed))
            bad, loud, n_run = NPS.run_profile(spark, "fuzz", quiet=True)
            print(f"seed {seed}: {len(bad)} divergences, {len(loud)} "
                  f"loud / {n_run} run")
            for name, se, oe in loud:
                print(f"  LOUD    {name}: spark: {str(se)[:80]} | "
                      f"oracle: {str(oe)[:80]}")
        for name, why in bad:
            any_bad = True
            print(f"  DIVERGE {name}: {why}")
    return 1 if any_bad else 0


if __name__ == "__main__":
    sys.exit(main())
