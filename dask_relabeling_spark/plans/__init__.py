"""Query registry: importing this package registers every named query.

``REGISTRY`` maps query name -> (builder(spark, sf_dir) -> DataFrame,
oracle SQL string or None for non-SQL-expressible operators).

The registry is explicitly ORDERED: the driver's correctness gate walks
entries front-to-back with a bounded budget (each round stops after 50),
so ordering IS the evidence-refresh policy:

1. entries whose implementation changed this round (fresh evidence
   required) first,
2. then any name with no green driver row ever — i.e. queries added
   this round land at the front automatically,
3. then the flagship hash row (per-round evidence for the core),
4. then everything else ordered by evidence staleness: the round of
   each entry's LATEST green driver row, ascending, so the stalest
   evidence is refreshed first.

The green sets are NOT hand-maintained: they are folded at import time
from the committed ``CORRECTNESS_r0*.json`` driver artifacts at the
repo root, so every driver round automatically advances the rotation.
"""
import glob
import json
import os
import re

from .relational import REGISTRY  # noqa: F401  (base registry)
from . import llm  # noqa: F401  (registers dedup/similarity/text/events)
from . import tile_query  # noqa: F401  (registers the tile pipeline)
from . import curation  # noqa: F401  (round-3 pipeline extensions)

# Entries whose implementation or plan changed — fresh evidence
# required, keep at the very front.  Hand-flagged as (name,
# changed_in_round) when an operator is touched; an entry EXPIRES
# AUTOMATICALLY once a committed driver artifact from that round or
# later shows it green, so the list never needs hand-cleaning (the
# round-5/6 failure mode: a stale hand list replayed fresh evidence
# while genuinely stale entries starved).
_CHANGED = [
    # (round-17 prune, standing discipline: all 47 round-16 flags'
    # post-change greens landed in the committed CORRECTNESS_r16.json
    # artifact, so the expired tuples are removed — expired flags are
    # inert but bury live signal.)
    # round 17 (optimization): q1/brand-revenue DECIMAL casts
    # pre-projected out of the aggregate functions (one cast per
    # column per row instead of per aggregate; min/max ride the double
    # and cast once per group) — values provably identical, plans
    # changed (plans/relational.py)
    ("q1_pricing_summary", 17),
    ("broadcast_join_brand_revenue", 17),
    # round 17 (optimization): tile grids of <= 8 tiles fall back to
    # the plain groupBy exchange (operators/halo.apply_by_tile_key) —
    # the salted placement measured 2x slower on the 4-tile 3D grid;
    # plans changed on every 3D relabel query, results byte-identical
    ("relabel_components_3d", 17),
    ("relabel_annotations_3d", 17),
    ("relabel_components_3d_interior", 17),
    ("relabel_annotations_3d_summary", 17),
    ("relabel_annotations_3d_tile_counts", 17),
    # round 17 (scale guard): _probe_and_adc collects at most
    # n_probe + n_codes rows for large quantizers (engine-side
    # top-n_probe above a size bound; operators/similarity.py) — the
    # registered 8-centroid arms keep the full-collect path and
    # identical plans/results, implementation changed
    ("ann_ivfpq_indexed", 17),
    ("ann_ivfpq_query", 17),
    ("ann_ivfpq_topk", 17),
    ("ann_recall_panel", 17),
    # round 18 (simplicity): tile operators collapsed onto one per-tile
    # pass and one grouped exchange pass (operators/halo.py) —
    # implementation changed, plans identical (plans/r18 dumps)
    ("relabel_components_summary", 18),
    ("relabel_components", 18),
    ("relabel_annotations", 18),
    ("relabel_annotations_summary", 18),
    ("relabel_annotations_tile_interior_counts", 18),
    ("relabel_sorted_label_stats", 18),
    ("relabel_components_3d", 18),
    ("relabel_annotations_3d", 18),
    ("relabel_components_3d_interior", 18),
    ("relabel_annotations_3d_summary", 18),
    ("relabel_annotations_3d_tile_counts", 18),
]

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _is_green(row: dict) -> bool:
    """A driver row counts as green evidence if it hash-matched the
    oracle, OR — for entries without an ``oracle_sql`` (the driver's
    weaker rows-only check, ``hash_match`` null) — if it errored on
    neither side, the row counts matched, AND the schema did not
    diverge.  Without the rows-only arm, any future oracle-less entry
    would read as never-checked and pin itself to the front of the
    50-row budget forever, starving the rotation (round-7 ADVICE); the
    schema guard keeps a rows-match-but-schema-drifted row from
    counting as green (round-8 ADVICE)."""
    if row.get("hash_match") is True:
        return True
    return (row.get("hash_match") is None
            and row.get("rows_match") is True
            and row.get("schema_match") is not False
            and row.get("err") is None)


def _latest_green() -> dict:
    """name -> latest round number with a green driver row.

    Folded from the committed CORRECTNESS_r0*.json artifacts; files are
    walked in round order so the latest green round wins.
    """
    latest = {}
    pattern = os.path.join(_REPO_ROOT, "CORRECTNESS_r*.json")
    for path in sorted(glob.glob(pattern)):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if isinstance(row, dict) and _is_green(row):
                latest[name] = max(rnd, latest.get(name, 0))
    return latest


def _front(latest: dict) -> list:
    """Names needing fresh evidence, in priority order: changed entries
    whose latest green row predates the change, then never-checked
    entries, then the flagship."""
    front = [n for n, changed_round in _CHANGED
             if n in REGISTRY and latest.get(n, -1) < changed_round]
    # Anything with no green evidence at all is new this round -> front.
    front += [n for n in REGISTRY if n not in front and n not in latest]
    # Flagship hash row next: keep per-round evidence for the core.
    front += [n for n in ["relabel_components_summary"] if n not in front]
    return front


def _reorder() -> None:
    latest = _latest_green()
    front = _front(latest)
    # Stalest evidence first (ascending latest-green round); registry
    # insertion order breaks ties deterministically.
    order = list(REGISTRY)
    rest = [n for n in order if n not in front]
    rest.sort(key=lambda n: (latest.get(n, 0), order.index(n)))
    front += rest
    assert len(front) == len(REGISTRY), "reorder dropped/duplicated entries"
    snapshot = {name: REGISTRY[name] for name in front}
    REGISTRY.clear()
    REGISTRY.update(snapshot)


_reorder()

__all__ = ["REGISTRY"]
