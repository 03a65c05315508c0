"""Ingest-time polygon-layer statistics for the spatial planner (r7,
VERDICT r06 #5).

pip_join's planning decisions (cover level set, broadcast-vs-partitioned
join, exact-vs-bbox refine) all read planner.layer_stats' per-fit-level
table. Without stats that table costs one aggregate over the polygon
rows per plan build. These helpers compute it ONCE at ingest, store it
in the SnapshotTable commit summary, and read it back as a driver-side
metadata lookup (zero Spark jobs); pip_join consumes it via
`poly_stats=`. The table does not depend on `res`, so one copy serves a
join at any resolution.

Staleness across commits is handled CONSERVATIVELY: the reader combines
every commit since the last full rewrite — per-level polygon and cover
counts add, rectangle-ness ANDs. Deletes only remove polygons, so the
combined counts stay upper bounds and the plan stays correct.

Reference analog: none (the reference delegates planning to
GeoServer/PostGIS); Spark-first surface per SURVEY §4.2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

POLY_STATS_KEY = "poly_stats"


def ingest_with_stats(table, df: DataFrame, mode: str = "append") -> int:
    """Write the polygon layer `df` into `table` with its planner stats
    (planner.layer_stats: 'by_level', 'rows', 'all_rect') attached to the
    commit summary. mode: 'append' or 'overwrite'."""
    from . import planner

    extra = {POLY_STATS_KEY: planner.layer_stats(df)}
    if mode == "append":
        return table.append(df, summary_extra=extra)
    if mode != "overwrite":
        raise ValueError(f"unknown mode {mode!r}")
    v = table.overwrite(df)
    # overwrite() has no summary hook; stamp the stats into the freshly
    # written manifest the same way a commit would have
    snap = table.snapshot(v)
    snap["summary"] = {**snap.get("summary", {}), **extra}
    import json

    from .. import fs as xfs

    xfs.replace_text(table.fs, table._snapshot_path(v), json.dumps(snap))
    return v


def stored_poly_stats(table) -> dict | None:
    """Combined polygon-side stats for the CURRENT table state: per-level
    counts add across appends, rectangle-ness ANDs. None when a commit
    since the last full rewrite has no stats or only the older single-res
    format (pip_join then runs its one planner aggregate)."""
    merged = None
    for snap in _commits_since_rewrite(table):
        st = snap.get("summary", {}).get(POLY_STATS_KEY)
        if st is None:
            if snap["operation"] in ("append", "merge", "overwrite",
                                     "rollback"):
                return None  # stat-less batch / rewound history
            continue
        if "by_level" not in st:
            return None
        if merged is None:
            merged = dict(st)
        else:
            merged["by_level"] = [[x + y for x, y in zip(old, new)]
                                  for old, new in zip(merged["by_level"], st["by_level"])]
            merged["rows"] += st["rows"]
            merged["all_rect"] = merged["all_rect"] and st["all_rect"]
    return merged


def _commits_since_rewrite(table):
    """Snapshots from the most recent OVERWRITE (the only op that
    replaces the data outright) up to the current version, oldest
    first. Deletes / compact / apply_deletes only reduce or repack rows,
    so earlier appends' stats stay valid UPPER bounds across them; a
    rollback makes linear version history misleading, so the walk
    surfaces it and the reader bails to the aggregate."""
    cur = table.current_version()
    chain = []
    v = cur
    while v >= 1:
        snap = table.snapshot(v)
        chain.append(snap)
        if snap["operation"] in ("overwrite", "rollback"):
            break
        v -= 1
    return list(reversed(chain))
