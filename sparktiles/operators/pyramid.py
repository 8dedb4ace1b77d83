"""Tile-pyramid operators: enumeration, tile assignment, impute.

Reference counterparts:
- pyramid enumeration (T1)  -> bin/generate-tiles:94-98 + utils.py:103-113
- impute (T3)               -> mbtile_tools.py:106-196 (children math
                               at 179-190; dup threshold 20 / 50 for
                               z>12 at mbtile_tools.py:36-38)
- MID_ZOOM driver loop (T4) -> bin/generate-tiles:100-117
- tile_multiplier (T5)      -> bin/tile_multiplier:24-54

Scale design notes (100 TB / 1000 executors):
- Point->tile assignment is MAP-SIDE column math (no join): a feature
  row knows its tile(s) from its mercator coords; the only shuffle is
  the per-tile groupBy that builds the MVT — keyed by (z,x,y), which
  quadkey-partitions evenly except hot cells (salting handled by AQE
  skew split since the aggregation is applyInPandas over a shuffle).
- The buffer ring duplicates a feature into at most 4 tiles (corner
  case) via a static array + explode — constant fan-out, no UDF.
- Empty tiles are never enumerated above MID_ZOOM: impute walks the
  pyramid top-down and only *generates* children of non-dup parents,
  exactly the reference's dominant z12-14 optimization.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparktiles.functions.tilemath import (
    HALF_WORLD,
    WORLD_MERC_WIDTH,
    lonlat_to_tile_exprs,
)

EMPTY_TILE_DUP_THRESHOLD = 20       # mbtile_tools.py:36-38
EMPTY_TILE_DUP_THRESHOLD_HIGH = 50  # for z > 12


def tile_pyramid(
    spark: SparkSession,
    minzoom: int,
    maxzoom: int,
    bounds_lonlat: tuple[float, float, float, float] | None = None,
) -> DataFrame:
    """All (z, x, y) for z in [minzoom, maxzoom], optionally restricted
    to a lon/lat bbox (reference utils.py:103-113 clamped tile ranges).
    Pure generator: sequence + explode, no driver-side loops."""
    zs = spark.range(minzoom, maxzoom + 1).select(F.col("id").cast("int").alias("z"))
    n = F.pow(F.lit(2.0), F.col("z").cast("double"))
    if bounds_lonlat is None:
        x0, y0 = F.lit(0).cast("long"), F.lit(0).cast("long")
        x1 = (n - 1).cast("long")
        y1 = (n - 1).cast("long")
    else:
        lon0, lat0, lon1, lat1 = bounds_lonlat
        x0, y1 = lonlat_to_tile_exprs(F.lit(lon0), F.lit(lat0), F.col("z"))
        x1, y0 = lonlat_to_tile_exprs(F.lit(lon1), F.lit(lat1), F.col("z"))
    strips = zs.select(
        "z", F.explode(F.sequence(x0, x1)).alias("x"),
        y0.alias("y0"), y1.alias("y1"))
    # spread the x-strips before the y-explode: without this every
    # zoom's ENTIRE universe streams out of the single task holding its
    # z-row (one thread emitting 268M rows at z14); the strip shuffle
    # is tiny (sum 2^z rows) and the y-explode then runs on every core
    return (
        strips.repartition(F.col("z"), F.col("x"))
        .select("z", "x", F.explode(F.sequence("y0", "y1")).alias("y"))
    )


def assign_point_tiles(
    features: DataFrame,
    zoom,
    buffer_px: float = 0.0,
    x_col: str = "px",
    y_col: str = "py",
) -> DataFrame:
    """Map each point feature to its containing tile at `zoom`, plus
    neighbor tiles whose buffered envelope contains it (the set-oriented
    re-formulation of the reference's per-tile `geometry && bbox` GiST
    scan, sqltomvt.py:197-198 / SURVEY.md J1).

    A feature within buffer_px/256 of a tile edge also belongs to the
    adjacent tile(s) — up to 4 tiles at a corner. Emits columns z, x
    (tile), y (tile) while preserving feature columns; the mercator
    coords stay available as px/py.
    """
    z = F.lit(zoom) if not isinstance(zoom, F.Column) else zoom
    n = F.pow(F.lit(2.0), z.cast("double"))
    fx = (F.col(x_col) + F.lit(HALF_WORLD)) / F.lit(WORLD_MERC_WIDTH) * n
    fy = (F.lit(HALF_WORLD) - F.col(y_col)) / F.lit(WORLD_MERC_WIDTH) * n
    bf = F.lit(float(buffer_px) / 256.0)
    top = (n - 1).cast("long")

    df = features.withColumn("_fx", fx).withColumn("_fy", fy)
    tx = F.floor("_fx").cast("long")
    ty = F.floor("_fy").cast("long")
    # candidate offsets: own tile always; +-1 when within buffer of edge
    west = (F.col("_fx") - tx < bf) & (tx > 0)
    east = (tx + 1 - F.col("_fx") < bf) & (tx < top)
    north = (F.col("_fy") - ty < bf) & (ty > 0)
    south = (ty + 1 - F.col("_fy") < bf) & (ty < top)

    def cand(cond, dx, dy):
        s = F.struct((tx + dx).alias("cx"), (ty + dy).alias("cy"))
        return F.when(cond, s) if cond is not None else s

    cands = F.array_compact(
        F.array(
            cand(None, 0, 0),
            cand(west, -1, 0),
            cand(east, 1, 0),
            cand(north, 0, -1),
            cand(south, 0, 1),
            cand(west & north, -1, -1),
            cand(east & north, 1, -1),
            cand(west & south, -1, 1),
            cand(east & south, 1, 1),
        )
    )
    out = (
        df.withColumn("_c", F.explode(cands))
        .withColumn("z", z.cast("int"))
        .withColumn("x", F.col("_c.cx"))
        .withColumn("y", F.col("_c.cy"))
        .drop("_fx", "_fy", "_c")
    )
    return out


def assign_point_tiles_multi(
    features: DataFrame, minzoom: int, maxzoom: int, buffer_px: float = 0.0,
    x_col: str = "px", y_col: str = "py",
) -> DataFrame:
    """All zooms in one plan: explode z in [minzoom, maxzoom] then
    assign. One wide map stage; the whole pyramid becomes a single
    shuffle keyed (z,x,y)."""
    zdf = features.withColumn(
        "zz", F.explode(F.sequence(F.lit(minzoom), F.lit(maxzoom)))
    )
    return assign_point_tiles(zdf, F.col("zz"), buffer_px, x_col, y_col).drop("zz")


def assign_bbox_tiles(
    df: DataFrame, zoom, xmin="xmin", ymin="ymin", xmax="xmax", ymax="ymax",
    buffer_px: float = 0.0,
) -> DataFrame:
    """Explode a mercator-bbox row (e.g. polygon envelope) to all tiles
    whose buffered envelope it overlaps at `zoom` (candidate generation
    for the polygon path of J1/J2). Fan-out bounded by geometry size;
    the exact clip happens later in the MVT kernel. The tile buffer
    follows the reference formula world*buffer/256/2^z
    (sqltomvt.py:226-242)."""
    z = F.lit(zoom) if not isinstance(zoom, F.Column) else zoom
    n = F.pow(F.lit(2.0), z.cast("double"))
    margin = F.lit(WORLD_MERC_WIDTH * float(buffer_px) / 256.0) / n
    top = (n - 1).cast("long")

    def tx_of(c, sign):
        v = (F.col(c) if isinstance(c, str) else c) + sign * margin
        t = F.floor((v + F.lit(HALF_WORLD)) / F.lit(WORLD_MERC_WIDTH) * n).cast("long")
        return F.greatest(F.lit(0).cast("long"), F.least(t, top))

    def ty_of(c, sign):
        v = (F.col(c) if isinstance(c, str) else c) + sign * margin
        t = F.floor((F.lit(HALF_WORLD) - v) / F.lit(WORLD_MERC_WIDTH) * n).cast("long")
        return F.greatest(F.lit(0).cast("long"), F.least(t, top))

    x0, x1 = tx_of(xmin, -1), tx_of(xmax, 1)
    y0, y1 = ty_of(ymax, 1), ty_of(ymin, -1)  # y inverts
    return (
        df.withColumn("z", z.cast("int"))
        .withColumn("x", F.explode(F.sequence(x0, x1)))
        .withColumn("y", F.explode(F.sequence(y0, y1)))
    )


def assign_bbox_tiles_multi(
    df: DataFrame, minzoom: int, maxzoom: int, buffer_px: float = 0.0, **kw
) -> DataFrame:
    """assign_bbox_tiles across a zoom range in one plan (polygon/line
    analog of assign_point_tiles_multi)."""
    zdf = df.withColumn("zz", F.explode(F.sequence(F.lit(minzoom), F.lit(maxzoom))))
    return assign_bbox_tiles(zdf, F.col("zz"), buffer_px=buffer_px, **kw).drop("zz")


def assign_supercover_tiles_multi(
    df: DataFrame, minzoom: int, maxzoom: int, buffer_px: float = 0.0,
    geom_col: str = "geom",
) -> DataFrame:
    """Supercover tile assignment for WKB features across a zoom range —
    the O(path-length) replacement for `assign_bbox_tiles_multi`'s
    O(bbox-area) explode (the reference's per-tile `geometry &&
    ST_Expand(envelope, buffer)` GiST predicate, sqltomvt.py:197-242,
    re-formulated set-oriented).

    One mapInPandas stage: each Arrow batch decodes its WKB ONCE
    (`vecmvt.decode_wkb_batch`), then per zoom rasterizes segments to
    the tile cells they actually pass through (+ buffer margin;
    polygons keep interior cells via per-column fill) and fans out as
    numpy index views over the batch — no per-candidate WKB decode, no
    doomed-row explosion. Candidates are a strict superset of the
    exact-clip survivor set (property-tested) and typically within ~2x
    of it, vs the measured 23x of the bbox explode on line layers
    (docs/SCALE.md "KNOWN NEXT", round 3).

    Output: input columns + z int, x long, y long — drop-in for
    assign_bbox_tiles_multi. Rows with NULL/unsupported geometry emit
    nothing (their clip would drop them anyway).
    """
    import pandas as pd

    from sparktiles.functions.tilecover import cover_cells_zoom
    from sparktiles.functions.vecmvt import decode_wkb_batch

    bf = float(buffer_px) / 256.0
    in_cols = [f.name for f in df.schema]
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema]
        + ["z int", "x long", "y long"]
    )

    def run(batches):
        import numpy as np  # noqa: F811 (worker-side)

        for pdf in batches:
            if not len(pdf):
                continue
            pt, ln, pg = decode_wkb_batch(pdf[geom_col].to_numpy())
            rows_all, z_all, x_all, y_all = [], [], [], []
            for z in range(minzoom, maxzoom + 1):
                r, cx, cy = cover_cells_zoom(pt, ln, pg, z, bf)
                if len(r):
                    rows_all.append(r)
                    z_all.append(np.full(len(r), z, dtype=np.int32))
                    x_all.append(cx)
                    y_all.append(cy)
            if not rows_all:
                continue
            idx = np.concatenate(rows_all)
            out = {c: pdf[c].to_numpy()[idx] for c in in_cols}
            out["z"] = np.concatenate(z_all)
            out["x"] = np.concatenate(x_all)
            out["y"] = np.concatenate(y_all)
            yield pd.DataFrame(out)

    return df.mapInPandas(run, out_schema)


def with_tile_rank(assigned: DataFrame, order_by, rank_col: str = "rank") -> DataFrame:
    """Per-tile importance rank starting at 1 (W2 — the mountain_peak
    layer's `rank` field, tests/testlayers/mountain_peak/
    mountain_peak.yaml:24): rank within (z,x,y) by the given ordering."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("z", "x", "y").orderBy(*order_by)
    return assigned.withColumn(rank_col, F.rank().over(w))


# ----------------------------------------------------------------- impute

def dup_threshold(parent_zoom: int) -> int:
    """Reference dup threshold for a parent zoom (mbtile_tools.py:36-38)."""
    return EMPTY_TILE_DUP_THRESHOLD_HIGH if parent_zoom > 12 else EMPTY_TILE_DUP_THRESHOLD


def dup_tile_ids(tile_map: DataFrame, zoom: int | None = None) -> DataFrame:
    """Duplicate-tile finder (A6, reference mbtile_tools.py:49-103):
    tile_ids appearing >= threshold times — 'empty-ish' content
    (oceans, deserts). Threshold 20, or 50 above z12."""
    th = dup_threshold(zoom or 0)
    df = tile_map
    if zoom is not None:
        df = df.where(F.col("zoom_level") == zoom)
    return (
        df.groupBy("tile_id").count().where(F.col("count") >= F.lit(th)).select("tile_id")
    )


def impute_children(parents: DataFrame, dup_keys: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Reference impute (T3, mbtile_tools.py:106-196): for each parent
    tile at z-1, emit its 4 children at z. Children of parents whose
    tile_id is in dup_keys inherit the tile_id as-is (imputed rows for
    tile_map); the rest become the to-generate list for zoom z.

    parents: zoom_level, tile_column, tile_row, tile_id.
    Returns (imputed_map_rows, generate_list) — generate_list columns
    (z, x, y).
    """
    kids = parents.join(F.broadcast(dup_keys.withColumn("_dup", F.lit(True))),
                        "tile_id", "left")
    children = kids.select(
        (F.col("zoom_level") + 1).alias("zoom_level"),
        F.explode(
            F.array(
                F.struct((F.col("tile_column") * 2).alias("cx"), (F.col("tile_row") * 2).alias("cy")),
                F.struct((F.col("tile_column") * 2 + 1).alias("cx"), (F.col("tile_row") * 2).alias("cy")),
                F.struct((F.col("tile_column") * 2).alias("cx"), (F.col("tile_row") * 2 + 1).alias("cy")),
                F.struct((F.col("tile_column") * 2 + 1).alias("cx"), (F.col("tile_row") * 2 + 1).alias("cy")),
            )
        ).alias("c"),
        "tile_id",
        "_dup",
    ).select(
        "zoom_level",
        F.col("c.cx").alias("tile_column"),
        F.col("c.cy").alias("tile_row"),
        "tile_id",
        "_dup",
    )
    imputed = children.where(F.col("_dup")).drop("_dup")
    generate = children.where(F.col("_dup").isNull()).select(
        F.col("zoom_level").cast("int").alias("z"),
        F.col("tile_column").alias("x"),
        F.col("tile_row").alias("y"),
    )
    return imputed, generate


def tile_range(z: int, bounds_lonlat=None) -> tuple[int, int, int, int]:
    """(x0, x1, y0, y1) of zoom z's universe: the driver-side twin of
    `tile_pyramid`'s ranges (clamped floor of `lonlat_to_tile_exprs`,
    asinh spelled log(t + sqrt(t*t + 1)) as Spark evaluates it)."""
    n = 2 ** z
    if bounds_lonlat is None:
        return 0, n - 1, 0, n - 1

    def tile(lon, lat):
        t = math.tan(math.radians(lat))
        fy = (1.0 - math.log(t + math.sqrt(t * t + 1.0)) / math.pi) / 2.0 * n
        fx = (lon + 180.0) / 360.0 * n
        return (max(0, min(int(math.floor(fx)), n - 1)),
                max(0, min(int(math.floor(fy)), n - 1)))

    lon0, lat0, lon1, lat1 = bounds_lonlat
    x0, y1 = tile(lon0, lat0)
    x1, y0 = tile(lon1, lat1)
    return x0, x1, y0, y1


def map_row_count(minzoom: int, pyramid_top: int, maxzoom: int,
                  bounds_lonlat=None) -> int:
    """Row count of a build's tile map, known from the config alone:
    every universe tile for z <= pyramid_top, then x4 per walk zoom
    (each parent row has exactly four child rows). With bounds_lonlat,
    tiles outside the box that phase 1 encoded at z <= pyramid_top come
    on top of this (and their children)."""
    def size(z):
        x0, x1, y0, y1 = tile_range(z, bounds_lonlat)
        return max(x1 - x0 + 1, 0) * max(y1 - y0 + 1, 0)

    low = sum(size(z) for z in range(minzoom, pyramid_top + 1))
    return low + size(pyramid_top) * sum(4 ** k for k in range(1, maxzoom - pyramid_top + 1))


def impute_children_local(parent_zoom: int, px, py, pid):
    """numpy twin of `dup_tile_ids` + `impute_children` for one walk
    step: parents (px, py, pid) at parent_zoom, pid non-negative
    integer id codes (equal codes == equal tile_ids). Returns the
    children (cx, cy, cid, generate): four rows per parent; cid is the
    parent's code, `generate` is True for children of non-dup parents
    (their real code comes from the index, or the empty id)."""
    generate = np.repeat(np.bincount(pid)[pid] < dup_threshold(parent_zoom), 4)
    cx = np.repeat(px, 4) * 2 + np.tile(np.array([0, 1, 0, 1], dtype=np.int64), len(px))
    cy = np.repeat(py, 4) * 2 + np.tile(np.array([0, 0, 1, 1], dtype=np.int64), len(py))
    return cx, cy, np.repeat(pid, 4), generate


def _lookup(index_keys_sorted, index_ids_sorted, keys, missing: int):
    """Id code of each key in a sorted index, or `missing`."""
    if not len(index_keys_sorted):
        return np.full(len(keys), missing, dtype=index_ids_sorted.dtype)
    pos = np.minimum(np.searchsorted(index_keys_sorted, keys), len(index_keys_sorted) - 1)
    return np.where(index_keys_sorted[pos] == keys, index_ids_sorted[pos], missing)


def local_tile_map(iz, ix, iy, iid, minzoom: int, pyramid_top: int,
                   maxzoom: int, empty_id: int, bounds_lonlat=None):
    """The whole tile map of a build in one vectorized pass over the
    blob-free tile index (iz, ix, iy, iid: every non-empty tile phase 1
    encoded, iid integer id codes; empty_id the empty tile's code).
    Same rows as the per-zoom Spark walk (bin/generate-tiles:88-117,
    mbtile_tools.py:106-196):

    - z in [minzoom, pyramid_top]: every index tile plus every universe
      tile (`tile_range`) without one, the latter with empty_id;
    - z in (pyramid_top, maxzoom]: four children per parent row;
      children of dup parents (`dup_threshold`) inherit the parent's
      code, the others take the index's code or empty_id.

    Returns (z, x, y, id) arrays in zoom order.

    Memory bound: O(R + I) for R map rows and I index rows. The output
    holds 21 bytes a row (z int8, x/y int64, id int32); with one
    zoom's temporaries the numpy peak measured ~100 bytes per row on
    a dense index (I = R = 1.4M, z0-z10: 142 MB). The whole driver
    pass of `TileBuild._finish_local` (index and output Arrow tables,
    ~56 bytes a row each, included) added 234 MB of RSS there:
    ~0.45 GB at the 2M-row gate. Without bounds_lonlat I <= R. The
    caller gates R (`plans.pipeline.LOCAL_PHASE2_ROWS`), so the bound
    holds at any data size: bigger maps take the Spark walk."""
    iz = np.asarray(iz)
    order = np.argsort(iz, kind="stable")
    iz, ix, iy, iid = iz[order], np.asarray(ix)[order], np.asarray(iy)[order], np.asarray(iid)[order]
    bounds = np.searchsorted(iz, np.arange(minzoom, maxzoom + 2))

    def index_at(z):
        a, b = bounds[z - minzoom], bounds[z - minzoom + 1]
        keys = (ix[a:b] << z) | iy[a:b]
        s = np.argsort(keys)
        return keys[s], iid[a:b][s], ix[a:b][s], iy[a:b][s]

    out = []
    for z in range(minzoom, pyramid_top + 1):
        keys, ids, kx, ky = index_at(z)
        x0, x1, y0, y1 = tile_range(z, bounds_lonlat)
        ux = np.repeat(np.arange(x0, x1 + 1, dtype=np.int64), max(y1 - y0 + 1, 0))
        uy = np.tile(np.arange(y0, y1 + 1, dtype=np.int64), max(x1 - x0 + 1, 0))
        hole = ~np.isin((ux << z) | uy, keys, assume_unique=True)
        x = np.concatenate([kx, ux[hole]])
        y = np.concatenate([ky, uy[hole]])
        i = np.concatenate([ids, np.full(int(hole.sum()), empty_id, dtype=iid.dtype)])
        out.append((z, x, y, i))
    for z in range(pyramid_top + 1, maxzoom + 1):
        _, px, py, pid = out[-1]
        cx, cy, cid, gen = impute_children_local(z - 1, px, py, pid)
        keys, ids, _, _ = index_at(z)
        cid[gen] = _lookup(keys, ids, (cx[gen] << z) | cy[gen], empty_id)
        out.append((z, cx, cy, cid))
    return (
        np.concatenate([np.full(len(x), z, dtype=np.int8) for z, x, _, _ in out]),
        np.concatenate([x for _, x, _, _ in out]),
        np.concatenate([y for _, _, y, _ in out]),
        np.concatenate([i for _, _, _, i in out]),
    )


def tile_multiplier(changed: DataFrame, minzoom: int, maxzoom: int) -> DataFrame:
    """Expand changed tiles (z,x,y at some zoom) to every overlapping
    tile for z in [minzoom, maxzoom] (T5, reference bin/tile_multiplier:
    24-54): parents via x >> k, children via the 2^k x 2^k grid.
    Distinct'd — drives incremental re-tiling."""
    src = changed.select("z", "x", "y")
    levels = src.withColumn("tz", F.explode(F.sequence(F.lit(minzoom), F.lit(maxzoom))))
    dz = F.col("tz") - F.col("z")
    # parents (dz < 0): floor-divide by 2^{-dz}; children (dz>0): range
    parents = levels.where(dz <= 0).select(
        F.col("tz").alias("z"),
        F.call_function("shiftright", F.col("x"), (-dz).cast("int")).alias("x"),
        F.call_function("shiftright", F.col("y"), (-dz).cast("int")).alias("y"),
    )
    k = dz.cast("int")
    children = (
        levels.where(dz > 0)
        .select(
            F.col("tz").alias("z"),
            F.explode(
                F.sequence(
                    F.call_function("shiftleft", F.col("x"), k),
                    F.call_function("shiftleft", F.col("x") + 1, k) - 1,
                )
            ).alias("x"),
            F.call_function("shiftleft", F.col("y"), k).alias("y0"),
            (F.call_function("shiftleft", F.col("y") + 1, k) - 1).alias("y1"),
        )
        .select("z", "x", F.explode(F.sequence("y0", "y1")).alias("y"))
    )
    return parents.unionByName(children).distinct()
