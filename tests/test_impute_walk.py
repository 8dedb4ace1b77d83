"""The driver-side impute walk (operators/pyramid.py) against its Spark
twins: one walk step vs dup_tile_ids + impute_children on both sides of
the z12 threshold switch, and the universe ranges vs tile_pyramid."""

import numpy as np
import pytest

from sparktiles.operators.pyramid import (
    EMPTY_TILE_DUP_THRESHOLD,
    EMPTY_TILE_DUP_THRESHOLD_HIGH,
    dup_tile_ids,
    impute_children,
    impute_children_local,
    map_row_count,
    tile_pyramid,
    tile_range,
)


def _parent_map(z, seed=0):
    """Distinct random tiles at zoom z: 'a' x30 (between the 20 and 50
    thresholds), 'b' x60 (above both), 'c' x19 (below both), 100 unique."""
    rng = np.random.default_rng(seed)
    ids = ["a"] * 30 + ["b"] * 60 + ["c"] * 19 + [f"u{i}" for i in range(100)]
    cells = rng.choice(4 ** z, size=len(ids), replace=False)
    return [(z, int(c >> z), int(c & ((1 << z) - 1)), t) for c, t in zip(cells, ids)]


@pytest.mark.parametrize("z", [12, 13])
def test_impute_children_local_matches_spark(spark, z):
    assert EMPTY_TILE_DUP_THRESHOLD <= 30 < EMPTY_TILE_DUP_THRESHOLD_HIGH
    rows = _parent_map(z, seed=z)
    parents = spark.createDataFrame(
        rows, "zoom_level int, tile_column long, tile_row long, tile_id string")
    imputed, gen = impute_children(parents, dup_tile_ids(parents, z))
    want_imputed = {tuple(r) for r in imputed.select(
        "zoom_level", "tile_column", "tile_row", "tile_id").collect()}
    want_gen = {tuple(r) for r in gen.select("z", "x", "y").collect()}

    names, codes = np.unique([r[3] for r in rows], return_inverse=True)
    cx, cy, cid, generate = impute_children_local(
        z, np.array([r[1] for r in rows]), np.array([r[2] for r in rows]), codes)
    got_imputed = {(z + 1, int(x), int(y), names[c])
                   for x, y, c in zip(cx[~generate], cy[~generate], cid[~generate])}
    got_gen = {(z + 1, int(x), int(y)) for x, y in zip(cx[generate], cy[generate])}

    assert len(cx) == 4 * len(rows)
    assert got_imputed == want_imputed
    assert got_gen == want_gen
    # 'a' (30 copies) is a dup under threshold 20 (parent z12), not under
    # 50 (parent z13); 'b' is a dup at both, 'c' at neither
    inherited = {r[3] for r in got_imputed}
    assert inherited == ({"a", "b"} if z == 12 else {"b"})


@pytest.mark.parametrize("bounds", [
    None,
    (-10.0, 35.0, 30.0, 60.0),
    (-180.0, -89.0, 179.9, 88.0),  # beyond mercator's 85.05 deg: y clamps
])
def test_tile_range_matches_tile_pyramid(spark, bounds):
    counts = {r.z: r.n for r in tile_pyramid(spark, 0, 6, bounds)
              .groupBy("z").count().withColumnRenamed("count", "n").collect()}
    for z in range(7):
        x0, x1, y0, y1 = tile_range(z, bounds)
        assert (x1 - x0 + 1) * (y1 - y0 + 1) == counts[z]
    # walk zooms add four children per parent row
    assert map_row_count(0, 6, 8, bounds) == sum(counts.values()) + counts[6] * (4 + 16)
