"""End-to-end: synthetic pages -> geoparse -> tile pyramid -> MVT store.

Oracle = independent pure-Python loop (FIXTURES.md §8): regex-parses the
same page text, assigns tiles with plain math, and the engine's
per-tile feature counts / tile assignments must match exactly
(north_rule: 'matching the reference's join output rows and tile
assignments'). Also checks the impute-vs-direct pyramid equivalence
(SURVEY §5 test plan (e)) and the byte-identical-text invariant.
"""

import hashlib
import math
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from sparktiles.functions import mvtcodec as C
from sparktiles.plans.config import FieldDef, LayerDef, TilesetDef
from sparktiles.plans.pipeline import (
    BuildConfig,
    TileBuild,
    empty_tile_blob,
    make_point_layer_frames,
)
from sparktiles.sources.geoparse import build_features
from sparktiles.sources.pages import generate_pages

N_PAGES = 1000
MAXZOOM = 5
MENTION_RE = re.compile(r"Name_(\d+) \((-?\d+\.\d{5}); (-?\d+\.\d{5})\)")
HALF = 20037508.34278925
WORLD = 40075016.6855785


def merc(lon, lat):
    x = lon / 180.0 * HALF
    y = math.log(math.tan((90.0 + lat) * math.pi / 360.0)) / math.pi * HALF
    return x, y


def oracle_tiles(text_rows, zoom, buffer_px):
    """Pure-python tile assignment incl. buffer ring."""
    counts = Counter()
    n = 2**zoom
    bf = buffer_px / 256.0
    for text in text_rows:
        for m in MENTION_RE.finditer(text):
            lat, lon = float(m.group(2)), float(m.group(3))
            x, y = merc(lon, lat)
            fx = (x + HALF) / WORLD * n
            fy = (HALF - y) / WORLD * n
            tx, ty = int(fx), int(fy)
            cands = {(tx, ty)}
            if fx - tx < bf and tx > 0:
                cands.add((tx - 1, ty))
            if tx + 1 - fx < bf and tx < n - 1:
                cands.add((tx + 1, ty))
            if fy - ty < bf and ty > 0:
                cands.add((tx, ty - 1))
            if ty + 1 - fy < bf and ty < n - 1:
                cands.add((tx, ty + 1))
            # corners
            if fx - tx < bf and fy - ty < bf and tx > 0 and ty > 0:
                cands.add((tx - 1, ty - 1))
            if tx + 1 - fx < bf and fy - ty < bf and tx < n - 1 and ty > 0:
                cands.add((tx + 1, ty - 1))
            if fx - tx < bf and ty + 1 - fy < bf and tx > 0 and ty < n - 1:
                cands.add((tx - 1, ty + 1))
            if tx + 1 - fx < bf and ty + 1 - fy < bf and tx < n - 1 and ty < n - 1:
                cands.add((tx + 1, ty + 1))
            for c in cands:
                counts[c] += 1
    return counts


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages(spark, N_PAGES).cache()


@pytest.fixture(scope="module")
def tileset():
    return TilesetDef(
        name="testtiles",
        layers=[
            LayerDef(
                id="place",
                fields=[
                    FieldDef("name"),
                    FieldDef("class", values={
                        "city": {"class_src": ["city"]},
                        "town": {"class_src": ["town", "vill%"]},
                        "edu": {"class_src": ["university"]},
                    }),
                ],
                buffer_size=8,
            ),
        ],
        minzoom=0,
        maxzoom=MAXZOOM,
        languages=["en", "de"],
    )


def test_text_byte_identical_per_url(spark, pages):
    """input_hint invariant: regenerating the corpus and passing it
    through geoparse leaves text byte-identical per url."""
    h1 = pages.select("url", F.sha2(F.col("text"), 256).alias("h")).collect()
    again = generate_pages(spark, N_PAGES)
    h2 = dict(again.select("url", F.sha2(F.col("text"), 256).alias("h")).collect())
    assert len(h1) == N_PAGES
    for url, h in h1:
        assert h2[url] == h
    # html embeds the same bytes
    r = pages.select(
        (F.decode("html", "utf-8") == F.format_string("<html><body>%s</body></html>", "text"))
        .alias("ok")
    ).agg(F.min("ok")).first()[0]
    assert r is True


def test_feature_extraction_matches_oracle(spark, pages):
    feats = build_features(pages)
    texts = [r.text for r in pages.select("text").collect()]
    exp_total = sum(len(MENTION_RE.findall(t)) for t in texts)
    assert feats.count() == exp_total
    # feature ids unique per (url, mention)
    assert feats.select("feature_id").distinct().count() == exp_total


def test_tile_assignment_matches_oracle(spark, pages, tileset, tmp_path):
    feats = build_features(pages).cache()
    texts = [r.text for r in pages.select("text").collect()]
    layer_frames = make_point_layer_frames(feats, tileset)
    spec, frame = layer_frames[0]
    assert spec.buffer_px == 8

    from sparktiles.operators.pyramid import assign_point_tiles

    for zoom in (2, MAXZOOM):
        got = (
            assign_point_tiles(frame, zoom, buffer_px=spec.buffer_px)
            .groupBy("x", "y").count().collect()
        )
        got = {(r.x, r.y): r["count"] for r in got}
        exp = oracle_tiles(texts, zoom, 8)
        assert got == dict(exp), f"zoom {zoom}"


def test_full_build_and_decode(spark, pages, tileset, tmp_path):
    feats = build_features(pages).cache()
    frames = make_point_layer_frames(feats, tileset)
    cfg = BuildConfig(
        store_dir=str(tmp_path / "store"), minzoom=0, maxzoom=MAXZOOM,
        mid_zoom=2, gzip_level=None,
    )
    build = TileBuild(spark, frames, cfg)
    summary = build.build()
    assert summary["tiles"] > 0

    # tile_map covers the full pyramid at every zoom
    tm = build.read_tile_map()
    per_zoom = {r.zoom_level: r["cnt"] for r in
                tm.groupBy("zoom_level").agg(F.count("*").alias("cnt")).collect()}
    for z in range(0, MAXZOOM + 1):
        assert per_zoom[z] == 4**z, f"zoom {z} pyramid incomplete"

    # every tile_id has an image; md5 matches blob
    imgs = build.read_tile_images()
    missing = tm.join(imgs, "tile_id", "left_anti").count()
    assert missing == 0
    chk = imgs.select(
        (F.md5(F.col("tile_data")) == F.col("tile_id")).alias("ok")
    ).agg(F.min("ok")).first()[0]
    assert chk is True

    # decode the busiest z-MAXZOOM tile and compare features to oracle
    texts = [r.text for r in pages.select("text").collect()]
    exp = oracle_tiles(texts, MAXZOOM, 8)
    (bx, by), bcount = exp.most_common(1)[0]
    row = (
        tm.where((F.col("zoom_level") == MAXZOOM)
                 & (F.col("tile_column") == bx) & (F.col("tile_row") == by))
        .join(imgs, "tile_id").first()
    )
    tile = C.decode_tile(bytes(row.tile_data))
    assert "place" in tile
    feats_in_tile = tile["place"]["features"]
    assert len(feats_in_tile) == bcount
    # attrs carry the enum mapping and localized names
    attrs = feats_in_tile[0]["attrs"]
    assert "name" in attrs
    assert set(a["attrs"].get("class") for a in feats_in_tile) <= {
        "city", "town", "edu", None}


def test_impute_equals_direct(spark, pages, tileset, tmp_path):
    """Pyramid built with MID_ZOOM imputation == pyramid built directly
    (SURVEY §5(e)), on the (z,x,y,tile_id) set."""
    feats = build_features(pages).cache()
    frames = make_point_layer_frames(feats, tileset)
    b1 = TileBuild(spark, frames, BuildConfig(
        store_dir=str(tmp_path / "imputed"), minzoom=0, maxzoom=4, mid_zoom=1))
    b2 = TileBuild(spark, frames, BuildConfig(
        store_dir=str(tmp_path / "direct"), minzoom=0, maxzoom=4, mid_zoom=4))
    b1.build()
    b2.build()
    m1 = b1.read_tile_map()
    m2 = b2.read_tile_map()
    assert m1.count() == m2.count()
    assert m1.exceptAll(m2).count() == 0


def _assert_same_store(slow, fast):
    m1, m2 = slow.read_tile_map(), fast.read_tile_map()
    assert m1.count() == m2.count()
    assert m1.exceptAll(m2).count() == 0
    i1 = {r.tile_id: bytes(r.tile_data) for r in slow.read_tile_images().collect()}
    i2 = {r.tile_id: bytes(r.tile_data) for r in fast.read_tile_images().collect()}
    for tid in {r.tile_id for r in m2.select("tile_id").distinct().collect()}:
        assert i1[tid] == i2[tid]


def test_fast_build_equals_loop_build(spark, pages, tileset, tmp_path, phase2_path):
    """build_fast (one-shot blob generation + phase-2 bookkeeping, on
    both phase-2 paths) must produce the identical tile_map AND
    identical image bytes as the faithful per-zoom loop."""
    feats = build_features(pages).cache()
    frames = make_point_layer_frames(feats, tileset)
    slow = TileBuild(spark, frames, BuildConfig(
        store_dir=str(tmp_path / "slow"), minzoom=0, maxzoom=4, mid_zoom=2))
    fast = TileBuild(spark, frames, BuildConfig(
        store_dir=str(tmp_path / "fast"), minzoom=0, maxzoom=4, mid_zoom=2))
    slow.build()
    fast.build_fast()
    _assert_same_store(slow, fast)


def test_resume_skips_completed_zooms(spark, pages, tileset, tmp_path):
    feats = build_features(pages).cache()
    frames = make_point_layer_frames(feats, tileset)
    cfg = BuildConfig(store_dir=str(tmp_path / "r"), minzoom=0, maxzoom=3, mid_zoom=1)
    b = TileBuild(spark, frames, cfg)
    b.build()
    first = {s["z"]: s for s in b.metrics}
    b2 = TileBuild(spark, frames, cfg)
    s2 = b2.build()
    # nothing re-done
    assert s2["tiles"] == 0 and b2.metrics == []
    assert sorted(first) == [0, 1, 2, 3]


def test_single_zoom_build(spark, pages, tileset, tmp_path, phase2_path):
    # minzoom == maxzoom == mid_zoom: degenerate pyramid, no impute walk
    from sparktiles.sources.geoparse import build_features

    feats = build_features(pages)
    b = TileBuild(spark, make_point_layer_frames(feats, tileset), BuildConfig(
        store_dir=str(tmp_path / "z3"), minzoom=3, maxzoom=3, mid_zoom=3))
    summary = b.build_fast()
    assert summary["tiles"] == 64
    tm = b.read_tile_map()
    assert tm.count() == 64
    assert {r.zoom_level for r in tm.select("zoom_level").distinct().collect()} == {3}


def test_fast_build_mid_zoom_below_minzoom(spark, pages, tileset, tmp_path, phase2_path):
    """mid_zoom < minzoom: the first zoom is generated whole (pyramid
    scheme), the rest walk from it — as build() does."""
    feats = build_features(pages).cache()
    frames = make_point_layer_frames(feats, tileset)
    kw = dict(minzoom=3, maxzoom=4, mid_zoom=2)
    slow = TileBuild(spark, frames, BuildConfig(store_dir=str(tmp_path / "slow"), **kw))
    fast = TileBuild(spark, frames, BuildConfig(store_dir=str(tmp_path / "fast"), **kw))
    assert slow.build()["tiles"] == 64 + 256
    assert fast.build_fast()["tiles"] == 64 + 256
    _assert_same_store(slow, fast)


def _lonlat_tile(lon, lat, z):
    """Clamped floor of lon/lat -> tile (tilemath.lonlat_to_tile_exprs)."""
    n = 2 ** z
    lat_r = math.radians(lat)
    fx = (lon + 180.0) / 360.0 * n
    fy = (1.0 - math.asinh(math.tan(lat_r)) / math.pi) / 2.0 * n
    return (min(max(math.floor(fx), 0), n - 1), min(max(math.floor(fy), 0), n - 1))


def test_fast_build_with_bounds(spark, pages, tileset, tmp_path, phase2_path):
    """bounds_lonlat restricts the generated universe; tiles with
    features outside the box stay in the map (build() keeps them too).
    The north edge lies above mercator's 85.05 deg, so y clamps to 0."""
    bounds = (-10.0, 35.0, 30.0, 88.0)
    feats = build_features(pages).cache()
    frames = make_point_layer_frames(feats, tileset)
    kw = dict(minzoom=0, maxzoom=4, mid_zoom=2, bounds_lonlat=bounds)
    slow = TileBuild(spark, frames, BuildConfig(store_dir=str(tmp_path / "slow"), **kw))
    fast = TileBuild(spark, frames, BuildConfig(store_dir=str(tmp_path / "fast"), **kw))
    slow.build()
    fast.build_fast()
    _assert_same_store(slow, fast)
    empty_id = hashlib.md5(empty_tile_blob(None)).hexdigest()
    rows = fast.read_tile_map().collect()
    for z in range(3):  # the pyramid zooms
        x0, y1 = _lonlat_tile(bounds[0], bounds[1], z)
        x1, y0 = _lonlat_tile(bounds[2], bounds[3], z)
        assert y0 == 0
        cells = {(r.tile_column, r.tile_row): r.tile_id for r in rows if r.zoom_level == z}
        box = {(x, y) for x in range(x0, x1 + 1) for y in range(y0, y1 + 1)}
        assert box <= set(cells)
        # outside the box only generated (non-empty) tiles appear
        outside = set(cells) - box
        assert all(cells[c] != empty_id for c in outside)
    assert outside


def test_fast_build_no_features(spark, tmp_path, phase2_path):
    """A build over zero features is the universe of empty tiles, with
    the empty image as the only blob."""
    from sparktiles.operators.mvt import LayerSpec

    spec = LayerSpec(layer_id="place", index=0, attr_fields={"name": "string"})
    feats = spark.createDataFrame([], "feature_id long, px double, py double, name string")
    b = TileBuild(spark, [(spec, feats)], BuildConfig(
        store_dir=str(tmp_path / "e"), minzoom=0, maxzoom=3, mid_zoom=1))
    assert b.build_fast()["tiles"] == 1 + 4 + 16 + 64
    empty_id = hashlib.md5(empty_tile_blob(None)).hexdigest()
    assert {r.tile_id for r in b.read_tile_map().select("tile_id").distinct().collect()} == {
        empty_id}
    assert [r.tile_id for r in b.read_tile_images().collect()] == [empty_id]


def test_jvm_and_pandas_extraction_identical(spark, pages):
    """The codegen extract_mentions and the Arrow/pandas variant are
    row-for-row identical (same regex language subset)."""
    from sparktiles.sources.geoparse import (
        extract_mentions, extract_mentions_pandas)

    a = extract_mentions(pages)
    b = extract_mentions_pandas(pages)
    key = ["url", "mention_idx"]
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # mention_idx is dense per url starting at 0 in both
    mx = a.groupBy("url").agg(
        F.min("mention_idx").alias("mn"), F.max("mention_idx").alias("mx"),
        F.count("*").alias("c"))
    bad = mx.where((F.col("mn") != 0) | (F.col("mx") != F.col("c") - 1)).count()
    assert bad == 0


def test_fast_build_equals_loop_build_wkb(spark, tmp_path, phase2_path):
    """Faithful-vs-fast equivalence for a WKB line layer: the per-zoom
    loop (supercover assignment at each single zoom + impute) must
    produce the identical tile_map and image bytes as the one-shot
    build — the line/polygon twin of the point-layer test above."""
    from sparktiles.operators.mvt import LayerSpec
    from sparktiles.sources.lines import generate_lines

    lines = generate_lines(spark, n=48).withColumnRenamed(
        "line_id", "feature_id").cache()
    spec = LayerSpec(layer_id="transportation", index=0,
                     attr_fields={"class": "string", "name": "string"},
                     key_field="feature_id", buffer_px=4,
                     geometry_kind="wkb")
    slow = TileBuild(spark, [(spec, lines)], BuildConfig(
        store_dir=str(tmp_path / "wslow"), minzoom=0, maxzoom=3, mid_zoom=1))
    fast = TileBuild(spark, [(spec, lines)], BuildConfig(
        store_dir=str(tmp_path / "wfast"), minzoom=0, maxzoom=3, mid_zoom=1))
    slow.build()
    fast.build_fast()
    _assert_same_store(slow, fast)
