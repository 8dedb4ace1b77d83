"""The three tile-engine workloads.

Each workload prepares seeded inputs, then repeats one store-producing
operation (``op``): a full ``TileBuild.build_fast`` for ``points_deep``
and ``wkb_3layer``, an incremental retile of a standing store for
``retile``. Every store an op writes is checked: map row count against
the z0..maxzoom universe and an order-insensitive map digest against
its reference. The last store is read back through ``sparktiles.serve``.

``trace_layers`` calls each layer's public function on its own, inside
a span, and materializes its output there so the layer's Spark work is
tagged with the layer's job group.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparktiles.operators.mvt import (
    LayerSpec,
    assemble_normalized,
    encode_and_assemble_single,
    normalize_layer_df,
)
from sparktiles.operators.pyramid import (
    assign_point_tiles_multi,
    assign_supercover_tiles_multi,
    tile_pyramid,
)
from sparktiles.plans.pipeline import MAP_SCHEMA, BuildConfig, TileBuild, empty_tile_blob
from sparktiles.sources.geoparse import build_features
from sparktiles.sources.lines import generate_lines
from sparktiles.sources.pages import generate_pages
from sparktiles.sources.polygons import generate_polygons
from sparktiles.streaming.incremental import changed_features, run_incremental_retile

GZIP = 6
BUF = 8
EXPECTED = Path(__file__).resolve().parent / "expected.json"


def universe(maxzoom: int) -> int:
    return sum(4 ** z for z in range(maxzoom + 1))


def read_map(spark, store: Path) -> DataFrame:
    root = str(store / "tile_map")
    return spark.read.schema(MAP_SCHEMA).option("basePath", root).parquet(root)


def map_digest(df: DataFrame) -> tuple[int, str]:
    """(rows, Σ xxhash64(zoom_level, tile_column, tile_row, tile_id))."""
    r = df.select(
        F.col("zoom_level").cast("int"), F.col("tile_column").cast("long"),
        F.col("tile_row").cast("long"), F.col("tile_id").cast("string"),
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64("zoom_level", "tile_column", "tile_row", "tile_id")
              .cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(r.n), str(r.h)


def as_map(tiles: DataFrame) -> DataFrame:
    return tiles.select(F.col("z").alias("zoom_level"), F.col("x").alias("tile_column"),
                        F.col("y").alias("tile_row"), "tile_id")


def recorded_digest(workload: str, seed: int):
    if not EXPECTED.exists():
        return None
    return json.loads(EXPECTED.read_text()).get(workload, {}).get(str(seed))


def record_digest(workload: str, seed: int, digest: tuple[int, str]) -> None:
    table = json.loads(EXPECTED.read_text()) if EXPECTED.exists() else {}
    table.setdefault(workload, {})[str(seed)] = list(digest)
    EXPECTED.write_text(json.dumps(table, indent=1, sort_keys=True) + "\n")


class Workload:
    name = ""
    maxzoom = 0
    warm_up_op = True  # run one checked op in set-up before timing

    def __init__(self, spark, seed: int, work: Path, tracer):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tr = tracer
        self.n_ops = 0

    # -- set-up -----------------------------------------------------------
    def prepare_inputs(self) -> None:
        """Generate and cache the seeded inputs (repeatable)."""
        raise NotImplementedError

    def drop_inputs(self) -> None:
        for df in self._cached:
            df.unpersist()

    def one_time_setup(self) -> None:
        """State built once per run after the inputs (e.g. a standing store)."""

    def reference(self):
        """(rows, digest) every op's store must reproduce, or None."""
        return recorded_digest(self.name, self.seed)

    def new_store(self) -> Path:
        self.n_ops += 1
        store = self.work / f"store-{self.name}-{self.n_ops}"
        shutil.rmtree(store, ignore_errors=True)
        return store

    def op(self, store: Path) -> None:
        raise NotImplementedError

    def trace_layers(self) -> None:
        """Bracketed, materialized calls of each layer's public function."""


class _Build(Workload):
    mid_zoom = 0

    def frames(self):
        raise NotImplementedError

    def op(self, store: Path) -> None:
        cfg = BuildConfig(store_dir=str(store), minzoom=0, maxzoom=self.maxzoom,
                          mid_zoom=self.mid_zoom, gzip_level=GZIP)
        with self.tr.span("pipeline.build_fast"):
            TileBuild(self.spark, self.frames(), cfg).build_fast()

    def _encode(self):
        raise NotImplementedError

    def _assign_rows(self) -> int:
        raise NotImplementedError

    def trace_layers(self) -> None:
        with self.tr.span("geoparse"):
            feats = build_features(self.pages).cache()
            self.tr.count("geoparse.rows_out", feats.count())
        self.feats.unpersist()
        self.feats = feats
        self._cached.append(feats)
        with self.tr.span("pyramid.assign"):
            self.tr.count("pyramid.assign.rows_out", self._assign_rows())
        out = self.work / "encode-only"
        with self.tr.span("mvt.encode"):
            self._encode().write.mode("overwrite").partitionBy("z").parquet(str(out))
        self.tr.count("mvt.encode.tiles_out", self.spark.read.parquet(str(out)).count())
        shutil.rmtree(out, ignore_errors=True)


class PointsDeep(_Build):
    """One point layer, z0-z7, impute walk above z5."""

    name = "points_deep"
    maxzoom = 7
    mid_zoom = 5
    n_pages = 4_000

    def __init__(self, *a):
        super().__init__(*a)
        self.spec = LayerSpec(layer_id="place", index=0,
                              attr_fields={"name": "string"}, buffer_px=BUF)

    def prepare_inputs(self) -> None:
        self.pages = generate_pages(self.spark, self.n_pages, seed=self.seed).cache()
        self.pages.count()
        self.feats = build_features(self.pages).cache()
        self.feats.count()
        self._cached = [self.pages, self.feats]

    def frames(self):
        return [(self.spec, self.feats)]

    def _assign_rows(self) -> int:
        return assign_point_tiles_multi(self.feats, 0, self.maxzoom, buffer_px=BUF).count()

    def _encode(self):
        # the single-layer spine build_fast runs: JVM assignment feeding
        # the fused encode + assemble
        assigned = assign_point_tiles_multi(self.feats, 0, self.maxzoom, buffer_px=BUF)
        return encode_and_assemble_single(assigned, self.spec, GZIP)


WKB_ATTRS = {"class": "string", "name": "string", "pop": "number",
             "layer_n": "number", "oneway": "bool", "ref": "string",
             "ele_n": "number", "network": "string"}


def _wkb8(df: DataFrame) -> DataFrame:
    """The 8-attribute shape of the reference's attribute-heavy layers."""
    fid = F.col("feature_id")
    return df.select(
        "*",
        ((fid % 100000) / 7.0).alias("pop"),
        (fid % 5).cast("int").alias("layer_n"),
        (fid % 2 == 0).alias("oneway"),
        F.format_string("R%d", fid % 53).alias("ref"),
        (fid % 900).cast("double").alias("ele_n"),
        F.format_string("net%d", fid % 7).alias("network"),
    )


class Wkb3Layer(_Build):
    """Points + 8-attribute lines + 8-attribute polygons, z0-z7, no walk."""

    name = "wkb_3layer"
    maxzoom = 7
    mid_zoom = 7
    n_pages = 6_000
    n_lines = 2000
    n_grid = 24

    def prepare_inputs(self) -> None:
        s = self.spark
        self.pages = generate_pages(s, self.n_pages, seed=self.seed).cache()
        self.pages.count()
        self.feats = build_features(self.pages).cache()
        self.feats.count()
        lines = generate_lines(s, n=self.n_lines, seed=self.seed) \
            .withColumnRenamed("line_id", "feature_id")
        polys = generate_polygons(s, n_grid=self.n_grid, seed=self.seed) \
            .withColumnRenamed("poly_id", "feature_id") \
            .withColumnRenamed("admin_class", "class")
        self.lines = _wkb8(lines).cache()
        self.polys = _wkb8(polys).cache()
        self.lines.count()
        self.polys.count()
        self._cached = [self.pages, self.feats, self.lines, self.polys]

    def frames(self):
        return [
            (LayerSpec(layer_id="place", index=0, attr_fields={"name": "string"},
                       buffer_px=BUF), self.feats),
            (LayerSpec(layer_id="transportation", index=1, attr_fields=WKB_ATTRS,
                       buffer_px=4, geometry_kind="wkb"), self.lines),
            (LayerSpec(layer_id="boundary", index=2, attr_fields=WKB_ATTRS,
                       buffer_px=4, geometry_kind="wkb"), self.polys),
        ]

    def _assign_rows(self) -> int:
        n = assign_point_tiles_multi(self.feats, 0, self.maxzoom, buffer_px=BUF).count()
        for spec, df in self.frames()[1:]:
            n += assign_supercover_tiles_multi(
                df, 0, self.maxzoom, buffer_px=spec.buffer_px).count()
        return n

    def _encode(self):
        # the multi-layer spine build_fast runs: per-layer fused
        # normalize, one zxy assembly
        frames = self.frames()
        n_vals = max(len(s.attr_fields) for s, _ in frames)
        norm = None
        for spec, df in frames:
            nf = normalize_layer_df(df, spec, zoom_range=(0, self.maxzoom), n_vals=n_vals)
            norm = nf if norm is None else norm.unionByName(nf)
        return assemble_normalized(norm, [s for s, _ in frames], GZIP)


# snapshot-2 edit window: lon0, lon1, lat0, lat1
WIN = (28.0, 36.0, 60.0, 70.0)


class Retile(Workload):
    """Incremental retile of a standing z0-z7 point store."""

    name = "retile"
    maxzoom = 7
    n_pages = 4_000
    warm_up_op = False  # the set-up's two builds already warm its code paths
    n_added = 300

    def __init__(self, *a):
        super().__init__(*a)
        self.spec = LayerSpec(layer_id="place", index=0,
                              attr_fields={"name": "string"}, buffer_px=BUF)
        self.empty_id = hashlib.md5(empty_tile_blob(GZIP)).hexdigest()
        self._fresh_tiles = None

    def prepare_inputs(self) -> None:
        s, seed = self.spark, self.seed
        p1 = generate_pages(s, self.n_pages, seed=seed).cache()
        p1.count()
        # snapshot 2: a spatially clustered diff. Pages whose every
        # mention lies in the window are removed (1/3) or gain an
        # in-window mention (2/3); a few hundred new in-window pages
        lon0, lon1, lat0, lat1 = WIN
        geo = build_features(p1).groupBy("url").agg(
            F.min("lon").alias("a"), F.max("lon").alias("b"),
            F.min("lat").alias("c"), F.max("lat").alias("d"))
        in_win = geo.where((F.col("a") >= lon0) & (F.col("b") <= lon1)
                           & (F.col("c") >= lat0) & (F.col("d") <= lat1)).select("url")
        sel = F.pmod(F.xxhash64("url", F.lit(seed)), F.lit(3))
        removed = in_win.where(sel == 0)
        updated = in_win.where(sel != 0).withColumn("_u", F.lit(True))
        mention = F.format_string(" Name_%d (%.5f; %.5f)", F.lit(400 + seed % 97),
                                  F.lit(lat0 + 1.0 + (seed % 7)), F.lit(lon0 + 1.0 + (seed % 5)))
        core = (p1.join(removed, "url", "left_anti").join(updated, "url", "left")
                .withColumn("text", F.when(F.col("_u"), F.concat("text", mention))
                            .otherwise(F.col("text")))
                .withColumn("html", F.encode("text", "utf-8")).drop("_u"))
        i = F.col("id")
        h = F.pmod(F.xxhash64(i, F.lit(seed)), F.lit(1 << 30))
        fresh = F.format_string(
            "Fresh doc %d Name_9%06d (%.5f; %.5f)", i, i,
            F.lit(lat0) + (h % 9000) / 1000.0 + 0.5, F.lit(lon0) + (h % 7000) / 1000.0 + 0.5)
        added = s.range(self.n_added).select(
            F.format_string("https://example.org/new/%d/%d", F.lit(seed), i).alias("url"),
            F.lit(None).cast("timestamp").alias("warc_ts"),
            F.encode(fresh, "utf-8").alias("html"), fresh.alias("text"),
            F.lit("en").alias("lang"))
        p2 = core.unionByName(added).cache()
        p2.count()
        self.p1, self.p2 = p1, p2
        self._cached = [p1, p2]

    def one_time_setup(self) -> None:
        # the standing store: a z0..maxzoom build of snapshot 1 with
        # mid_zoom = maxzoom, so every zoom is generated directly (a
        # regenerated tile is never imputed)
        self.standing = self.work / "standing-store"
        shutil.rmtree(self.standing, ignore_errors=True)
        feats = build_features(self.p1).cache()
        cfg = BuildConfig(store_dir=str(self.standing), minzoom=0, maxzoom=self.maxzoom,
                          mid_zoom=self.maxzoom, gzip_level=GZIP)
        with self.tr.span("setup.standing_store"):
            TileBuild(self.spark, [(self.spec, feats)], cfg).build_fast()
        feats.unpersist()
        with self.tr.span("setup.reference_rebuild"):
            self._reference = map_digest(self._rebuild_map(self.p2))

    def _rebuild_map(self, pages: DataFrame) -> DataFrame:
        """The full map of ``pages`` from scratch: every tile generated,
        empties filled from the universe (tests/test_streaming.py's
        full_map)."""
        assigned = assign_point_tiles_multi(build_features(pages), 0, self.maxzoom,
                                            buffer_px=BUF)
        tiles = encode_and_assemble_single(assigned, self.spec, GZIP)
        empties = tile_pyramid(self.spark, 0, self.maxzoom).join(
            tiles.select("z", "x", "y"), ["z", "x", "y"], "left_anti").withColumn(
            "tile_id", F.lit(self.empty_id))
        return as_map(tiles).unionByName(as_map(empties))

    def reference(self):
        return self._reference

    def _features(self, pages: DataFrame) -> DataFrame:
        tr = self.tr
        if tr.enabled and pages is not self.p2:
            # the diff's touched pages: materialized first, so the diff's
            # hashing and join land in its own span, not in geoparse
            with tr.span("incremental.diff"):
                pages = pages.cache()
                pages.count()
                self._trace_cached.append(pages)
        with tr.span("geoparse"):
            feats = build_features(pages)
            if tr.enabled:
                feats = feats.cache()
                tr.count("geoparse.rows_out", feats.count())
                self._trace_cached.append(feats)
        return feats

    def _regenerate(self, inv: DataFrame) -> DataFrame:
        tr = self.tr
        with tr.span("incremental.regenerate"):
            if tr.enabled:
                with tr.span("pyramid.assign"):
                    inv = inv.cache()
                    self._trace_cached.append(inv)
                    tr.count("incremental.invalidated_tiles", inv.count())
            feats2 = self._features(self.p2)
            with tr.span("pyramid.assign"):
                assigned = assign_point_tiles_multi(feats2, 0, self.maxzoom, buffer_px=BUF)
                kept = assigned.join(inv, ["z", "x", "y"], "left_semi")
                if tr.enabled:
                    tr.count("pyramid.assign.rows_out", assigned.count())
                    kept = kept.cache()
                    self._trace_cached.append(kept)
                    tr.count("pyramid.assign.kept_rows", kept.count())
            with tr.span("mvt.encode"):
                # cached: the merged map and the fresh images both read it
                tiles = encode_and_assemble_single(kept, self.spec, GZIP).cache()
                if tr.enabled:
                    tr.count("mvt.encode.tiles_out", tiles.count())
            self._fresh_tiles = tiles
            empties = inv.join(tiles.select("z", "x", "y"), ["z", "x", "y"], "left_anti") \
                .select(F.col("z").alias("zoom_level"), F.col("x").alias("tile_column"),
                        F.col("y").alias("tile_row"), F.lit(self.empty_id).alias("tile_id"))
            return as_map(tiles).unionByName(empties)

    def op(self, store: Path) -> None:
        self._trace_cached = []
        with self.tr.span("incremental"):
            existing = read_map(self.spark, self.standing)
            merged = run_incremental_retile(
                self.spark, self.p1, self.p2, self._features, existing,
                0, self.maxzoom, self._regenerate, buffer_px=BUF)
            with self.tr.span("incremental.merge"):
                merged.write.partitionBy("zoom_level").parquet(str(store / "tile_map"))
                images = self._fresh_tiles.select(
                    "tile_id", F.col("mvt").alias("tile_data")).dropDuplicates(["tile_id"])
                images.write.parquet(str(store / "tile_images" / "fresh"))
                # unchanged blobs stay where they are: link the standing images
                base = store / "tile_images" / "base"
                base.mkdir(parents=True)
                for f in (self.standing / "tile_images" / "all").glob("*.parquet"):
                    os.link(f, base / f.name)
        self._fresh_tiles.unpersist()
        for df in self._trace_cached:
            df.unpersist()

    def trace_layers(self) -> None:
        # outside every span: the op's own diff spans give the wall
        self.tr.count("incremental.changed_urls",
                      changed_features(self.p1, self.p2).count())


WORKLOADS = {w.name: w for w in (PointsDeep, Wkb3Layer, Retile)}


def check_store(wl: Workload, store: Path, first_digest):
    """-> (ok, digest, reason)."""
    digest = map_digest(read_map(wl.spark, store))
    want_rows = universe(wl.maxzoom)
    ref = wl.reference()
    if digest[0] != want_rows:
        return False, digest, f"map rows {digest[0]} != universe {want_rows}"
    if ref is not None and list(digest) != list(ref):
        return False, digest, f"digest {digest} != reference {ref}"
    if first_digest is not None and digest != first_digest:
        return False, digest, f"digest {digest} differs from the run's first {first_digest}"
    return True, digest, ""

