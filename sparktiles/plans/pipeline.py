"""End-to-end tile build: features -> layers -> MVT tiles -> store.

Reproduces the reference driver loop (bin/generate-tiles:88-117):
  z <= MID_ZOOM : generate every tile of the pyramid ('pyramid' scheme)
  z >  MID_ZOOM : impute from z-1 (children of duplicate/'empty-ish'
                  tiles inherit the parent tile_id without generation,
                  mbtile_tools.py:106-196), generate only the remaining
                  list ('list' scheme)

Two drivers share the store layout (tile_map hive-partitioned by zoom,
tile_images, lineage, `_manifest.json`, metrics.json):

- `build()`, the faithful loop: each zoom is a checkpoint barrier
  (map + images written, stats recorded, the manifest marks the zoom
  complete) so a re-run resumes after the last finished zoom.
- `build_fast()`: phase 1 encodes every tile of every zoom in one
  shuffle; phase 2 (map, images, lineage, stats) is a pure function of
  the blob-free tile index. Maps up to LOCAL_PHASE2_ROWS rows finish
  in one numpy pass on the driver and are rewritten whole on a re-run;
  bigger maps take the per-zoom Spark walk, which resumes per zoom.

Every manifest barrier is one atomic write (tmp file + os.replace).

Scale notes: the feature->tile fan-out is map-side; the only wide
shuffles are the per-(z,x,y[,layer]) groupBys, which AQE re-balances
(skew-split on hot cells). Tile rows are quadkey-local because the
grouping key embeds (x, y) morton order via repartitioning on (z,x,y).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparktiles.functions import mvtcodec as C
from sparktiles.operators.mvt import (
    LayerSpec,
    assemble_normalized,
    encode_and_assemble_single,
    normalize_layer_df,
)
from sparktiles.operators.pyramid import (
    assign_point_tiles,
    dup_tile_ids,
    impute_children,
    local_tile_map,
    map_row_count,
    tile_pyramid,
)
from sparktiles.plans.config import TilesetDef

MAP_SCHEMA = "zoom_level int, tile_column long, tile_row long, tile_id string"
TILES_SCHEMA = "x long, y long, mvt binary, tile_id string, z int"
LINEAGE_SCHEMA = (
    "zoom_level int, partition_file string, n_rows long, n_nonempty long, "
    "min_x long, max_x long, min_y long, max_y long, n_distinct_ids long")
LINEAGE_COLUMNS = [f.split()[0] for f in LINEAGE_SCHEMA.split(", ")]

# build_fast computes phase 2 on the driver (`TileBuild._finish_local`)
# when the tile map has at most this many rows — the same 2M-row gate
# as graph.py's local union-find finish. Above it the per-zoom Spark
# walk runs.
LOCAL_PHASE2_ROWS = 2_000_000


def empty_tile_blob(gzip_level: int | None) -> bytes:
    """A tile with zero features: every layer contributes '' (reference
    COALESCE(ST_AsMVT(...),''), sqltomvt.py:176-179) so the tile blob is
    empty (gzip'd when gzip is on)."""
    blob = b""
    if gzip_level is not None:
        blob = C.gzip_blob(blob, gzip_level)
    return blob


@dataclass
class BuildConfig:
    store_dir: str
    minzoom: int = 0
    maxzoom: int = 8
    mid_zoom: int = 4
    gzip_level: int | None = None
    bounds_lonlat: tuple | None = None
    languages: list = field(default_factory=list)

    def __post_init__(self):
        # pack_zxy_expr XOR-packs (z<<58)^(x<<29)^y; beyond z=29 the
        # fields would overlap and tiles silently merge — fail loudly
        if not (0 <= self.minzoom <= self.maxzoom <= 29):
            raise ValueError(
                f"zoom range [{self.minzoom}, {self.maxzoom}] outside "
                "supported [0, 29] (packed-zxy key width)")


class TileBuild:
    """Drives the per-zoom build loop over a prepared feature DataFrame.

    layer_frames: list of (LayerSpec, features DataFrame). Each features
    DataFrame must carry: feature_id long, x double, y double (mercator)
    for point layers or geom binary for wkb layers, plus the attr
    columns named in LayerSpec.attr_fields.
    """

    def __init__(self, spark: SparkSession, layer_frames, cfg: BuildConfig):
        self.spark = spark
        self.layer_frames = layer_frames
        self.cfg = cfg
        self.store = Path(cfg.store_dir)
        self.store.mkdir(parents=True, exist_ok=True)
        self.manifest_path = self.store / "_manifest.json"
        self.metrics: list[dict] = []

    # ------------------------------------------------------------ store

    def _load_manifest(self) -> dict:
        if self.manifest_path.exists():
            return json.loads(self.manifest_path.read_text())
        return {"zooms": {}}

    def _mark_zooms(self, stats: list[dict]):
        """One manifest barrier: mark every zoom in `stats` (dicts with
        a "z" key) complete in a single atomic write — a crash leaves
        the old manifest or the new one, never a torn file."""
        m = self._load_manifest()
        for st in stats:
            m["zooms"][str(st["z"])] = {"status": "complete", **st}
        tmp = self.manifest_path.with_name(self.manifest_path.name + ".tmp")
        tmp.write_text(json.dumps(m, indent=1))
        os.replace(tmp, self.manifest_path)

    def _zoom_done(self, z: int) -> bool:
        return self._load_manifest()["zooms"].get(str(z), {}).get("status") == "complete"

    def _map_root(self) -> str:
        return str(self.store / "tile_map")

    def _map_path(self, z: int) -> str:
        # hive layout: zoom_level comes from the directory name, never
        # duplicated inside the files (one write per row, one scan for
        # any zoom subset; DuckDB reads it with hive_partitioning=1)
        return str(self.store / "tile_map" / f"zoom_level={z}")

    def _img_path(self, z: int) -> str:
        return str(self.store / "tile_images" / f"z={z}")

    def read_tile_map(self, z: int | None = None) -> DataFrame:
        r = self.spark.read.schema(MAP_SCHEMA).option("basePath", self._map_root())
        path = self._map_path(z) if z is not None else self._map_root()
        return r.parquet(path).select(
            "zoom_level", "tile_column", "tile_row", "tile_id")

    def _write_zoom_map(self, map_rows: DataFrame, z: int):
        """Write one zoom's map rows directly into its hive partition
        dir (zoom_level stays in the directory name, not the files)."""
        map_rows.select("tile_column", "tile_row", "tile_id").write.mode(
            "overwrite").parquet(self._map_path(z))

    def read_lineage(self) -> DataFrame:
        """Per-partition lineage/metrics rows written by build_fast."""
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(str(self.store / "lineage"))

    def read_tile_images(self) -> DataFrame:
        # per-zoom dirs (faithful loop) and/or the bulk dir (fast build)
        root = self.store / "tile_images"
        paths = [str(p) for p in sorted(root.iterdir()) if p.is_dir()]
        dfs = [self.spark.read.parquet(p) for p in paths]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out.dropDuplicates(["tile_id"])

    # ------------------------------------------------------------ build

    def _can_fuse(self, spec, only_tiles,
                  kinds: tuple = ("wkb",)) -> bool:
        """Layers with no post_assign hook and no tile restriction take
        a FUSED assign + encode stage (the hook / only_tiles need the
        assigned rows as a DataFrame between the stages): WKB layers
        via the supercover kernel — candidate rows never cross Arrow
        carrying raw WKB; point layers (multi-layer spine only) via the
        in-kernel fan-out — base rows cross Arrow exactly once. The
        single-layer point path stays JVM-assigned: there the fan-out
        feeds the exchange directly with NO map-side Python at all, so
        fusing would add an Arrow crossing instead of removing one."""
        return (spec.geometry_kind in kinds and spec.post_assign is None
                and only_tiles is None)

    def _generate_tiles_at(self, z: int, only_tiles: DataFrame | None) -> DataFrame:
        """Run the layer pipelines for zoom z -> z,x,y,mvt,tile_id for
        every NON-EMPTY tile (optionally restricted to only_tiles)."""
        return self._build_tiles((z, z), only_tiles)

    def _build_tiles(self, zr: tuple[int, int],
                     only_tiles: DataFrame | None) -> DataFrame:
        """All layers -> z,x,y,mvt,tile_id for the zoom range, with ONE
        wide (zxy) shuffle: single-layer builds fuse encode+assemble
        (encode_and_assemble_single); multi-layer builds union per-layer
        NORM_SCHEMA frames map-side and run the single-shuffle assembly
        (assemble_normalized) — the per-layer encode shuffles + blob
        reshuffle of the old two-phase path are gone."""
        if len(self.layer_frames) == 1:
            spec, feats = self.layer_frames[0]
            if self._can_fuse(spec, only_tiles):
                return encode_and_assemble_single(
                    feats, spec, self.cfg.gzip_level, zoom_range=zr)
            assigned = self._assign(feats, spec, *zr)
            if only_tiles is not None:
                assigned = assigned.join(only_tiles, ["z", "x", "y"], "left_semi")
            return encode_and_assemble_single(assigned, spec, self.cfg.gzip_level)
        # all layers share the widest _v column set so the union lines up
        n_vals = max(len(s.attr_fields) for s, _ in self.layer_frames)
        norm = None
        for spec, feats in self.layer_frames:
            if self._can_fuse(spec, only_tiles, kinds=("wkb", "point")):
                nf = normalize_layer_df(feats, spec, zoom_range=zr,
                                        n_vals=n_vals)
            else:
                assigned = self._assign(feats, spec, *zr)
                if only_tiles is not None:
                    assigned = assigned.join(only_tiles, ["z", "x", "y"],
                                             "left_semi")
                nf = normalize_layer_df(assigned, spec, n_vals=n_vals)
            norm = nf if norm is None else norm.unionByName(nf)
        return assemble_normalized(
            norm, [s for s, _ in self.layer_frames], self.cfg.gzip_level)

    def _assign(self, feats: DataFrame, spec, minz: int, maxz: int) -> DataFrame:
        """Tile-assign a layer frame for [minz, maxz]: points via column
        math, WKB geometries via supercover rasterization — candidates
        are the tiles the geometry actually touches (O(path length)),
        not its bbox (O(bbox area)); the exact clip in the MVT kernel
        then drops only the ~2x dilation margin instead of the measured
        95.6% bbox waste (docs/SCALE.md stage 3)."""
        from sparktiles.operators.pyramid import (
            assign_point_tiles_multi,
            assign_supercover_tiles_multi,
        )

        if spec.geometry_kind == "point":
            if minz == maxz:
                out = assign_point_tiles(feats, minz, buffer_px=spec.buffer_px)
            else:
                out = assign_point_tiles_multi(
                    feats, minz, maxz, buffer_px=spec.buffer_px)
        else:
            out = assign_supercover_tiles_multi(
                feats, minz, maxz, buffer_px=spec.buffer_px)
        if spec.post_assign is not None:
            out = spec.post_assign(out)
        return out

    def build_fast(self) -> dict:
        """Two-phase build with identical output to build():

        Phase 1 — ONE wide job: every layer's features are exploded to
        all zooms (assign_point_tiles_multi), grouped once by (z,x,y)
        into MVT blobs, and written partitioned by z to `tiles_all`.
        This replaces per-zoom generation; valid because a tile that the
        impute loop would generate gets exactly the same features either
        way (a feature inside a child's buffered bbox is inside its
        parent's buffered bbox — buffers double in meters per zoom step
        down).

        Phase 2 — bookkeeping only: the tile map (zooms up to the
        pyramid top with their empties, then the reference impute walk),
        tile_images, lineage and per-zoom stats. All of it is a pure
        function of the blob-free index (z, x, y, tile_id) of
        `tiles_all` and the config. The map's row count is known from
        the config (`map_row_count`), and it picks the path:

        - at most LOCAL_PHASE2_ROWS rows: `_finish_local` reads the index
          once and computes the whole map in one numpy pass on the
          driver (`local_tile_map`: O(map + index rows) memory, about
          0.45 GB of driver RSS at the gate); one Spark write each for
          the map and the images, the lineage from the arrays.
        - above it: `_finish_distributed`, the per-zoom Spark walk (one
          job for zooms up to the pyramid top, one per walk zoom, then
          images and lineage over the written map), resumable per zoom.

        The pyramid top is max(minzoom, min(mid_zoom, maxzoom)): the
        first zoom is always generated whole, as in build().
        """
        cfg = self.cfg
        empty_blob = empty_tile_blob(cfg.gzip_level)
        empty_id = hashlib.md5(empty_blob).hexdigest()
        t_start = time.time()

        # ---- phase 1: all non-empty tiles, one shuffle (single- and
        # multi-layer alike: _build_tiles fuses per-layer encode and
        # tile assembly into one (zxy) grouped pass)
        if not (self.store / "tiles_all" / "_SUCCESS").exists():
            tiles = self._build_tiles((cfg.minzoom, cfg.maxzoom), None)
            tiles.write.mode("overwrite").partitionBy("z").parquet(self._tiles_all_path())

        # ---- phase 2: map, images, lineage and per-zoom stats
        top = max(cfg.minzoom, min(cfg.mid_zoom, cfg.maxzoom))
        n_map = map_row_count(cfg.minzoom, top, cfg.maxzoom, cfg.bounds_lonlat)
        finish = self._finish_local if n_map <= LOCAL_PHASE2_ROWS else self._finish_distributed
        zstats = finish(top, empty_id, empty_blob)

        total_tiles = 0
        for z in range(cfg.minzoom, cfg.maxzoom + 1):
            n_, ne_ = zstats.get(z, (0, 0))
            self.metrics.append({"z": z, "n_tiles": n_, "n_nonempty": ne_})
            total_tiles += n_
        self._mark_zooms(self.metrics)

        wall = time.time() - t_start
        summary = {
            "tiles": total_tiles,
            "wall_s": round(wall, 3),
            "tiles_per_s": round(total_tiles / wall, 2) if wall > 0 else None,
            "zooms": self.metrics,
        }
        (self.store / "metrics.json").write_text(json.dumps(summary, indent=1))
        return summary

    def _tiles_all_path(self) -> str:
        return str(self.store / "tiles_all")

    def _tiles_all(self) -> DataFrame:
        """Phase 1's tiles, read with an explicit schema (no inference
        job; a zoom without tiles reads as empty)."""
        path = self._tiles_all_path()
        return (self.spark.read.schema(TILES_SCHEMA).option("basePath", path)
                .parquet(path).select("z", "x", "y", "mvt", "tile_id"))

    def _empty_image(self, empty_id: str, empty_blob: bytes) -> DataFrame:
        # from Arrow: a local relation, so the job that writes it starts
        # no Python worker (a row list would)
        import pyarrow as pa

        return self.spark.createDataFrame(
            pa.table({"tile_id": [empty_id], "tile_data": pa.array([empty_blob], pa.binary())}),
            "tile_id string, tile_data binary")

    def _finish_local(self, top: int, empty_id: str, empty_blob: bytes) -> dict:
        """Phase 2 on the driver: one read of the blob-free index, one
        numpy pass (`local_tile_map`), then one write each for the map
        (all zooms, one file per zoom), the images (a semi-join of
        `tiles_all` on one known position of every used id, so no
        dedup shuffle) and the lineage (computed from the arrays).
        Returns {z: (n_tiles, n_nonempty)}."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        cfg = self.cfg
        index = self._tiles_all().select("z", "x", "y", "tile_id").toArrow()
        enc = index.column("tile_id").combine_chunks().dictionary_encode()
        names, codes = enc.dictionary, enc.indices.to_numpy(zero_copy_only=False)
        empty = pc.index(names, empty_id).as_py()
        if empty < 0:
            names = pa.concat_arrays([names, pa.array([empty_id])])
            empty = len(names) - 1
        iz, ix, iy = (index.column(c).to_numpy() for c in ("z", "x", "y"))
        z, x, y, ids = local_tile_map(iz, ix, iy, codes, cfg.minzoom, top, cfg.maxzoom,
                                      empty, cfg.bounds_lonlat)

        map_root = self._map_root()
        tile_map = pa.table({
            "zoom_level": z.astype(np.int32), "tile_column": x, "tile_row": y,
            "tile_id": names.take(pa.array(ids)),
        })
        # one task: every zoom_level dir gets exactly one file, which the
        # lineage rows below name
        (self.spark.createDataFrame(tile_map, MAP_SCHEMA).coalesce(1).write
         .partitionBy("zoom_level").option("partitionOverwriteMode", "dynamic")
         .option("maxRecordsPerFile", 0).mode("overwrite").parquet(map_root))

        # dictionary codes follow first occurrence, so every index code
        # has a first row; the empty tile gets its own image row
        _, first = np.unique(codes, return_index=True)
        used = np.unique(ids)
        reps = first[used[used != empty]]
        rep_keys = self.spark.createDataFrame(
            pa.table({"z": iz[reps], "x": ix[reps], "y": iy[reps]}), "z int, x long, y long")
        images = (
            self._tiles_all().join(F.broadcast(rep_keys), ["z", "x", "y"], "left_semi")
            .select("tile_id", F.col("mvt").alias("tile_data"))
            .unionByName(self._empty_image(empty_id, empty_blob))
        )
        images.write.mode("overwrite").parquet(str(self.store / "tile_images" / "all"))

        # lineage (LINEAGE_SCHEMA) and stats from the arrays: driver-side
        # metadata, written by the driver like the manifest
        cuts = np.searchsorted(z, np.arange(cfg.minzoom, cfg.maxzoom + 2))
        lineage, zstats = [], {}
        for zz in range(cfg.minzoom, cfg.maxzoom + 1):
            a, b = cuts[zz - cfg.minzoom], cuts[zz - cfg.minzoom + 1]
            if a == b:
                continue
            (part,) = Path(map_root, f"zoom_level={zz}").glob("*.parquet")
            zstats[zz] = (int(b - a), int((ids[a:b] != empty).sum()))
            # partition_file as input_file_name() spells it (no %-escapes)
            lineage.append(dict(zip(LINEAGE_COLUMNS, (
                zz, f"file://{part.resolve()}", *zstats[zz],
                int(x[a:b].min()), int(x[a:b].max()), int(y[a:b].min()), int(y[a:b].max()),
                len(np.unique(ids[a:b]))))))
        lineage_dir = self.store / "lineage"
        shutil.rmtree(lineage_dir, ignore_errors=True)
        lineage_dir.mkdir()
        schema = pa.schema([("zoom_level", pa.int32()), ("partition_file", pa.string())]
                           + [(c, pa.int64()) for c in LINEAGE_COLUMNS[2:]])
        pq.write_table(pa.Table.from_pylist(lineage, schema=schema),
                       str(lineage_dir / "part-00000.parquet"))
        return zstats

    def _finish_distributed(self, top: int, empty_id: str, empty_blob: bytes) -> dict:
        """Phase 2 in Spark, for maps above the local gate:
        (a) zooms [min..top] have no inter-zoom dependency: all their
            map rows (generated + empty-universe) are written in ONE
            job;
        (b) zooms (top..max] run the reference impute walk (children
            of duplicate parents inherit tile_id, the rest generate) —
            inherently sequential, one small-row job per zoom;
        (c) ONE final job materializes tile_images (tiles_all semi-join
            on the tile_ids the map references), one the lineage.
        Each of (a) and every walk zoom is a manifest barrier, so a
        re-run resumes after the last finished zoom. Returns
        {z: (n_tiles, n_nonempty)}."""
        cfg = self.cfg

        def as_map(df):
            return df.select(
                F.col("z").alias("zoom_level"),
                F.col("x").alias("tile_column"),
                F.col("y").alias("tile_row"),
                "tile_id",
            )

        def tiles_range(z0, z1):
            return self._tiles_all().where((F.col("z") >= z0) & (F.col("z") <= z1))

        # ---- (a): zooms [min..top] in ONE job, ONE write — hive-
        # partitioned by zoom_level (dynamic overwrite touches only the
        # partitions written; rows are never written twice)
        if not all(self._zoom_done(z) for z in range(cfg.minzoom, top + 1)):
            low = tiles_range(cfg.minzoom, top)
            universe = tile_pyramid(self.spark, cfg.minzoom, top, cfg.bounds_lonlat)
            empties = universe.join(
                low.select("z", "x", "y"), ["z", "x", "y"], "left_anti"
            ).select(
                F.col("z").alias("zoom_level"),
                F.col("x").alias("tile_column"),
                F.col("y").alias("tile_row"),
                F.lit(empty_id).alias("tile_id"),
            )
            low_map = as_map(low).unionByName(empties)
            (low_map.write.partitionBy("zoom_level")
             .option("partitionOverwriteMode", "dynamic")
             .mode("overwrite").parquet(self._map_root()))
            self._mark_zooms([{"z": z} for z in range(cfg.minzoom, top + 1)])

        # ---- (b): impute walk for zooms (top..max]
        for z in range(top + 1, cfg.maxzoom + 1):
            if self._zoom_done(z):
                continue
            parents = self.read_tile_map(z - 1)
            dups = dup_tile_ids(parents, z - 1)
            imputed, gen_list = impute_children(parents, dups)
            tiles = tiles_range(z, z)
            gen_map = as_map(tiles).join(
                gen_list.select(
                    F.col("z").alias("zoom_level"),
                    F.col("x").alias("tile_column"),
                    F.col("y").alias("tile_row"),
                ),
                ["zoom_level", "tile_column", "tile_row"],
                "left_semi",
            )
            gen_empties = gen_list.join(
                tiles.select("z", "x", "y"), ["z", "x", "y"], "left_anti"
            ).select(
                F.col("z").alias("zoom_level"),
                F.col("x").alias("tile_column"),
                F.col("y").alias("tile_row"),
                F.lit(empty_id).alias("tile_id"),
            )
            map_rows = imputed.unionByName(gen_map).unionByName(gen_empties)
            self._write_zoom_map(map_rows, z)
            self._mark_zooms([{"z": z}])

        # ---- (c): images + per-zoom stats, one job each
        all_map = self.read_tile_map()
        used_ids = all_map.select("tile_id").distinct()
        images = (
            tiles_range(cfg.minzoom, cfg.maxzoom)
            .select("tile_id", F.col("mvt").alias("tile_data"))
            .join(used_ids, "tile_id", "left_semi")
            .dropDuplicates(["tile_id"])
            .unionByName(self._empty_image(empty_id, empty_blob))
        )
        images.write.mode("overwrite").parquet(str(self.store / "tile_images" / "all"))
        # per-partition lineage: one row per output file per zoom with
        # row counts + tile-coordinate extents (north_rule: lineage +
        # metrics tables enabling checkpoint resume / audit). The
        # per-zoom stats are rolled up FROM the lineage rows (a handful
        # per zoom) — one full map scan instead of two.
        lineage = all_map.withColumn("_file", F.input_file_name()).groupBy(
            "zoom_level", "_file"
        ).agg(
            F.count("*").alias("n_rows"),
            F.sum((F.col("tile_id") != empty_id).cast("long")).alias("n_nonempty"),
            F.min("tile_column").alias("min_x"), F.max("tile_column").alias("max_x"),
            F.min("tile_row").alias("min_y"), F.max("tile_row").alias("max_y"),
            F.countDistinct("tile_id").alias("n_distinct_ids"),
        ).withColumnRenamed("_file", "partition_file")
        lineage.write.mode("overwrite").parquet(str(self.store / "lineage"))
        zstats = {}
        for r in self.read_lineage().collect():
            n_, ne_ = zstats.get(int(r.zoom_level), (0, 0))
            zstats[int(r.zoom_level)] = (n_ + int(r.n_rows), ne_ + int(r.n_nonempty))
        return zstats

    def build(self) -> dict:
        """Run the full z loop; returns summary metrics."""
        cfg = self.cfg
        empty_blob = empty_tile_blob(cfg.gzip_level)
        empty_id = hashlib.md5(empty_blob).hexdigest()
        t_start = time.time()
        total_tiles = 0

        for z in range(cfg.minzoom, cfg.maxzoom + 1):
            if self._zoom_done(z):
                continue
            t0 = time.time()
            if z <= cfg.mid_zoom or z == cfg.minzoom:
                # pyramid scheme: every tile of the zoom
                universe = tile_pyramid(self.spark, z, z, cfg.bounds_lonlat)
                # persisted: the zoom's tiles feed THREE consumers (map
                # rows, empties anti-join, images) — without it the
                # whole encode pipeline re-runs per consumer
                tiles = self._generate_tiles_at(z, None).persist()
                gen_map = tiles.select(
                    F.col("z").alias("zoom_level"),
                    F.col("x").alias("tile_column"),
                    F.col("y").alias("tile_row"),
                    "tile_id",
                )
                empties = universe.join(
                    tiles.select("z", "x", "y"), ["z", "x", "y"], "left_anti"
                ).select(
                    F.col("z").alias("zoom_level"),
                    F.col("x").alias("tile_column"),
                    F.col("y").alias("tile_row"),
                    F.lit(empty_id).alias("tile_id"),
                )
                map_rows = gen_map.unionByName(empties)
                n_gen_listed = None
            else:
                parents = self.read_tile_map(z - 1)
                dups = dup_tile_ids(parents, z - 1)
                imputed, gen_list = impute_children(parents, dups)
                gen_list = gen_list.cache()
                n_gen_listed = gen_list.count()
                tiles = self._generate_tiles_at(z, gen_list).persist()
                gen_map = tiles.select(
                    F.col("z").alias("zoom_level"),
                    F.col("x").alias("tile_column"),
                    F.col("y").alias("tile_row"),
                    "tile_id",
                )
                gen_empties = gen_list.join(
                    tiles.select("z", "x", "y"), ["z", "x", "y"], "left_anti"
                ).select(
                    F.col("z").alias("zoom_level"),
                    F.col("x").alias("tile_column"),
                    F.col("y").alias("tile_row"),
                    F.lit(empty_id).alias("tile_id"),
                )
                map_rows = imputed.unionByName(gen_map).unionByName(gen_empties)

            # checkpoint barrier: persist this zoom (AQE coalesces output
            # partitions; at cluster scale this is an Iceberg snapshot)
            self._write_zoom_map(map_rows, z)
            images = tiles.select("tile_id", F.col("mvt").alias("tile_data")) \
                .dropDuplicates(["tile_id"])
            images = images.unionByName(
                self.spark.createDataFrame(
                    [(empty_id, bytearray(empty_blob))], "tile_id string, tile_data binary"
                )
            )
            images.write.mode("overwrite").parquet(self._img_path(z))
            tiles.unpersist()
            if n_gen_listed is not None:
                gen_list.unpersist()

            persisted = self.read_tile_map(z)
            n_tiles = persisted.count()
            stats = {
                "z": z,
                "n_tiles": n_tiles,
                "n_nonempty": persisted.where(F.col("tile_id") != empty_id).count(),
                "wall_s": round(time.time() - t0, 3),
            }
            if n_gen_listed is not None:
                # impute savings (A11): children the walk actually
                # generated vs inherited from duplicate parents
                stats["n_generate_listed"] = n_gen_listed
                stats["n_imputed"] = n_tiles - n_gen_listed
            self.metrics.append(stats)
            self._mark_zooms([stats])
            total_tiles += n_tiles

        wall = time.time() - t_start
        summary = {
            "tiles": total_tiles,
            "wall_s": round(wall, 3),
            "tiles_per_s": round(total_tiles / wall, 2) if wall > 0 else None,
            "zooms": self.metrics,
        }
        (self.store / "metrics.json").write_text(json.dumps(summary, indent=1))
        return summary


def make_point_layer_frames(features: DataFrame, tileset: TilesetDef):
    """Build (LayerSpec, frame) pairs for point layers from a tileset
    definition: compiles each layer's enum field mappings and name
    projections into the feature frame (what layer_to_query +
    FIELD_MAPPING expansion does in the reference, sqltomvt.py:188-224
    + sql.py:252-280)."""
    from sparktiles.functions import scalars as S

    frames = []
    for idx, layer in enumerate(tileset.topo_order()):
        df = features
        attr_fields: dict[str, str] = {}
        for fd in layer.fields:
            e = fd.expr()
            if e is not None:
                df = df.withColumn(fd.name, e)
            attr_fields[fd.name] = fd.mvt_type
        if tileset.languages and "tags" in df.columns:
            for lang in tileset.languages:
                col = f"name:{lang}"
                df = df.withColumn(col, S.tag_field("tags", col))
                attr_fields[col] = "string"
        from sparktiles.plans.config import validate_layer_frame

        validate_layer_frame(df, layer, tileset.languages if "tags" in features.columns else [])
        spec = LayerSpec(
            layer_id=layer.id,
            index=idx,
            attr_fields=attr_fields,
            key_field="feature_id",
            buffer_px=layer.resolved_buffer(tileset),
            geometry_kind=layer.geometry_kind,
            post_assign=layer.transform,
        )
        frames.append((spec, df))
    return frames
