"""The benchmark workloads.

Each workload drives the program only through its public APIs
(``operators.spatial``, ``functions.udfs``, ``sources.tiles``,
``operators.multimodal``) and exposes:

- ``setup(spark, tr)``: load the input and build what the pass needs
  (tile catalog and its broadcast); returns the set-up checks;
- ``run()``: one measured pass, ending in collected results; returns a
  :class:`PassOut` with its checks;
- ``cuts()``: the pass cut into layers for the traced run. Each cut is
  one action ending in a ``noop`` sink (or the pass's own final action);
  a layer's time is its cut's time minus the time of the cut it extends
  (``base``), because every action recomputes its whole lineage;
- ``kernels(tr)``: the Spark-free kernel timing over the same batches,
  collected once and timed in-process.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import numpy as np

from . import inputs

#: rows per Arrow batch, as set by ``mvtspark.session.get_spark``
BATCH_ROWS = 10_000
#: input sizes; part of the benchmark's definition. NORTHSTAR_POINTS
#: keeps the zoom-10 catalog above ``rect_native_max`` (65536 rings), so
#: its PIP stays on the Python ray-cast path
NORTHSTAR_POINTS = 500_000
FLAGSHIP_POINTS = 20_000
FLAGSHIP_IMAGES = 500
#: the columns the PIP refinement reads. Each cut projects onto what the
#: next layer consumes, so a ``noop`` sink costs what the full job's
#: pruned plan costs at that point.
PIP_INPUT = ("px", "py", "zoom", "x", "y")


@dataclass
class PassOut:
    checks: dict[str, bool]
    stats: dict[str, float] = field(default_factory=dict)


@dataclass
class Cut:
    layer: str
    action: object
    base: str | None = None


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path) if f.endswith(".parquet")
    )


def _tile_catalog(pts, zoom: int):
    """The tile-polygon dimension: one closed square ring per tile that
    holds at least one point, as a production tile catalog would be."""
    from pyspark.sql import functions as F

    from mvtspark.operators.spatial import assign_tiles

    ext = 4096
    ring_x = F.array(*[F.lit(v).cast("long") for v in (0, ext, ext, 0, 0)])
    ring_y = F.array(*[F.lit(v).cast("long") for v in (0, 0, ext, ext, 0)])
    return (
        assign_tiles(pts, zoom=zoom).select("zoom", "x", "y").distinct()
        .withColumns({"extent": F.lit(ext), "ring_x": ring_x, "ring_y": ring_y})
    )


class _PointsJob:
    """Shared by the point pipelines: points parquet -> tile catalog at
    ``zoom`` -> broadcast rings -> ``spatial_join_pip``."""

    name = ""
    zoom = 0
    columns: tuple[str, ...] = ()
    n_points = 0
    #: the ``broadcast_rings`` path the catalog must take at this zoom
    kind = ""
    #: the pass ends in the salted tile count (aggregation-shape metrics)
    salted = False

    def __init__(self, work, seed):
        """Generate (or reuse) the seeded inputs under ``work/inputs``."""
        self.cache = os.path.join(work, "inputs")
        self.path = inputs.points(self.cache, seed, self.n_points)
        # every parquet byte the pass scans (the ``mb_per_s`` numerator)
        self.input_bytes = _dir_bytes(self.path)
        self.spark = self.catalog = self.rings = None

    def setup(self, spark, tr) -> dict[str, bool]:
        from mvtspark.functions.udfs import broadcast_rings

        self.spark = spark
        with tr.span("sources.load"):
            self.pts = spark.read.parquet(self.path).select(*self.columns)
        with tr.span("functions.udfs.broadcast_rings"):
            self.catalog = _tile_catalog(self.pts, self.zoom).cache()
            self.n_tiles = self.catalog.count()
            self.rings = broadcast_rings(spark, self.catalog)
        return {"catalog_kind": self.rings.kind == self.kind}

    def release(self) -> None:
        """Drop what ``setup`` built, so the next set-up starts clean."""
        if self.catalog is not None:
            self.catalog.unpersist(blocking=True)
            self.rings.bcast.unpersist(blocking=True)
            self.catalog = self.rings = None

    def assigned(self):
        from mvtspark.operators.spatial import assign_tiles

        return assign_tiles(self.pts, zoom=self.zoom)

    def joined(self):
        from mvtspark.operators.spatial import spatial_join_pip

        return spatial_join_pip(
            self.assigned(), self.catalog, rings=self.rings,
            attach_payload=False,
        )


class NorthstarZ10(_PointsJob):
    name = "northstar_z10"
    salted = True
    zoom = 10
    columns = ("lat", "lng")
    n_points = NORTHSTAR_POINTS
    kind = "generic"

    def _final(self):
        from pyspark.sql import functions as F

        from mvtspark.operators.spatial import salted_tile_counts

        counts = salted_tile_counts(self.joined(), salt_buckets=16)
        return counts.agg(
            F.sum("image_count").alias("rows"),
            F.count(F.lit(1)).alias("tiles"),
        ).collect()[0]

    def run(self) -> PassOut:
        r = self._final()
        rows, tiles = int(r.rows or 0), int(r.tiles)
        return PassOut(
            {"rows_conserved": rows == self.n_points,
             "tiles_match_catalog": tiles == self.n_tiles},
            {"tiles": tiles, "pip_keep_ratio": rows / self.n_points},
        )

    def cuts(self) -> list[Cut]:
        return [
            Cut("sources.scan", lambda: _noop(self.pts)),
            Cut("operators.spatial.assign_tiles",
                lambda: _noop(self.assigned().select(*PIP_INPUT)),
                "sources.scan"),
            Cut("operators.spatial.spatial_join_pip",
                lambda: _noop(self.joined().select("zoom", "x", "y")),
                "operators.spatial.assign_tiles"),
            Cut("operators.spatial.salted_tile_counts", self._final,
                "operators.spatial.spatial_join_pip"),
        ]

    def kernels(self, tr) -> None:
        """Replays ``pip_contains_bcast``'s batch body: ring lookup by
        packed key, then ``point_in_polygon_multi`` on the hits."""
        from mvtspark.kernels.geom import point_in_polygon_multi

        tbl = self.assigned().select("px", "py", "zoom", "x", "y").toArrow()
        cols = [tbl.column(c).to_numpy().astype(np.int64)
                for c in ("px", "py", "zoom", "x", "y")]
        sorted_keys, perm, offsets, rx, ry = self.rings.value
        for s in range(0, tbl.num_rows, BATCH_ROWS):
            px, py, z, x, y = (c[s:s + BATCH_ROWS] for c in cols)
            with tr.span("functions.udfs.pip_contains_bcast"):
                keys = (z << 58) | (x << 29) | y
                pos = np.searchsorted(sorted_keys, keys)
                pos[pos >= sorted_keys.size] = 0
                hi = np.flatnonzero(sorted_keys[pos] == keys)
                with tr.span("kernels.geom.point_in_polygon_multi"):
                    point_in_polygon_multi(
                        px[hi], py[hi], perm[pos[hi]], offsets, rx, ry
                    )


class FlagshipZ8(_PointsJob):
    """The flagship pipeline over geotagged images: the points go to
    zoom-8 tiles, MVT encode, a parquet write, decode-back and parity;
    the image payloads go through the MRJ transcode and its PSNR check.
    Each of the pass's three actions ends its own chain of cuts."""

    name = "flagship_z8"
    zoom = 8
    columns = ("image_id", "caption", "lat", "lng")
    n_points = FLAGSHIP_POINTS
    n_images = FLAGSHIP_IMAGES
    kind = "rect"

    def __init__(self, work, seed):
        super().__init__(work, seed)
        self.tiles_path = os.path.join(work, f"flagship_tiles-{os.getpid()}")
        self.images_path = inputs.images(self.cache, seed, self.n_images)
        self.input_bytes += _dir_bytes(self.images_path)

    def setup(self, spark, tr) -> dict[str, bool]:
        checks = super().setup(spark, tr)
        with tr.span("sources.load"):
            self.images = spark.read.parquet(self.images_path)
        return checks

    def features(self):
        from pyspark.sql import functions as F

        return self.joined().select(
            "zoom", "x", "y", F.lit(4096).alias("extent"),
            F.xxhash64("image_id").bitwiseAND(F.lit((1 << 62) - 1))
            .alias("feature_id"),
            F.lit(1).alias("geom_type"),
            F.array(F.lit(0), F.lit(1)).cast("array<int>").alias("part_offsets"),
            F.array(F.col("px")).alias("xs"),
            F.array(F.col("py")).alias("ys"),
            F.to_json(F.struct("caption")).alias("props"),
        )

    def _write(self) -> None:
        from mvtspark.sources.tiles import encode_tiles

        encode_tiles(self.features(), layer_name="images").write.mode(
            "overwrite"
        ).parquet(self.tiles_path)

    def _decoded(self):
        from mvtspark.sources.tiles import decode_tiles

        back = self.spark.read.parquet(self.tiles_path)
        return back, decode_tiles(back.select("zoom", "x", "y", "mvt"))

    def _parity(self):
        """Decode the written tiles back and compare each tile's encoded
        ``feature_count`` with the features its blob decodes to."""
        from pyspark.sql import functions as F

        back, dec = self._decoded()
        per_tile = dec.groupBy("zoom", "x", "y").agg(
            F.count("feature_id").alias("n_dec"),
            F.count("decode_error").alias("n_err"),
        )
        j = back.select("zoom", "x", "y", "feature_count").join(
            per_tile, ["zoom", "x", "y"], "full"
        )
        return j.agg(
            F.count(F.lit(1)).alias("tiles"),
            F.sum("feature_count").alias("features"),
            F.sum("n_dec").alias("decoded"),
            F.sum("n_err").alias("errors"),
            F.sum(
                F.coalesce(F.col("feature_count") != F.col("n_dec"), F.lit(True))
                .cast("long")
            ).alias("mismatched"),
            F.max("feature_count").alias("max_tile"),
        ).collect()[0]

    def _transcoded(self):
        from mvtspark.operators.multimodal import transcode_images_mrj

        return transcode_images_mrj(self.images)

    def _psnr(self):
        from pyspark.sql import functions as F

        return self._transcoded().agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("psnr_x100") >= 4000).cast("long")).alias("ok"),
            F.count("error").alias("errors"),
        ).collect()[0]

    def run(self) -> PassOut:
        self._write()
        r = self._parity()
        feats = int(r.features or 0)
        im = self._psnr()
        return PassOut(
            {"no_decode_errors": int(r.errors or 0) == 0,
             "tile_feature_parity": int(r.mismatched or 0) == 0,
             "rows_conserved": feats == self.n_points,
             "all_images": int(im.n) == self.n_images,
             "psnr_40db": int(im.ok or 0) == self.n_images,
             "no_transcode_errors": int(im.errors) == 0},
            {"tiles": int(r.tiles), "features": feats,
             "pip_keep_ratio": feats / self.n_points,
             "max_tile_features": int(r.max_tile or 0)},
        )

    def release(self) -> None:
        super().release()
        shutil.rmtree(self.tiles_path, ignore_errors=True)

    def cuts(self) -> list[Cut]:
        return [
            Cut("sources.scan", lambda: _noop(self.pts)),
            Cut("operators.spatial.assign_tiles",
                lambda: _noop(self.assigned().select(
                    *PIP_INPUT, "image_id", "caption")),
                "sources.scan"),
            Cut("operators.spatial.spatial_join_pip",
                lambda: _noop(self.features()),
                "operators.spatial.assign_tiles"),
            Cut("sources.tiles.encode_tiles", self._write,
                "operators.spatial.spatial_join_pip"),
            Cut("sources.tiles.decode_tiles",
                lambda: _noop(self._decoded()[1])),
            Cut("check.tile_parity", self._parity, "sources.tiles.decode_tiles"),
            Cut("sources.image_scan", lambda: _noop(self.images)),
            Cut("operators.multimodal.transcode_images_mrj",
                lambda: _noop(self._transcoded()), "sources.image_scan"),
            Cut("check.psnr", self._psnr,
                "operators.multimodal.transcode_images_mrj"),
        ]

    def kernels(self, tr) -> None:
        """Encode replay over the features sorted by tile, cut into
        Arrow-batch-sized chunks at tile boundaries; decode replay over
        the written tiles; transcode replay per Spark-partition-sized
        chunk of images, grouped by shape like the operator does."""
        import pyarrow.parquet as pq

        from mvtspark.kernels.image import decode_image, mrj_roundtrip_batch
        from mvtspark.kernels.mvt_batch import (
            decode_tile_rows, encode_tile_rows_flat,
        )

        tbl = self.features().toArrow().sort_by(
            [("zoom", "ascending"), ("x", "ascending"), ("y", "ascending"),
             ("feature_id", "ascending")]
        )
        z, x, y = (tbl.column(c).to_numpy() for c in ("zoom", "x", "y"))
        n = tbl.num_rows
        change = np.ones(n, dtype=bool)
        change[1:] = (z[1:] != z[:-1]) | (x[1:] != x[:-1]) | (y[1:] != y[:-1])
        starts = np.append(np.flatnonzero(change), n)
        lo = 0
        while lo < n:
            hi = int(starts[np.searchsorted(starts, lo + BATCH_ROWS)]) \
                if lo + BATCH_ROWS < n else n
            chunk = tbl.slice(lo, hi - lo).combine_chunks()
            with tr.span("sources.tiles.encode_batch"):
                args = _flat_encode_args(chunk)
                with tr.span("kernels.mvt_batch.encode_tile_rows_flat"):
                    encode_tile_rows_flat(*args[:-1], "images", args[-1])
            lo = hi
        blobs = pq.read_table(self.tiles_path, columns=["mvt"]).column("mvt")
        blobs = blobs.to_pylist()
        for s in range(0, len(blobs), BATCH_ROWS):
            with tr.span("kernels.mvt_batch.decode_tile_rows"):
                decode_tile_rows(blobs[s:s + BATCH_ROWS], flat=True)

        parts = self.images.rdd.getNumPartitions()
        pdf = self.images.toPandas()
        step = min(BATCH_ROWS, -(-len(pdf) // parts))
        for s in range(0, len(pdf), step):
            chunk = pdf.iloc[s:s + step]
            for (w, h, fmt), pos in chunk.groupby(["w", "h", "fmt"]).indices.items():
                stack = np.stack([
                    decode_image(bytes(b), int(w), int(h), fmt)
                    for b in chunk["bytes"].iloc[pos]
                ])
                with tr.span("kernels.image.mrj_roundtrip_batch"):
                    mrj_roundtrip_batch(stack, 4)


def _flat_encode_args(tbl):
    """The flat columns ``sources.tiles.encode_tiles`` hands the kernel:
    tile bounds, ids, geometry value/offset buffers, props, extents."""
    z, x, y = (tbl.column(c).to_numpy() for c in ("zoom", "x", "y"))
    n = len(z)
    change = np.ones(n, dtype=bool)
    change[1:] = (z[1:] != z[:-1]) | (x[1:] != x[:-1]) | (y[1:] != y[:-1])
    starts = np.flatnonzero(change)
    bounds = np.append(starts, n).astype(np.int64)

    def flat(name):
        arr = tbl.column(name).combine_chunks()
        off = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(arr.value_lengths().to_numpy(zero_copy_only=False), out=off[1:])
        return arr.flatten().to_numpy(zero_copy_only=False), off

    xs, vert_off = flat("xs")
    ys, _ = flat("ys")
    po, po_off = flat("part_offsets")
    return (
        bounds,
        tbl.column("feature_id").to_numpy().astype(np.int64),
        tbl.column("geom_type").to_numpy().astype(np.int64),
        xs, ys, vert_off, po, po_off,
        tbl.column("props").to_pylist(),
        tbl.column("extent").to_numpy()[starts].astype(np.int64),
    )


WORKLOADS = {w.name: w for w in (NorthstarZ10, FlagshipZ8)}

#: kernel span -> the layer whose time it is compared with
KERNEL_OF = {
    "kernels.geom.point_in_polygon_multi": "operators.spatial.spatial_join_pip",
    "kernels.mvt_batch.encode_tile_rows_flat": "sources.tiles.encode_tiles",
    "kernels.mvt_batch.decode_tile_rows": "sources.tiles.decode_tiles",
    "kernels.image.mrj_roundtrip_batch": "operators.multimodal.transcode_images_mrj",
}
