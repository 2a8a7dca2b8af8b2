"""Spark-layer tests: tile assignment, PIP join, salted agg, flagship
parity, kNN ring join. Cross-checked against the
pure-numpy kernels (the single-process oracle, SURVEY §5)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from mvtspark.kernels.image import synth_latlng
from mvtspark.kernels.proj import lnglat_to_tile
from mvtspark.operators.spatial import assign_tiles, salted_tile_counts, spatial_join_pip
from mvtspark.sources.images import synth_images

N = 400
ZOOM = 8


@pytest.fixture(scope="module")
def images(spark):
    return synth_images(spark, N, with_bytes=False).cache()


def test_synth_images_deterministic_and_distributed(spark, images):
    rows = images.orderBy("image_id").limit(5).collect()
    again = synth_images(spark, N, with_bytes=False).orderBy("image_id").limit(5).collect()
    assert rows == again
    assert images.count() == N


def test_assign_tiles_matches_numpy_oracle(spark, images):
    got = assign_tiles(images, ZOOM).select("image_id", "x", "y", "px", "py").collect()
    ids = np.arange(N)
    lat, lng = synth_latlng(ids)
    tx, ty, px, py = lnglat_to_tile(lng, lat, ZOOM)
    exp = {
        f"img{i:012d}": (int(tx[i]), int(ty[i]), int(round(px[i])), int(round(py[i])))
        for i in ids
    }
    for r in got:
        e = exp[r.image_id]
        assert (r.x, r.y) == e[:2], r.image_id
        # px/py rounding: Spark ROUND is half-up, numpy round() half-even;
        # allow off-by-one only exactly at .5 boundaries
        assert abs(r.px - e[2]) <= 1 and abs(r.py - e[3]) <= 1


def test_spatial_join_pip_full_coverage(spark, images):
    """Every point falls in its own tile's rect ring (boundary counts)."""
    assigned = assign_tiles(images, ZOOM)
    ring_x = F.array(*[F.lit(v).cast("long") for v in (0, 4096, 4096, 0, 0)])
    ring_y = F.array(*[F.lit(v).cast("long") for v in (0, 0, 4096, 4096, 0)])
    polys = (
        assigned.select("zoom", "x", "y").distinct()
        .withColumns({"extent": F.lit(4096), "ring_x": ring_x, "ring_y": ring_y})
    )
    joined = spatial_join_pip(assigned, polys)
    assert joined.count() == N
    assert joined.where(F.col("pip") == 0).count() == 0


def test_spatial_join_pip_subtile_polygon(spark, images):
    """Inset polygon excludes edge points — exact ray-cast semantics."""
    assigned = assign_tiles(images, ZOOM)
    lo, hi = 1024, 3072
    ring_x = F.array(*[F.lit(v).cast("long") for v in (lo, hi, hi, lo, lo)])
    ring_y = F.array(*[F.lit(v).cast("long") for v in (lo, lo, hi, hi, lo)])
    polys = (
        assigned.select("zoom", "x", "y").distinct()
        .withColumns({"extent": F.lit(4096), "ring_x": ring_x, "ring_y": ring_y})
    )
    joined = spatial_join_pip(assigned, polys).select("image_id", "px", "py").collect()
    inside = {r.image_id for r in joined}
    for r in assign_tiles(images, ZOOM).select("image_id", "px", "py").collect():
        expect = (lo <= r.px <= hi) and (lo <= r.py <= hi)
        assert (r.image_id in inside) == expect


def test_spatial_join_pip_rows_mode_matches_broadcast(spark, images):
    """broadcast_dim=False (JVM join + rings-per-row UDF) must agree
    row-for-row with the broadcast-rings path on a mixed dim (some
    full-tile rects, some inset polygons)."""
    assigned = assign_tiles(images, ZOOM)
    lo, hi = 512, 3584
    # inset ring for even x, full ring for odd x
    mk = lambda vals: F.array(*[F.lit(v).cast("long") for v in vals])
    polys = (
        assigned.select("zoom", "x", "y").distinct()
        .withColumns({
            "extent": F.lit(4096),
            "ring_x": F.when(F.col("x") % 2 == 0, mk((lo, hi, hi, lo, lo)))
                       .otherwise(mk((0, 4096, 4096, 0, 0))),
            "ring_y": F.when(F.col("x") % 2 == 0, mk((lo, lo, hi, hi, lo)))
                       .otherwise(mk((0, 0, 4096, 4096, 0))),
        })
    )
    cols = ["image_id", "zoom", "x", "y", "px", "py", "pip"]
    a = sorted(map(tuple, spatial_join_pip(assigned, polys, broadcast_dim=True)
                   .select(*cols).collect()))
    b = sorted(map(tuple, spatial_join_pip(assigned, polys, broadcast_dim=False)
                   .select(*cols).collect()))
    assert a == b
    assert len(a) > 0


def test_point_in_polygon_multi_matches_single():
    """Vectorized multi-ring kernel ≡ per-ring kernel, uniform + ragged."""
    import numpy as np

    from mvtspark.kernels import geom

    rng = np.random.default_rng(7)
    # ring 0: rect (closed); ring 1: triangle (closed) -> ragged sizes
    rects = [
        (np.array([0, 100, 100, 0, 0]), np.array([0, 0, 100, 100, 0])),
        (np.array([10, 90, 50, 10]), np.array([10, 10, 90, 10])),
        (np.array([20, 80, 80, 20, 20]), np.array([20, 20, 80, 80, 20])),
    ]
    for use in ([0, 2], [0, 1, 2]):  # uniform-size path, ragged path
        rings = [rects[i] for i in use]
        offsets = np.r_[0, np.cumsum([r[0].size for r in rings])]
        rxf = np.concatenate([r[0] for r in rings])
        ryf = np.concatenate([r[1] for r in rings])
        n = 500
        px = rng.integers(-10, 110, n)
        py = rng.integers(-10, 110, n)
        ri = rng.integers(0, len(rings), n)
        got = geom.point_in_polygon_multi(px, py, ri, offsets, rxf, ryf)
        for r, (rx, ry) in enumerate(rings):
            sel = ri == r
            exp = geom.point_in_polygon(px[sel], py[sel], rx, ry)
            assert (got[sel] == exp).all(), f"ring {r} (set {use})"


def test_clip_features_boundary_and_noop(spark):
    """clip_features: clip(0) is a no-op on in-bounds geometry (the
    reference Clipping invariant, TestMvtInBulk.cs:183-209); geometry
    crossing the tile edge is clipped hard to [0, extent] (post-clip
    bounds invariant, TestMvtInBulk.cs:246-275)."""
    from mvtspark.sources.tiles import clip_features

    rows = [
        # in-bounds point
        (2, 0, 0, "l", 4096, 1, 1, [0, 1], [100], [200], "{}", None),
        # out-of-bounds point -> dropped at buffer 0
        (2, 0, 0, "l", 4096, 2, 1, [0, 1], [5000], [200], "{}", None),
        # line crossing the right edge -> clipped at x=4096
        (2, 0, 0, "l", 4096, 3, 2, [0, 2], [4000, 5000], [0, 1000], "{}", None),
        # square ring straddling the edge -> clipped to the rect
        (2, 0, 0, "l", 4096, 4, 3, [0, 5],
         [3000, 5000, 5000, 3000, 3000], [1000, 1000, 2000, 2000, 1000],
         "{}", None),
    ]
    schema = (
        "zoom int, x int, y int, layer string, extent int, feature_id long,"
        "geom_type int, part_offsets array<int>, xs array<long>,"
        "ys array<long>, props string, decode_error string"
    )
    df = spark.createDataFrame(rows, schema=schema)
    got = {r.feature_id: r for r in clip_features(df, buffer=0).collect()}
    assert set(got) == {1, 3, 4}  # feature 2 clipped away entirely
    assert (got[1].xs, got[1].ys) == ([100], [200])  # untouched
    assert got[3].xs == [4000, 4096] and got[3].ys == [0, 96]
    assert max(got[4].xs) == 4096 and min(got[4].xs) == 3000
    assert got[4].xs[0] == got[4].xs[-1] and got[4].ys[0] == got[4].ys[-1]
    for fid in (3, 4):
        assert all(0 <= v <= 4096 for v in got[fid].xs + got[fid].ys)


def test_salted_counts_match_plain_groupby(spark, images):
    assigned = assign_tiles(images, ZOOM)
    salted = {
        (r.x, r.y): r.image_count
        for r in salted_tile_counts(assigned, salt_buckets=8).collect()
    }
    plain = {
        (r.x, r.y): r["count"]
        for r in assigned.groupBy("x", "y").count().collect()
    }
    assert salted == plain


def test_flagship_parity(spark):
    from mvtspark.plans.flagship import flagship

    rows = flagship(spark, n_images=300, zoom=8).collect()
    assert len(rows) > 0
    assert all(r.parity_ok for r in rows)
    assert sum(r.image_count for r in rows) == 300


def test_knn_ring_join(spark, images):
    from mvtspark.operators.spatial import knn_ring_join

    sites = spark.createDataFrame(
        [(i, 40.0 + i * 0.3, -74.0 + i * 0.3) for i in range(6)],
        "site_id int, lat double, lng double",
    )
    pts = images.limit(50)
    out = knn_ring_join(pts, sites, k=2, zoom=6, max_radius=4)
    got = out.groupBy("image_id").count().collect()
    # every point that found neighbors has exactly k
    for r in got:
        assert r["count"] == 2
    # oracle: brute force in numpy for a sample
    ids = [r.image_id for r in pts.select("image_id").collect()]
    lat, lng = synth_latlng(np.array([int(i[3:]) for i in ids]))
    site_rows = sites.collect()
    knn = {
        r.image_id: sorted((r.site_id, round(r.dist2, 9)) for r in out.where(F.col("image_id") == r.image_id).collect())
        for r in out.limit(5).collect()
    }
    for img_id, pairs in knn.items():
        i = ids.index(img_id)
        d2 = [(s.site_id, (lat[i] - s.lat) ** 2 + (lng[i] - s.lng) ** 2) for s in site_rows]
        d2.sort(key=lambda t: (t[1], t[0]))
        expect = sorted((sid, round(d, 9)) for sid, d in d2[:2])
        assert [p[0] for p in pairs] == [e[0] for e in expect]


def test_broadcast_rings_rejects_zoom_past_packed_key_range(spark):
    from mvtspark.functions.udfs import broadcast_rings

    ring_x = [0, 10, 10, 0, 0]
    ring_y = [0, 0, 10, 10, 0]
    ok = spark.createDataFrame(
        [(28, (1 << 28) - 1, (1 << 28) - 1, ring_x, ring_y)],
        "zoom int, x long, y long, ring_x array<long>, ring_y array<long>",
    )
    assert broadcast_rings(spark, ok) is not None  # zoom 28 is the last valid level
    bad = spark.createDataFrame(
        [(29, 1 << 28, 1 << 28, ring_x, ring_y)],
        "zoom int, x long, y long, ring_x array<long>, ring_y array<long>",
    )
    with pytest.raises(ValueError, match="zoom <= 28"):
        broadcast_rings(spark, bad)


def test_broadcast_rings_rejects_duplicate_tile_keys(spark):
    """searchsorted resolves ONE ring per packed key; a dim with two
    polygons in one tile must fail loudly instead of nondeterministically
    picking one (unstable argsort) — multi-polygon tiles belong on the
    broadcast_dim=False path."""
    from mvtspark.functions.udfs import broadcast_rings

    ring_x = [0, 10, 10, 0, 0]
    ring_y = [0, 0, 10, 10, 0]
    dup = spark.createDataFrame(
        [(4, 1, 1, ring_x, ring_y), (4, 1, 1, ring_x, ring_y)],
        "zoom int, x long, y long, ring_x array<long>, ring_y array<long>",
    )
    with pytest.raises(ValueError, match="duplicate"):
        broadcast_rings(spark, dup)


def test_connected_components_chain_and_singleton(spark):
    """A~B, B~C must collapse into ONE group labeled min(id); disjoint
    pair D~E stays its own group; chain propagation needs >1 round."""
    from mvtspark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 7), (10, 11)], "doc_a long, doc_b long"
    )
    rows = {r.doc_id: (r.group_id, r.group_size)
            for r in connected_components(edges).collect()}
    assert rows == {
        1: (1, 4), 2: (1, 4), 3: (1, 4), 7: (1, 4),
        10: (10, 2), 11: (10, 2),
    }
