"""One codec path: every ``decode_tiles`` / ``encode_tiles`` mode runs as
one ``mapInArrow`` over the batch kernel (kernels/mvt_batch.py), and its
rows equal an independent per-tile decode through kernels/mvt.py.

Corpus: the hand-authored wire goldens, every class of the invalid-tile
corpus, and single-feature tiles with and without a Feature.Raster
(tag 5) payload. Lenient error messages come from the batch kernel and
are compared by presence only; strict (``validate=True``) messages must
be the per-tile checks' exact strings.
"""

import json
from itertools import product

import numpy as np
import pytest

from mvtspark.kernels import geom, mvt
from mvtspark.sources.invalid_corpus import INVALID_CLASSES
from tests.test_wire_goldens import (
    GOLDEN_SINGLE_POINT, GOLDEN_SPEC_ORDER, GOLDEN_TWO_LAYERS,
    GOLDEN_TYPED_VALUES,
)

BASE_COLS = [
    "zoom", "x", "y", "layer", "extent", "feature_id", "geom_type",
    "part_offsets", "xs", "ys", "props", "decode_error",
]
#: typed-union member per value tag (VectorTileReader.cs:166-214)
MEMBERS = ("s", "f", "d", "i", "u", "si", "b")


def _raster_tile(fid: int, with_raster: bool) -> bytes:
    f = mvt.Feature(
        id=fid, geom_type=1,
        geometry=geom.encode_commands(
            np.array([fid]), np.array([fid]), np.array([0, 1]), 1
        ),
        tags=np.array([0, 0], dtype=np.int64),
        raster=(b"RR%d" % fid) * fid if with_raster else None,
    )
    layer = mvt.Layer(name="r", version=2, keys=["k"],
                      values=[(mvt.V_INT, 1)], features=[f])
    return mvt.encode_tile([layer])


CORPUS = (
    [GOLDEN_SINGLE_POINT, GOLDEN_SPEC_ORDER, GOLDEN_TYPED_VALUES,
     GOLDEN_TWO_LAYERS]
    + [INVALID_CLASSES[c][1] for c in sorted(INVALID_CLASSES)]
    + [_raster_tile(i, i % 2 == 1) for i in range(1, 5)]
)


def _oracle(validate, typed_props, raster, layers):
    """Expected rows, built tile by tile from kernels.mvt.decode_tile."""
    rows = []
    for x, blob in enumerate(CORPUS):
        try:
            out = []
            for name, layer in mvt.decode_tile(blob, validate=validate).items():
                if layers is not None and name not in layers:
                    continue
                for f in layer.features:
                    xs, ys, off = geom.decode_commands(f.geometry, f.geom_type)
                    row = [
                        0, x, 0, name, layer.extent, f.id, f.geom_type,
                        off.tolist(), xs.tolist(), ys.tolist(),
                        json.dumps(layer.properties(f), default=str), None,
                    ]
                    if typed_props:
                        pt = []
                        for j in range(0, len(f.tags) - 1, 2):
                            tag, v = layer.values[int(f.tags[j + 1])]
                            member = [None] * len(MEMBERS)
                            member[tag - 1] = v
                            pt.append((layer.keys[int(f.tags[j])], tag, *member))
                        row.append(pt)
                    if raster:
                        row.append(f.raster)
                    out.append(tuple(row))
            rows += out
        except Exception as e:
            err = [0, x, 0] + [None] * 8 + [str(e)]
            rows.append(tuple(err + [None] * (typed_props + raster)))
    return rows


def _engine(df):
    """Collected rows as tuples in the oracle's shape."""
    out = []
    for r in df.collect():
        t = list(r)
        if "props_t" in df.columns:
            i = df.columns.index("props_t")
            t[i] = None if t[i] is None else [tuple(p) for p in t[i]]
        if "raster" in df.columns:
            i = df.columns.index("raster")
            t[i] = None if t[i] is None else bytes(t[i])
        out.append(tuple(t))
    return out


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _errors_only(rows):
    """Lenient messages differ by design: compare which tiles errored."""
    return sorted(
        (repr(r[:11] + r[12:]), r[11] is not None) for r in rows
    )


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.createDataFrame(
        [(0, x, 0, bytearray(b)) for x, b in enumerate(CORPUS)],
        "zoom int, x int, y int, mvt binary",
    )


@pytest.mark.parametrize(
    "validate,typed_props,raster,layers",
    [(*m, lay) for m in product((False, True), repeat=3)
     for lay in (None, frozenset({"layer_name", "r"}))],
)
def test_decode_modes_match_per_tile_oracle(
    corpus_df, validate, typed_props, raster, layers
):
    from mvtspark.sources.tiles import decode_tiles

    df = decode_tiles(corpus_df, validate=validate, typed_props=typed_props,
                      layers=layers, raster=raster)
    assert df.columns == (
        BASE_COLS + ["props_t"] * typed_props + ["raster"] * raster
    )
    plan = _plan(df)
    assert plan.count("MapInArrow") == 1 and "MapInPandas" not in plan
    got = _engine(df)
    want = _oracle(validate, typed_props, raster, layers)
    if validate:
        assert sorted(map(repr, got)) == sorted(map(repr, want))
    else:
        assert _errors_only(got) == _errors_only(want)
    # the corpus exercises what it should: rows, error rows, payloads
    assert any(r[11] is None for r in got) and any(r[11] for r in got)
    if raster:
        assert b"RR3" * 3 in [r[-1] for r in got]


def test_strict_errors_are_the_per_tile_messages(corpus_df):
    from pyspark.sql import functions as F

    from mvtspark.sources.tiles import decode_tiles

    got = dict(
        decode_tiles(corpus_df, validate=True)
        .where(F.col("decode_error").isNotNull())
        .select("x", "decode_error").collect()
    )
    want = {}
    for x, blob in enumerate(CORPUS):
        try:
            mvt.decode_tile(blob, validate=True)
        except Exception as e:
            want[x] = str(e)
    assert got == want and len(want) == len(INVALID_CLASSES) - 1


def test_encode_typed_props_reproduces_golden_bytes(spark):
    """encode_tiles over a ``props_t`` frame (typed 7-way union, one
    mapInArrow) must emit the hand-authored GOLDEN_TYPED_VALUES bytes —
    including the UInt-as-signed and SInt-without-zigzag quirks."""
    from mvtspark.sources.tiles import PROPS_T_FIELD, encode_tiles

    vals = {"s": "x", "f": 1.5, "d": 2.25, "i": -3, "u": -1, "si": 9, "b": True}
    props_t = []
    for tag, (k, v) in enumerate(vals.items(), start=1):
        member = dict.fromkeys(MEMBERS)
        member[k] = v
        props_t.append({"k": k, "tag": tag, **member})
    feats = spark.createDataFrame(
        [(0, 0, 0, 4096, 1, 2, [0, 3], [2, 2, 10], [2, 10, 10], props_t)],
        "zoom int, x int, y int, extent int, feature_id long, geom_type int, "
        "part_offsets array<int>, xs array<long>, ys array<long>, "
        + PROPS_T_FIELD,
    )
    tiles = encode_tiles(feats, layer_name="types")
    plan = _plan(tiles)
    assert plan.count("MapInArrow") == 1 and "MapInPandas" not in plan
    (row,) = tiles.collect()
    assert bytes(row.mvt) == GOLDEN_TYPED_VALUES and row.feature_count == 1


def test_encode_json_props_is_one_arrow_map(spark):
    from mvtspark.sources.tiles import encode_tiles

    feats = spark.createDataFrame(
        [(0, 0, 0, 4096, 123, 1, [0, 1], [25], [17], '{"hello": "world"}')],
        "zoom int, x int, y int, extent int, feature_id long, geom_type int, "
        "part_offsets array<int>, xs array<long>, ys array<long>, props string",
    )
    tiles = encode_tiles(feats, layer_name="layer_name")
    plan = _plan(tiles)
    assert plan.count("MapInArrow") == 1 and "MapInPandas" not in plan
    assert [bytes(r.mvt) for r in tiles.collect()] == [GOLDEN_SINGLE_POINT]
