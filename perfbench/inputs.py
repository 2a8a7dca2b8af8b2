"""Seeded benchmark inputs, generated outside every measured pass.

Each generator is a pure function of ``(seed, size)``: the row ids are
offset by ``seed * ID_STRIDE`` and every column is computed from the id
with the program's own pure synthesis functions (``synth_latlng``,
``synth_image``), so the same seed always gives the same inputs. Inputs
are written once per ``(seed, size)`` under the cache directory and read
back by later runs; generation never counts towards any metric.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: id offset per seed; a multiple of 16 so the image shape cycle
#: (``synth_image``: w and h follow ``i % 4`` and ``(i // 4) % 4``)
#: is the same for every seed
ID_STRIDE = 1 << 32
#: files per input table, so a scan splits into several tasks
FILES = 16

_NOUNS = ("cat", "dog", "bridge", "tower", "river", "market", "park", "harbor")


def _publish(tmp: str, final: str) -> str:
    """Atomically move a finished input into place (a killed generator
    leaves only a ``.tmp`` directory behind, never a partial input)."""
    if os.path.exists(final):
        shutil.rmtree(tmp, ignore_errors=True)
    else:
        os.replace(tmp, final)
    return final


def _write(table: pa.Table, tmp: str) -> None:
    """``table`` as ``FILES`` parquet files of consecutive rows."""
    bounds = np.linspace(0, table.num_rows, FILES + 1).astype(np.int64)
    for k in range(FILES):
        pq.write_table(
            table.slice(bounds[k], bounds[k + 1] - bounds[k]),
            os.path.join(tmp, f"part-{k:05d}.parquet"),
        )


def _fresh(path: str) -> str:
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    return tmp


def points(cache: str, seed: int, n: int) -> str:
    """Geotagged points ``(image_id string, caption string, lat, lng)``
    as parquet, clustered by their zoom-10 tile like a table laid out
    ``partitionedBy(bucket(x)) sortedBy(x, y)``: ``FILES`` range
    partitions in tile order, rows sorted inside each. 80% of the points
    fall Zipf-clustered around 16 cities, 20% uniformly."""
    from mvtspark.kernels.image import synth_latlng
    from mvtspark.kernels.proj import lnglat_to_tile

    final = os.path.join(cache, f"points_s{seed}_n{n}")
    if os.path.exists(final):
        return final
    tmp = _fresh(final)
    ids = np.arange(n, dtype=np.int64) + seed * ID_STRIDE
    lat, lng = synth_latlng(ids)
    tx, ty, _, _ = lnglat_to_tile(lng, lat, 10)
    order = np.lexsort((ty, tx))
    ids, lat, lng = ids[order], lat[order], lng[order]
    names = [f"img{i:016d}" for i in ids.tolist()]
    caps = [f"{_NOUNS[i % 8]} {i % 1000}" for i in ids.tolist()]
    table = pa.table(
        {
            "image_id": pa.array(names, pa.string()),
            "caption": pa.array(caps, pa.string()),
            "lat": pa.array(lat, pa.float64()),
            "lng": pa.array(lng, pa.float64()),
        }
    )
    _write(table, tmp)
    return _publish(tmp, final)


def images(cache: str, seed: int, n: int) -> str:
    """Synthetic images ``(image_id, bytes, w, h, fmt)`` as parquet:
    noise content in 16 shapes from 16x16 to 64x64, every third image
    PNG and the rest raw RGB (``synth_image``)."""
    from mvtspark.kernels.image import synth_image

    final = os.path.join(cache, f"images_s{seed}_n{n}")
    if os.path.exists(final):
        return final
    tmp = _fresh(final)
    ids = (np.arange(n, dtype=np.int64) + seed * ID_STRIDE).tolist()
    rows = [synth_image(i) for i in ids]
    table = pa.table(
        {
            "image_id": pa.array([f"img{i:016d}" for i in ids], pa.string()),
            "bytes": pa.array([r[0] for r in rows], pa.binary()),
            "w": pa.array([r[1] for r in rows], pa.int32()),
            "h": pa.array([r[2] for r in rows], pa.int32()),
            "fmt": pa.array([r[3] for r in rows], pa.string()),
        }
    )
    _write(table, tmp)
    return _publish(tmp, final)
