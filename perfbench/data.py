"""Seeded benchmark inputs and the Spark-free oracles that check outputs.

Every input is a pure function of ``(regime, seed, size)``:

- ``skewed``  — the hot-city mixture of ``sources/synth.py`` (~80 % of
  rows in eight city cells, ~20 % uniform world);
- ``uniform`` — world-uniform points from a seeded numpy generator.

The point table is written once per key to parquet under the cache
directory and reused by later runs with the same key; generation and
every oracle run outside the timers.  The oracles never touch Spark:
polygon membership comes from ``geo/pip.points_in_polygon``, distances
from ``geo/mercator.distance`` and tiles from ``geo/tile.from_xyz``.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd

from geodesk_spark.geo import mercator, pip, tile as T
from geodesk_spark.sources import synth

REGIMES = ("skewed", "uniform")

# Disjoint id ranges per input role, so a seed's tables never share ids.
_QUERY_ID0 = 1 << 40
_INGEST_ID0 = 1 << 41

_CACHE_KEEP = 6  # cached point tables kept on disk (least recently used go)
_FILES = 8  # parquet files per point table
_CHUNK = 65536  # points per ray-cast batch in the oracle


def lonlat(regime: str, ids: np.ndarray, seed: int) -> tuple[np.ndarray, np.ndarray]:
    if regime == "skewed":
        return synth.lonlat_for_ids(ids, seed=seed)
    if regime == "uniform":
        rng = np.random.default_rng([seed, int(ids[0]) if len(ids) else 0, len(ids)])
        return rng.uniform(-180.0, 180.0, len(ids)), rng.uniform(-85.0, 85.0, len(ids))
    raise ValueError(f"unknown regime {regime!r}")


def image_ids(ids: np.ndarray) -> np.ndarray:
    return np.char.add("img", np.char.zfill(ids.astype("U20"), 12)).astype(object)


def imp_xy(lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    return (
        mercator.x_from_lon(lon).astype(np.int64),
        mercator.y_from_lat(lat).astype(np.int64),
    )


def point_table(cache_dir: str, regime: str, seed: int, n: int) -> str:
    """Parquet point table (image_id, lon, lat, phash) for the key; returns
    its directory.  Written atomically so a killed run leaves no half table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(cache_dir, f"points-{regime}-{seed}-{n}")
    if os.path.isdir(path):
        os.utime(path)
        return path
    os.makedirs(cache_dir, exist_ok=True)
    _evict(cache_dir)
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    ids = np.arange(n, dtype=np.int64)
    lon, lat = lonlat(regime, ids, seed)
    table = pa.table(
        {
            "image_id": image_ids(ids),
            "lon": lon,
            "lat": lat,
            "phash": synth._splitmix64(ids.astype(np.uint64)).astype(np.int64),
        }
    )
    step = -(-n // _FILES)
    for k in range(_FILES):
        pq.write_table(table.slice(k * step, step), os.path.join(tmp, f"part-{k:03d}.parquet"))
    os.replace(tmp, path)
    return path


def _evict(cache_dir: str):
    entries = [
        os.path.join(cache_dir, d) for d in os.listdir(cache_dir) if d.startswith("points-")
    ]
    entries.sort(key=os.path.getmtime)
    for d in entries[: max(len(entries) - _CACHE_KEEP + 1, 0)]:
        shutil.rmtree(d, ignore_errors=True)


def points_xy(regime: str, seed: int, n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(ids, x, y) of the point table, regenerated from the seed."""
    ids = np.arange(n, dtype=np.int64)
    x, y = imp_xy(*lonlat(regime, ids, seed))
    return ids, x, y


def knn_queries(regime: str, seed: int, n: int) -> list[tuple[str, int, int]]:
    """Query points: half drawn from the regime's own distribution (dense
    where the data is dense), half world-uniform (sparse background)."""
    ids = np.arange(_QUERY_ID0, _QUERY_ID0 + n, dtype=np.int64)
    lon, lat = lonlat(regime, ids, seed + 1)
    rng = np.random.default_rng([seed, 7])
    half = n // 2
    lon[half:] = rng.uniform(-180.0, 180.0, n - half)
    lat[half:] = rng.uniform(-85.0, 85.0, n - half)
    x, y = imp_xy(lon, lat)
    return [(f"q{i:04d}", int(x[i]), int(y[i])) for i in range(n)]


def ingest_batch(regime: str, seed: int, batch: int, size: int) -> pd.DataFrame:
    ids = np.arange(_INGEST_ID0 + batch * size, _INGEST_ID0 + (batch + 1) * size, dtype=np.int64)
    lon, lat = lonlat(regime, ids, seed + 2)
    return pd.DataFrame({"image_id": image_ids(ids), "lon": lon, "lat": lat})


def edited_layer(layer: list[dict], batch: int) -> list[dict]:
    """The layer with one polygon's shell re-started at another vertex.

    The edit changes the ring bytes, so the engine's band cache misses,
    but not the geometry: the segment set is the same, so membership —
    and therefore the oracle — is unchanged."""
    out = [dict(p) for p in layer]
    k = batch % len(out)
    rings = pip.unpack_rings(out[k]["rings"])
    shell = rings[0][:-1]
    shift = 1 + batch // len(out) % (len(shell) - 1)
    shell = np.roll(shell, -shift, axis=0)
    rings[0] = np.vstack([shell, shell[:1]])
    out[k]["rings"] = pip.pack_rings(rings)
    return out


# --------------------------------------------------------------------------
# Oracles
# --------------------------------------------------------------------------

def polygon_counts(layer: list[dict], x: np.ndarray, y: np.ndarray) -> dict:
    """Per-polygon point counts by the scalar reference kernel (bbox
    prefilter, then ``pip.points_in_polygon``).  Polygons with no match
    are left out, as a grouped rollup leaves them out."""
    out = {}
    for p in layer:
        rings = pip.unpack_rings(p["rings"])
        sel = np.nonzero(
            (x >= p["minx"]) & (x <= p["maxx"]) & (y >= p["miny"]) & (y <= p["maxy"])
        )[0]
        n = 0
        for s in range(0, len(sel), _CHUNK):
            part = sel[s : s + _CHUNK]
            n += int(pip.points_in_polygon(x[part].astype(np.float64), y[part].astype(np.float64), rings).sum())
        if n:
            out[p["poly_id"]] = n
    return out


def knn_truth(
    ids: np.ndarray, x: np.ndarray, y: np.ndarray, queries, k: int
) -> dict[str, list[tuple[str, float]]]:
    """Brute-force top-k per query by ``mercator.distance`` with the
    engine's (dist, id) tie-break; ids are the zero-padded image ids, so
    their string order equals their integer order."""
    out = {}
    for qid, qx, qy in queries:
        d = mercator.distance(x, y, np.float64(qx), np.float64(qy))
        kth = d[np.argpartition(d, k - 1)[:k]].max() if len(d) > k else d.max()
        near = np.nonzero(d <= kth)[0]
        best = near[np.lexsort((ids[near], d[near]))[:k]]
        out[qid] = list(zip(image_ids(ids[best]).tolist(), d[best].tolist()))
    return out


def tile_counts(x: np.ndarray, y: np.ndarray, zoom: int, tiles) -> dict[int, int]:
    t = T.from_xyz(x, y, zoom).astype(np.int64)
    want = np.asarray(sorted(tiles), dtype=np.int64)
    hit = np.isin(t, want)
    u, c = np.unique(t[hit], return_counts=True)
    return dict(zip(u.tolist(), c.tolist()))
