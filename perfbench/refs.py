"""Reference answers that share no code with the engine.

Every check here re-derives the expected output from the seeded inputs
with numpy, pyarrow or DuckDB, then compares. A check returns ``None``
when the output is right and a short reason when it is wrong; the
workloads count a non-``None`` result as a failed operation.
"""

from __future__ import annotations

import json
import os
import re
import struct
from urllib.parse import unquote

import numpy as np
import pyarrow.parquet as pq

EARTH_KM = 6371.0088
CLUSTERS = [(40.71, -74.00), (51.51, -0.13), (35.68, 139.69)]
STOPWORDS = {
    "the", "and", "of", "to", "a", "in", "is", "it", "that", "for",
    "on", "with", "as", "was", "at", "by", "an", "be", "this", "are",
}


# -- generated pages ----------------------------------------------------------


def page_ids(urls) -> np.ndarray:
    """Page id from ``https://host<h>.example/p/<id>``."""
    return np.array([int(u.rsplit("/", 1)[1]) for u in urls], dtype=np.int64)


def golden_text(ids: np.ndarray) -> list[str]:
    return [
        f"Page {i}\nCrawl snapshot {i} geothermal survey block {(i * 13) % 997}."
        for i in ids.tolist()
    ]


def page_latlon(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """True coordinates of generated page ``ids``: 30% in three dense
    clusters (ids ending 0, 1, 2), the rest on a mid-latitude lattice."""
    lat = ((ids * 37 + 11) % 12000) / 100.0 - 60.0
    lon = ((ids * 91 + 17) % 36000) / 100.0 - 180.0
    jlat = ((ids * 7919) % 1000) / 100000.0
    jlon = ((ids * 104729) % 1000) / 100000.0
    for k, (clat, clon) in enumerate(CLUSTERS):
        m = ids % 10 == k
        lat = np.where(m, clat + jlat, lat)
        lon = np.where(m, clon + jlon, lon)
    return lat, lon


# -- grid cells, raster, geometry ---------------------------------------------


def cells(lat: np.ndarray, lon: np.ndarray, res: int) -> np.ndarray:
    """Equal-angle grid cell ids ``"res:ix:iy"``: 2^(res+1) x 2^res
    squares of 180/2^res degrees, clamped at the edges."""
    e = 180.0 / (1 << res)
    ix = np.clip(np.floor((lon + 180.0) / e), 0, (2 << res) - 1).astype(np.int64)
    iy = np.clip(np.floor((lat + 90.0) / e), 0, (1 << res) - 1).astype(np.int64)
    return np.array([f"{res}:{x}:{y}" for x, y in zip(ix.tolist(), iy.tolist())])


def cell_centers(cell_ids) -> tuple[np.ndarray, np.ndarray]:
    parts = np.array([c.split(":") for c in cell_ids], dtype=np.int64)
    e = 180.0 / (1 << parts[:, 0])
    return -90.0 + (parts[:, 2] + 0.5) * e, -180.0 + (parts[:, 1] + 0.5) * e


def raster_value(lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    """The analytic test raster sin(row/7)*cos(col/11) + row*1e-4 on a
    0.5-degree grid from (-60, -180); NaN outside it."""
    row = np.floor((lat + 60.0) / 0.5)
    col = np.floor((lon + 180.0) / 0.5)
    v = np.sin(row / 7.0) * np.cos(col / 11.0) + row * 1e-4
    inside = (row >= 0) & (row < 240) & (col >= 0) & (col < 720)
    return np.where(inside, v, np.nan)


def polygon_rings(wkb: bytes) -> list[np.ndarray]:
    """Rings (n, 2) of (lon, lat) of a little-endian WKB Polygon."""
    order, gtype, nrings = struct.unpack_from("<BII", wkb, 0)
    if order != 1 or gtype != 3:
        raise ValueError("expected a little-endian WKB Polygon")
    off, rings = 9, []
    for _ in range(nrings):
        (n,) = struct.unpack_from("<I", wkb, off)
        off += 4
        rings.append(np.frombuffer(wkb, dtype="<f8", count=2 * n, offset=off).reshape(n, 2))
        off += 16 * n
    return rings


def inside_polygon(lon: np.ndarray, lat: np.ndarray, rings) -> np.ndarray:
    """Even-odd crossing test over every edge of every ring."""
    inside = np.zeros(lon.shape, dtype=bool)
    for ring in rings:
        for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
            if y0 == y1:
                continue
            up = (y0 > lat) != (y1 > lat)
            xcross = x0 + (lat - y0) * (x1 - x0) / (y1 - y0)
            inside ^= up & (lon < xcross)
    return inside


def haversine(lat1, lon1, lat2, lon2) -> np.ndarray:
    p1, p2 = np.radians(lat1), np.radians(lat2)
    a = (np.sin((p2 - p1) / 2) ** 2
         + np.cos(p1) * np.cos(p2) * np.sin(np.radians(lon2 - lon1) / 2) ** 2)
    return 2 * EARTH_KM * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


# -- checks ---------------------------------------------------------------------


def describe(exc: BaseException) -> str:
    """One-line reason for an operation that raised."""
    first = str(exc).strip().splitlines()[:1]
    return f"raised {type(exc).__name__}: {first[0] if first else ''}"[:300]


def diff_sets(name: str, got: set, want: set) -> str | None:
    if got == want:
        return None
    extra, missing = got - want, want - got
    return (f"{name}: {len(extra)} unexpected, {len(missing)} missing "
            f"(e.g. {sorted(extra)[:2]} / {sorted(missing)[:2]})")


def pip_pairs(ids, lat, lon, polys: dict[int, bytes]) -> set:
    """{(point id, polygon id)} of every point inside every polygon."""
    out = set()
    for pid, wkb in polys.items():
        m = inside_polygon(lon, lat, polygon_rings(wkb))
        out.update((int(i), pid) for i in ids[m])
    return out


def distance_pairs(ids, lat, lon, sites, radius_km, margin_km=1e-6):
    """(pairs within radius, pairs too close to the radius to judge)."""
    sure, edge = set(), set()
    for sid, slat, slon in sites:
        d = haversine(lat, lon, slat, slon)
        sure.update((int(i), sid) for i in ids[d <= radius_km - margin_km])
        edge.update((int(i), sid) for i in ids[np.abs(d - radius_km) < margin_km])
    return sure, edge


def knn_rows(qid, qlat, qlon, ids, lat, lon, k) -> tuple[list[tuple], np.ndarray]:
    """(query id, neighbour id, rank) rows of the k nearest points, ties
    broken by id, and their distances in km."""
    d = haversine(qlat, qlon, lat, lon)
    order = np.lexsort((ids, d))[:k]
    return [(qid, int(ids[j]), r + 1) for r, j in enumerate(order)], d[order]


def quality(text: str) -> float:
    """Quality score: length band (500 chars) and stopword share, halved."""
    toks = re.split(r"\s+", text.strip().lower())
    stop = sum(t in STOPWORDS for t in toks) / max(len(toks), 1)
    return round((min(len(text) / 500.0, 1.0) + min(stop * 4.0, 1.0)) / 2.0, 6)


# -- keyed snapshot table -------------------------------------------------------


def _local(path: str) -> str:
    path = unquote(path)
    return path[len("file:"):] if path.startswith("file:") else path


def read_table(root: str) -> tuple[dict, list]:
    """(key -> row, keys seen twice) of the latest committed version, read
    from the commit log's JSON manifest and the parquet files it names,
    minus the (file, row position) delete vectors."""
    log = os.path.join(root, "_log")
    latest = max(n for n in os.listdir(log) if n.startswith("v") and n.endswith(".json"))
    with open(os.path.join(log, latest)) as f:
        m = json.load(f)
    dead: dict[str, set] = {}
    for dv in m["delete_files"]:
        t = pq.read_table(_local(dv))
        for file, pos in zip(t.column("_gc_file").to_pylist(), t.column("_gc_pos").to_pylist()):
            dead.setdefault(_local(file), set()).add(pos)
    rows: dict = {}
    dup = []
    for path in m["data_files"]:
        local = _local(path)
        gone = dead.get(local, ())
        for pos, r in enumerate(pq.read_table(local).to_pylist()):
            if pos in gone:
                continue
            if r["key"] in rows:
                dup.append(r["key"])
            rows[r["key"]] = r
    return rows, dup


def table_matches(root: str, model: dict) -> str | None:
    got, dup = read_table(root)
    if dup:
        return f"duplicate live keys {dup[:3]}"
    if got.keys() != model.keys():
        return diff_sets("table keys", set(got), set(model))
    bad = [k for k, r in model.items() if got[k] != r]
    return f"{len(bad)} rows differ, e.g. key {bad[0]}" if bad else None
