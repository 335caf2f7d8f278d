"""Spatial joins: point-in-polygon, distance theta-join, buffer anti-join.

The reference expresses every spatial association either as an equi-join on
the H3 cell string (G9 — /root/reference/modeling/datasets/build.py:95-109)
or as an un-keyed cross-join filtered by ST_DWITHIN (J4 —
build.py:170-176, the "bad_train" buffer). The second form is a full
cartesian product at scale; this module replaces it with the cell-bucketed
plan (cover cells -> equi-join -> exact refine) that stays shuffle-bounded:

  candidate generation:  O(points + layer_cover_cells)  [equi-join shuffle]
  refine:                O(candidate pairs)             [codegen'd filter]

At 100 TB the equi-join on cell ids is an AQE-planned shuffle join whose
key cardinality (#cells) is controllable via resolution; nothing ever
materializes |points| x |polygons|.
"""

from __future__ import annotations

from collections import OrderedDict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geocore_spark.functions import tiling as tl
from geocore_spark.functions.geodesy import haversine_km
from geocore_spark.geometry import pip as pip_mod
from geocore_spark.geometry import wkb as wkb_mod


# ---------------------------------------------------------------------------
# Point-in-rectangle join (broadcast; exact, SQL-expressible)
# ---------------------------------------------------------------------------


def pip_rect_join(
    points: DataFrame,
    rects: DataFrame,
    lat: str = "lat",
    lon: str = "lon",
    how: str = "inner",
) -> DataFrame:
    """Join points to axis-aligned rectangles they fall inside.

    Rectangle layers are small dims -> broadcast nested-loop with a
    codegen'd range predicate; Catalyst turns this into
    BroadcastNestedLoopJoin with no shuffle of the big side at all.
    """
    cond = (
        (points[lat] >= rects["lat_min"])
        & (points[lat] < rects["lat_max"])
        & (points[lon] >= rects["lon_min"])
        & (points[lon] < rects["lon_max"])
    )
    return points.join(F.broadcast(rects), cond, how)


# ---------------------------------------------------------------------------
# Point-in-polygon join (cell cover + exact WKB refine)
# ---------------------------------------------------------------------------


def _segments_cross_cells(
    ring: np.ndarray, cx: np.ndarray, cy: np.ndarray, e: float, skip: np.ndarray
) -> np.ndarray:
    """Liang-Barsky clip: which cells [cx, cx+e) x [cy, cy+e) does any ring
    segment pass through? Vectorized over cells, loop over segments (ring
    vertex counts are small). ``skip`` marks cells already kept."""
    out = np.zeros(len(cx), dtype=bool)
    todo = ~skip
    if not todo.any():
        return out
    x0s, y0s = ring[:-1, 0], ring[:-1, 1]
    x1s, y1s = ring[1:, 0], ring[1:, 1]
    cxt, cyt = cx[todo], cy[todo]
    hit = np.zeros(len(cxt), dtype=bool)
    for x0, y0, x1, y1 in zip(x0s, y0s, x1s, y1s):
        dx, dy = x1 - x0, y1 - y0
        t0 = np.zeros(len(cxt))
        t1 = np.ones(len(cxt))
        ok = np.ones(len(cxt), dtype=bool)
        for p, q_lo, q_hi in (
            (dx, cxt - x0, cxt + e - x0),
            (dy, cyt - y0, cyt + e - y0),
        ):
            if p == 0:
                ok &= (q_lo <= 0) & (q_hi >= 0)
            else:
                ta, tb = q_lo / p, q_hi / p
                lo = np.minimum(ta, tb)
                hi = np.maximum(ta, tb)
                t0 = np.maximum(t0, lo)
                t1 = np.minimum(t1, hi)
        hit |= ok & (t0 <= t1)
        if hit.all():
            break
    out[todo] = hit
    return out


def polygon_cover_cells(
    polygons_pdf: pd.DataFrame,
    res: int = tl.DEFAULT_RES,
    max_cover_cells: int = 2048,
) -> pd.DataFrame:
    """Driver-side cover table: (cell, polygon_id, full_flag, res).

    For each polygon: bbox cells at an adaptively chosen resolution — the
    finest res (<= ``res``) whose bbox cover stays under
    ``max_cover_cells`` — so a 5-degree fault polygon covers at a coarse
    res (small broadcast table) while a sub-cell lease polygon covers at
    ``res``. A cell whose 4 corners are all inside is ``full`` (no refine
    needed — the reference's polygon_to_cells role, G9); boundary cells
    need the exact test. Polygon layers are small (SURVEY §2.1 S2: 85 KB
    coastline), so this is cheap driver work; the result is broadcast.
    """
    out_cell, out_pid, out_full, out_res = [], [], [], []
    for _, row in polygons_pdf.iterrows():
        wkb = bytes(row["wkb"])
        lon0, lat0, lon1, lat1 = wkb_mod.polygon_bbox(wkb)
        r = res
        while r > 0:
            e = tl.edge_deg(r)
            n_est = (int((lat1 - lat0) / e) + 2) * (int((lon1 - lon0) / e) + 2)
            if n_est <= max_cover_cells:
                break
            r -= 1
        cells = tl.bbox_to_cells(lat0, lat1, lon0, lon1, r)
        if not cells:
            continue
        parts = np.array([c.split(":") for c in cells], dtype=np.int64)
        ix, iy = parts[:, 1], parts[:, 2]
        e = tl.edge_deg(r)
        cx = -180.0 + ix * e
        cy = -90.0 + iy * e
        # A cell is "full" only when all 4 corners are inside AND no ring
        # boundary touches the cell. The corner test alone is NOT enough
        # even for a single hole-free ring: a thin slit/spike can dip into
        # the cell interior without containing any corner, and an
        # undemoted full flag would skip the exact refine for points
        # inside the slit (silent false positives).
        gtype, polys = wkb_mod.decode(wkb)
        simple = gtype == "Polygon" and len(polys) == 1 and len(polys[0]) == 1
        all_in = np.full(len(cells), simple)
        any_corner = np.zeros(len(cells), dtype=bool)
        for dx in (0.0, 1.0):
            for dy in (0.0, 1.0):
                inside = pip_mod.points_in_wkb(cx + dx * e, cy + dy * e, wkb)
                all_in &= inside
                any_corner |= inside
        # boundary-touch test per cell: (b) a polygon vertex inside the
        # cell, or (c) a polygon edge crossing the cell rectangle. Serves
        # two purposes: it DEMOTES the full flag (above), and with (a)
        # corner-inside it prunes provably-disjoint cells from the
        # candidate join (bbox covers of rotated polygons are mostly such
        # corners — that part cuts refine work, not correctness).
        boundary = np.zeros(len(cells), dtype=bool)
        for rings in polys:
            for ring in rings:
                vx, vy = ring[:-1, 0], ring[:-1, 1]
                in_cell_x = (vx[None, :] >= cx[:, None]) & (vx[None, :] < (cx + e)[:, None])
                in_cell_y = (vy[None, :] >= cy[:, None]) & (vy[None, :] < (cy + e)[:, None])
                boundary |= (in_cell_x & in_cell_y).any(axis=1)
                boundary |= _segments_cross_cells(ring, cx, cy, e, skip=boundary)
        all_in &= ~boundary
        keep = any_corner | boundary
        out_cell.extend(np.asarray(cells, dtype=object)[keep])
        out_pid.extend([row["polygon_id"]] * int(keep.sum()))
        out_full.extend(bool(b) for b in all_in[keep])
        out_res.extend([r] * int(keep.sum()))
    return pd.DataFrame(
        {"cell": out_cell, "polygon_id": out_pid, "full": out_full, "res": out_res}
    )


_COVER_CACHE: OrderedDict[tuple, tuple] = OrderedDict()


def _input_stamp(spark, layer: DataFrame) -> tuple:
    """(path, size, mtime) of every file ``layer`` reads, sorted; empty
    for a layer that carries its own rows."""
    sc = spark.sparkContext
    stamp = []
    for f in sorted(layer.inputFiles()):
        path = sc._jvm.org.apache.hadoop.fs.Path(f)
        st = path.getFileSystem(sc._jsc.hadoopConfiguration()).getFileStatus(path)
        stamp.append((f, st.getLen(), st.getModificationTime()))
    return tuple(stamp)


def _cover_cached(spark, polygons: DataFrame, res: int):
    """Broadcast cover frame, its cover resolutions and the broadcast WKB
    map of a polygon layer, cached per (layer content, res).

    Layers are reused across many joins in a session; without the cache
    every call pays the collect, the cover construction, the cover frame
    and the broadcast again. A hit starts no Spark job. The key contract:

    - the layer's ``semanticHash``, confirmed on a hit by
      ``sameSemantics`` against the cached layer. For a local relation
      (``sources.polygons`` layers, ``createDataFrame`` from pandas) the
      plan holds the rows, so two builds of the same layer hit and a
      changed row misses;
    - the (path, size, mtime) of every input file. A file-backed layer
      keeps its plan, and so its hash, when the files under its path are
      rewritten; the stamp makes a rewrite miss instead of serving the old
      cover;
    - the SparkContext's applicationId, so entries never outlive their
      session (a broadcast created on a stopped context is unusable).

    A layer built from a list of tuples is an RDD scan whose hash changes
    with every build: it hits only when the same DataFrame is passed again.

    Evicted entries UNPERSIST (not destroy) their broadcast: unpersist
    frees the executor copies but leaves the driver value rebroadcastable,
    so a still-pending DataFrame built from an earlier join keeps working
    if it executes after eviction; destroy() would fail those tasks with
    "Attempted to use Broadcast after destroy".
    """
    key = (
        spark.sparkContext.applicationId,
        polygons.semanticHash(),
        _input_stamp(spark, polygons),
        res,
    )
    hit = _COVER_CACHE.get(key)
    if hit is not None and hit[0].sameSemantics(polygons):
        return hit[1:]
    poly_pdf = polygons.select("polygon_id", "wkb").toPandas()
    cover = polygon_cover_cells(poly_pdf, res)
    cover_df = F.broadcast(
        spark.createDataFrame(
            cover[["res", "cell", "polygon_id", "full"]],
            "res int, cell string, polygon_id long, full boolean",
        )
    )
    resolutions = sorted(int(r) for r in cover["res"].unique())
    wkb_by_id = {int(r["polygon_id"]): bytes(r["wkb"]) for _, r in poly_pdf.iterrows()}
    bc = spark.sparkContext.broadcast(wkb_by_id)
    if len(_COVER_CACHE) >= 16:
        _, (*_, old_bc) = _COVER_CACHE.popitem(last=False)
        try:
            old_bc.unpersist(blocking=False)
        except Exception:
            pass  # its session may already be gone
    _COVER_CACHE[key] = (polygons, cover_df, resolutions, bc)
    return cover_df, resolutions, bc


def pip_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    lat: str = "lat",
    lon: str = "lon",
    res: int = tl.DEFAULT_RES,
) -> DataFrame:
    """Exact point-in-polygon join via cell-cover + vectorized refine.

    Plan: points gain a cell id (pure Column arithmetic) -> equi-join with
    the broadcast cover table -> rows in ``full`` cells pass immediately;
    boundary-cell rows run the ray-cast refine inside an Arrow-batched
    pandas UDF against the (broadcast) WKB blobs. Replaces the reference's
    implicit cartesian ST_DWITHIN pattern (build.py:170-176) and its
    row-at-a-time shapely apply (data_pipeline.py:45).
    """
    spark = points.sparkSession
    cover_df, resolutions, bc = _cover_cached(spark, polygons, res)

    @F.pandas_udf("boolean")
    def _refine(lat_s: pd.Series, lon_s: pd.Series, pid_s: pd.Series) -> pd.Series:
        lats = lat_s.to_numpy(float)
        lons = lon_s.to_numpy(float)
        pids = pid_s.to_numpy(np.int64)
        out = np.zeros(len(lats), dtype=bool)
        table = bc.value
        for pid in np.unique(pids):
            m = pids == pid
            out[m] = pip_mod.points_in_wkb(lons[m], lats[m], table[int(pid)])
        return pd.Series(out)

    # ONE equi-join for every cover resolution at once: each polygon
    # covers at exactly one res, so points explode to their cell id at
    # each distinct cover res (a handful) and join the broadcast cover on
    # (res, cell) — one scan of the points, one broadcast probe, instead
    # of a join + union pair per resolution. Full-interior cells pass
    # immediately; the exact refine runs in a single Arrow stage over the
    # (small) candidate set. At 100 TB the explode factor is the distinct
    # cover-res count (<= 4), applied before a broadcast join — no
    # shuffle of the big side.
    pts = points.withColumn(
        "__rc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("res"),
                        tl.latlng_to_cell(F.col(lat), F.col(lon), r).alias("cell"),
                    )
                    for r in resolutions
                ]
            )
        ),
    )
    cand = pts.join(
        cover_df,
        (pts["__rc.res"] == cover_df["res"]) & (pts["__rc.cell"] == cover_df["cell"]),
        "inner",
    ).drop(cover_df["res"]).drop(cover_df["cell"])
    hits = cand.filter(
        F.col("full") | _refine(F.col(lat), F.col(lon), F.col("polygon_id"))
    ).drop("__rc", "full")
    return hits.join(F.broadcast(polygons.drop("wkb")), "polygon_id", "left")


def pip_polygon_join_partitioned(
    points: DataFrame,
    polygons: DataFrame,
    lat: str = "lat",
    lon: str = "lon",
    res: int = tl.DEFAULT_RES,
    max_cover_cells: int = 2048,
) -> DataFrame:
    """PIP join for LARGE polygon layers (SURVEY §7 stage 5's partitioned
    variant).

    The broadcast variant collects the layer to the driver — right for
    an 85 KB coastline, wrong for millions of parcels. Here the cover
    table is computed EXECUTOR-side (``mapInPandas`` over polygon
    partitions, same kernel), persisted, and shuffle-joined with the
    points on (res, cell); boundary cover rows carry their polygon's WKB
    so the refine needs no driver-side lookup table. The layer never
    passes through the driver and nothing is broadcast (AQE may still
    choose a broadcast join if the cover turns out small — that's the
    right call when it happens).

    Results are identical to :func:`pip_polygon_join` (both are exact).
    """
    spark = points.sparkSession

    def _covers(batches):
        for pdf in batches:
            sub = polygon_cover_cells(pdf, res, max_cover_cells)
            if not len(sub):
                continue
            wkb_by_id = {int(r["polygon_id"]): bytes(r["wkb"]) for _, r in pdf.iterrows()}
            out = sub.copy()
            out["wkb"] = [
                None if full else wkb_by_id[int(pid)]
                for pid, full in zip(sub["polygon_id"], sub["full"])
            ]
            yield out[["res", "cell", "polygon_id", "full", "wkb"]]

    cover = polygons.select("polygon_id", "wkb").mapInPandas(
        _covers, "res int, cell string, polygon_id long, full boolean, wkb binary"
    )
    # persisted: the distinct-res probe below and the join both read it;
    # at 100 TB this would be a staged table (plans/checkpoint.py)
    cover = cover.persist()
    resolutions = sorted(r["res"] for r in cover.select("res").distinct().collect())

    @F.pandas_udf("boolean")
    def _refine_wkb(lat_s: pd.Series, lon_s: pd.Series, wkb_s: pd.Series) -> pd.Series:
        lats = lat_s.to_numpy(float)
        lons = lon_s.to_numpy(float)
        out = np.zeros(len(lats), dtype=bool)
        keys = wkb_s.map(lambda b: bytes(b) if b is not None else None)
        for wkb, grp in pd.RangeIndex(len(keys)).to_series().groupby(keys):
            m = grp.to_numpy()
            out[m] = pip_mod.points_in_wkb(lons[m], lats[m], wkb)
        return pd.Series(out)

    pts = points.withColumn(
        "__rc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("res"),
                        tl.latlng_to_cell(F.col(lat), F.col(lon), r).alias("cell"),
                    )
                    for r in resolutions
                ]
            )
        ),
    )
    cand = pts.join(
        cover,
        (pts["__rc.res"] == cover["res"]) & (pts["__rc.cell"] == cover["cell"]),
        "inner",
    ).drop(cover["res"]).drop(cover["cell"])
    hits = cand.filter(
        F.col("full") | _refine_wkb(F.col(lat), F.col(lon), F.col("wkb"))
    ).drop("__rc", "full", "wkb")
    return hits.join(polygons.drop("wkb"), "polygon_id", "left")


# ---------------------------------------------------------------------------
# Distance theta-join + buffer anti-join (k-ring cover + haversine refine)
# ---------------------------------------------------------------------------


def _with_cell(df: DataFrame, lat: str, lon: str, res: int, name: str) -> DataFrame:
    return df.withColumn(name, tl.latlng_to_cell(F.col(lat), F.col(lon), res))


def distance_join(
    left: DataFrame,
    right: DataFrame,
    distance_km: float,
    lat: str = "lat",
    lon: str = "lon",
    res: int | None = None,
    max_abs_lat: float = 66.0,
) -> DataFrame:
    """All (left, right) pairs within ``distance_km`` great-circle km.

    The reference's J4 (LEFT JOIN ... WHERE ST_DWITHIN with *no ON clause*,
    build.py:170-176) done scalably: right rows explode to their k-ring
    cover (ring count sized by :func:`tl.rings_for_km`), equi-join on the
    cell id, exact haversine refine. Columns from ``right`` come back
    suffixed ``_r``.

    Resolution choice is a density/ring-count tradeoff: default picks the
    coarsest res whose cell edge >= distance (ring k<=2), keeping the
    cover expansion factor <= 9.
    """
    if res is None:
        res = tl.DEFAULT_RES
        while res > 3 and tl.rings_for_km(distance_km, res, max_abs_lat) > 2:
            res -= 1
    k = tl.rings_for_km(distance_km, res, max_abs_lat)
    lcell = _with_cell(left, lat, lon, res, "__lcell")
    rcell = right.select(
        *[F.col(c).alias(f"{c}_r") for c in right.columns],
    ).withColumn(
        "__rcover",
        F.explode(
            tl.grid_disk(tl.latlng_to_cell(F.col(f"{lat}_r"), F.col(f"{lon}_r"), res), k)
        ),
    )
    joined = lcell.join(rcell, lcell["__lcell"] == rcell["__rcover"], "inner")
    return joined.filter(
        haversine_km(F.col(lat), F.col(lon), F.col(f"{lat}_r"), F.col(f"{lon}_r"))
        <= F.lit(distance_km)
    ).drop("__lcell", "__rcover")


def buffer_anti_join(
    left: DataFrame,
    right: DataFrame,
    distance_km: float,
    lat: str = "lat",
    lon: str = "lon",
    res: int | None = None,
    max_abs_lat: float = 66.0,
) -> DataFrame:
    """Rows of ``left`` farther than ``distance_km`` from EVERY right row.

    The spatial train/test separation (G8/J3): the reference marks train
    cells near test cells via the cross-join ST_DWITHIN then null-masks
    (build.py:165-177,201); here it is a left-anti join against the
    distance-join candidates — same semantics, no cartesian.

    ``max_abs_lat`` forwards to distance_join's cover sizing — data above
    it would get an undersized k-ring cover and silently RETAIN rows that
    are actually within the buffer (broken train/test separation). The
    anti-join condition is NULL-SAFE on every left column: plain equality
    would never match a row carrying a NULL attribute, silently keeping
    it no matter how close it sits to a right row.
    """
    near = distance_join(
        left, right, distance_km, lat, lon, res, max_abs_lat=max_abs_lat
    ).select(*[F.col(c) for c in left.columns]).dropDuplicates(left.columns)
    cond = None
    for c in left.columns:
        eq = left[c].eqNullSafe(near[c])
        cond = eq if cond is None else (cond & eq)
    return left.join(near, on=cond, how="left_anti")
