"""Short spatial requests, as a user of the engine issues them.

Kinds: point-in-polygon against a polygon layer rebuilt for the request
(as users do), distance join, and kNN. Each request draws its region,
radius and k from the seeded generator; the caller chooses whether the
region sits on one of the three dense clusters (the mega cells) or on
the sparse background.
"""

from __future__ import annotations

import random
import time

import numpy as np
from pyspark.sql import functions as F

import refs

KINDS = ("pip", "distance", "knn")


class SpatialRequests:
    """Issues one spatial request at a time over a points frame and its
    numpy twin, and checks the answer against the brute-force reference."""

    def __init__(self, spark, tracer, rng: random.Random, polys: dict[int, bytes]):
        self.spark, self.tr, self.rng, self.polys = spark, tracer, rng, polys

    def run(self, kind: str, mega: bool, points, ids, lat, lon) -> tuple[float, str | None]:
        """(latency ms, error or None) of one request over a region on a
        dense cluster (``mega``) or on the background. The check runs
        after the latency is taken."""
        self.points, self.ids, self.lat, self.lon = points, ids, lat, lon
        box = self._region(mega)
        t = time.perf_counter()
        check = getattr(self, f"_{kind}")(box)
        ms = (time.perf_counter() - t) * 1e3
        return ms, check()

    def _region(self, mega: bool):
        rng = self.rng
        if mega:
            clat, clon = refs.CLUSTERS[rng.randrange(3)]
            h = rng.uniform(0.05, 0.5)
            return clat - h, clat + h, clon - 2 * h, clon + 2 * h, True
        lat0 = rng.uniform(-58.0, 40.0)
        h = rng.uniform(4.0, 16.0)
        lon0 = rng.uniform(-178.0, 178.0 - 2 * h)
        return lat0, lat0 + h, lon0, lon0 + 2 * h, False

    def _in_box(self, box):
        la0, la1, lo0, lo1, _ = box
        m = (self.lat >= la0) & (self.lat <= la1) & (self.lon >= lo0) & (self.lon <= lo1)
        return self.ids[m], self.lat[m], self.lon[m]

    def _sites(self, box, n):
        """``n`` points drawn uniformly in the box, with ids -1, -2, ..."""
        la0, la1, lo0, lo1, _ = box
        return [(-1 - i, self.rng.uniform(la0, la1), self.rng.uniform(lo0, lo1))
                for i in range(n)]

    def _box_points(self, box):
        la0, la1, lo0, lo1, _ = box
        return self.points.filter(
            F.col("lat").between(la0, la1) & F.col("lon").between(lo0, lo1)
        )

    def _pip(self, box):
        from geocore_spark.operators import spatial_join
        from geocore_spark.sources import polygons as pgn

        with self.tr.span("sources.polygons.polygon_layer") as sp:
            polys = sp.call(pgn.polygon_layer, self.spark, len(self.polys))
        with self.tr.span("operators.spatial_join.pip_polygon_join") as sp:
            df = sp.call(spatial_join.pip_polygon_join, self._box_points(box), polys, res=13)
            rows = sp.sink(df.select("id", "polygon_id").collect)

        def check():
            ids, lat, lon = self._in_box(box)
            want = refs.pip_pairs(ids, lat, lon, self.polys)
            return refs.diff_sets("pip pairs", {(r[0], r[1]) for r in rows}, want)
        return check

    def _sites_frame(self, box):
        sites = self._sites(box, self.rng.randint(1, 3))
        radius = self.rng.uniform(0.2, 2.0) if box[4] else self.rng.uniform(20.0, 300.0)
        df = self.spark.createDataFrame(sites, "site_id long, lat double, lon double")
        return sites, radius, df

    def _distance(self, box):
        from geocore_spark.operators import spatial_join

        sites, radius, sdf = self._sites_frame(box)
        with self.tr.span("operators.spatial_join.distance_join") as sp:
            df = sp.call(spatial_join.distance_join, self._box_points(box), sdf, radius)
            rows = sp.sink(df.select("id", "site_id_r").collect)

        def check():
            ids, lat, lon = self._in_box(box)
            sure, edge = refs.distance_pairs(ids, lat, lon, sites, radius)
            return refs.diff_sets("distance pairs", {(r[0], r[1]) for r in rows} - edge, sure)
        return check

    def _knn(self, box):
        from geocore_spark.operators import knn

        # neighbours of pages in the region, as a user asks them
        ids, lat, lon = self._in_box(box)
        pick = self.rng.sample(range(len(ids)), min(len(ids), self.rng.randint(1, 3)))
        queries = [(-1 - i, float(lat[j]), float(lon[j])) for i, j in enumerate(pick)]
        queries = queries or self._sites(box, 1)
        k = self.rng.randint(3, 10)
        qdf = self.spark.createDataFrame(queries, "id long, lat double, lon double")
        with self.tr.span("operators.knn.knn_join") as sp:
            df = sp.call(knn.knn_join, qdf, self.points, k=k, exclude_self=False)
            rows = sp.sink(df.select("id", "neighbor_id", "rank").collect)

        def check():
            got: dict = {}
            for q, nid, rank in rows:
                got.setdefault(q, []).append((rank, nid))
            pos = {int(i): j for j, i in enumerate(self.ids)}
            for qid, qlat, qlon in queries:
                want, wd = refs.knn_rows(qid, qlat, qlon, self.ids, self.lat, self.lon, k)
                have = sorted(got.get(qid, []))
                if [r for r, _ in have] != list(range(1, len(want) + 1)):
                    return f"knn query {qid}: ranks {[r for r, _ in have]} for k={k}"
                j = np.array([pos[n] for _, n in have])
                hd = refs.haversine(qlat, qlon, self.lat[j], self.lon[j])
                if not np.allclose(hd, wd, rtol=0, atol=1e-6):
                    return f"knn query {qid}: neighbour distances differ from brute force"
            return None
        return check
