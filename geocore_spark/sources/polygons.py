"""Synthetic fault/lease polygon layers (WKB), deterministic.

Plays the role of the reference's vector layers — the coastline shapefile
(/root/reference/data_pipeline.py:33) and the Ingenious fault/lease layers
(/root/reference/experiment_configs/lightgbm_gbdt_model_ingenious.yaml:5-12).
Small layers (tens-to-hundreds of polygons) built driver-side with numpy and
broadcast to executors — the same shape as gpd.read_file -> broadcast.

Each layer is a local relation: its rows travel in the plan itself, built
through pandas and Arrow. Two builds of the same layer therefore have equal
``semanticHash`` values, which is what lets ``pip_polygon_join`` reuse a
layer's cell cover across calls, and collecting the layer runs no Python
worker. A frame built from a list of tuples would be an RDD scan instead,
with a new hash on every build.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from geocore_spark.geometry import wkb as wkb_mod
from geocore_spark.sources.pages import CLUSTERS


def _local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """``rows`` as a local relation: pandas goes through Arrow into a
    ``LocalRelation``, where a list of tuples would give an RDD scan."""
    names = [field.split()[0] for field in schema.split(",")]
    return spark.createDataFrame(pd.DataFrame(rows, columns=names), schema)


def _regular_polygon(clat: float, clon: float, radius_deg: float, nv: int, phase: float):
    ang = np.linspace(0, 2 * np.pi, nv, endpoint=False) + phase
    return np.stack(
        [clon + radius_deg * np.cos(ang), clat + radius_deg * np.sin(ang)], axis=1
    )


def polygon_layer(
    spark: SparkSession, n_polys: int = 24, layer_names: tuple[str, ...] = ("fault", "lease")
) -> DataFrame:
    """Deterministic polygon layer: convex polygons of varying size.

    Coverage mix (FIXTURES.md §2): some overlap the pages mega-cell
    clusters, some sit over the uniform background band, some are empty
    ocean; sizes range from sub-cell (< 0.02 deg) to many-cell (5 deg).
    """
    rng = np.random.default_rng(42)
    rows = []
    for i in range(n_polys):
        if i % 4 == 0:  # anchored on a mega-cell cluster
            clat, clon = CLUSTERS[(i // 4) % len(CLUSTERS)]
            clat += rng.uniform(-0.05, 0.05)
            clon += rng.uniform(-0.05, 0.05)
        else:  # mid-latitude background
            clat = float(rng.uniform(-55, 55))
            clon = float(rng.uniform(-175, 175))
        radius = float(10 ** rng.uniform(-1.8, 0.7))  # ~0.016 .. 5 deg
        nv = int(rng.integers(4, 9))
        ring = _regular_polygon(clat, clon, radius, nv, float(rng.uniform(0, 1)))
        rows.append(
            (
                i,
                layer_names[i % len(layer_names)],
                wkb_mod.encode_polygon([ring]),
                round(float(rng.uniform(0, 100)), 3),
            )
        )
    return _local_frame(spark, rows, "polygon_id long, layer string, wkb binary, attr double")


def rect_layer(spark: SparkSession, n: int = 16) -> DataFrame:
    """Axis-aligned rectangle layer — the SQL-expressible PIP fixture.

    Rectangles admit an exact ANSI-SQL oracle (BETWEEN predicates), letting
    the driver's DuckDB check cover the PIP join path end-to-end; general
    WKB polygons are covered by pytest against the numpy kernel instead.
    """
    rng = np.random.default_rng(7)
    rows = []
    for i in range(n):
        if i % 3 == 0:
            clat, clon = CLUSTERS[(i // 3) % len(CLUSTERS)]
        else:
            clat = float(rng.uniform(-55, 55))
            clon = float(rng.uniform(-170, 170))
        h = float(10 ** rng.uniform(-1.5, 0.6))
        w = float(10 ** rng.uniform(-1.5, 0.6))
        rows.append(
            (
                i,
                round(clat - h, 4),
                round(clat + h, 4),
                round(clon - w, 4),
                round(clon + w, 4),
                round(float(rng.uniform(0, 100)), 3),
            )
        )
    return _local_frame(
        spark,
        rows,
        "rect_id long, lat_min double, lat_max double, lon_min double, lon_max double, attr double",
    )


def rect_layer_sql(n: int = 16) -> str:
    """DuckDB VALUES clause reproducing rect_layer exactly (same rng seed
    can't run in SQL, so we inline the materialized literals)."""
    import io

    rng = np.random.default_rng(7)
    buf = io.StringIO()
    vals = []
    for i in range(n):
        if i % 3 == 0:
            clat, clon = CLUSTERS[(i // 3) % len(CLUSTERS)]
        else:
            clat = float(rng.uniform(-55, 55))
            clon = float(rng.uniform(-170, 170))
        h = float(10 ** rng.uniform(-1.5, 0.6))
        w = float(10 ** rng.uniform(-1.5, 0.6))
        attr = round(float(rng.uniform(0, 100)), 3)
        vals.append(
            f"({i}, {round(clat - h, 4)}, {round(clat + h, 4)},"
            f" {round(clon - w, 4)}, {round(clon + w, 4)}, {attr})"
        )
    buf.write(
        "(SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(rect_id, lat_min, lat_max, lon_min, lon_max, attr))"
    )
    return buf.getvalue()
