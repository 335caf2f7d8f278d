"""``pipeline``: the six stages of ``jobs/run_pipeline.py`` on a seeded,
skewed pages table, each committed through ``StageCheckpoint``.

The job synthesizes its own ingest, so the seed cannot reach it; this
workload calls the same public functions its stage builders call and
seeds the ingest by sampling the pages generator. One pass is one run of
the six stages (an operation per stage commit), followed by a few
feature lookups of single cells in the committed ``features`` stage.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import refs
from harness import bytes_added, dir_files

RES = 13
MIN_QUALITY = 0.05
N_POLYS = 24
PAGES = 60_000  # generator rows per pass; the seeded sample keeps ~half
WARM_PAGES = 2_000
LOOKUPS_PER_PASS = 10

# stage -> the public function whose call builds it; the stage's commit
# is that function's sink, so the stage's Spark work is its exec_ms
STAGES = [
    ("ingest", "sources.pages.pages"),
    ("geotag", "functions.text.extract_text_udf"),
    ("tile", "functions.tiling.latlng_to_cell"),
    ("pip", "operators.spatial_join.pip_polygon_join"),
    ("features", "operators.assembly.join_features"),
    ("curate", "operators.dedup.exact_dedup"),
]


class Pipeline:
    def __init__(self, spark, tracer, seed: int, work: str):
        self.spark, self.tr, self.seed = spark, tracer, seed
        self.root = os.path.join(work, "pipeline")
        self.rng = random.Random(seed)
        self.ops: list[dict] = []  # one per stage commit
        self.lookups: list[dict] = []
        self.passes: list[dict] = []
        self.written = self.submitted = 0
        self.untimed_s = 0.0  # bookkeeping inside a step, kept out of busy time
        self.pending: list[dict] = []  # stage records of the pass to check
        self.looked_up: list[tuple] = []  # (cell, rows, record) to check
        self._pass = 0

    # -- set-up -------------------------------------------------------------

    def prepare(self) -> None:
        """Inputs: the pages are generated by the ingest stage of each
        pass; here only the polygon layer the checks need."""
        from geocore_spark.sources import polygons as pgn

        shutil.rmtree(self.root, ignore_errors=True)
        rows = pgn.polygon_layer(self.spark, N_POLYS).select("polygon_id", "wkb").collect()
        self.polys = {int(r["polygon_id"]): bytes(r["wkb"]) for r in rows}

    def warm(self) -> None:
        """One small pass: JIT, Python workers, first-use imports."""
        self.run_pass(WARM_PAGES)
        self.pending, self.looked_up = [], []
        self.ops.clear()
        self.lookups.clear()
        self.passes.clear()
        self.written = self.submitted = 0

    # -- one pass -------------------------------------------------------------

    def step(self) -> None:
        self.run_pass(PAGES)

    def run_pass(self, n_pages: int) -> None:
        from geocore_spark.functions import s2, text as tx, tiling as tl
        from geocore_spark.operators import assembly, dedup, spatial_join, zonal
        from geocore_spark.plans.checkpoint import StageCheckpoint
        from geocore_spark.plans.lineage import observed
        from geocore_spark.sources import pages as pg
        from geocore_spark.sources import polygons as pgn

        spark = self.spark
        self._pass += 1
        sample_seed = self.seed * 7919 + self._pass
        self.tr.begin_op(f"pass{self._pass}")
        before = dir_files(self.root)
        cp = StageCheckpoint(spark, self.root)
        for stage in list(cp.stages()):
            cp.invalidate(stage)
        cp.reconcile_chain([
            ("ingest", {"pages": n_pages, "seed": sample_seed}), ("geotag", {}),
            ("tile", {"res": RES}), ("pip", {"res": RES}), ("features", {}),
            ("curate", {"min_quality": MIN_QUALITY}),
        ])
        out = {}

        def build_ingest():
            return pg.pages(spark, n_pages).sample(False, 0.5, seed=sample_seed)

        def build_geotag():
            df, _ = observed(out["ingest"], "geotag_in")
            g = tx.geo_latlon(F.decode("html", "UTF-8"))
            return df.select(
                "url", "warc_ts", "lang",
                tx.extract_text_udf()(F.col("html")).alias("text"),
                g["lat"].alias("lat"), g["lon"].alias("lon"),
            ).filter(F.col("lat").isNotNull())

        def build_tile():
            return out["geotag"].select(
                "url", "warc_ts", "lat", "lon",
                tl.latlng_to_cell(F.col("lat"), F.col("lon"), RES).alias("cell"),
                s2.s2_cell_udf(12)(F.col("lat"), F.col("lon")).alias("s2_cell"),
            )

        def build_pip():
            polys = pgn.polygon_layer(spark, N_POLYS)
            return spatial_join.pip_polygon_join(out["tile"], polys, res=RES).select(
                "url", "cell", "s2_cell", "polygon_id", "layer", "attr"
            )

        def build_features():
            cells = out["tile"].groupBy("cell").agg(F.count("*").alias("n_pages"))
            assembly.assert_unique_index(cells, "cell", "page_cells")
            sampled = zonal.cell_centroid_samples(cells).withColumnRenamed("value", "f_raster")
            hits = out["pip"].groupBy("cell").agg(
                F.count("*").alias("n_poly_hits"),
                F.count_distinct("polygon_id").alias("n_polygons"),
            )
            return assembly.join_features([sampled, hits], check=False).na.fill(
                {"n_poly_hits": 0, "n_polygons": 0}
            )

        def build_curate():
            docs, _ = observed(
                out["geotag"].join(out["tile"].select("url", "cell"), "url", "inner").select(
                    F.xxhash64("url").alias("doc_id"), "url", "text", "lang", "cell"
                ),
                "curate_in",
            )
            kept = dedup.exact_dedup(docs, id_col="doc_id", text_col="text")
            q = kept.withColumn("q", tx.quality_score(F.col("text"))).filter(
                F.col("q") >= MIN_QUALITY
            )
            return q.groupBy("cell", "lang").agg(
                F.count("*").alias("n_docs"), F.round(F.avg("q"), 6).alias("avg_quality")
            )

        builders = {"ingest": build_ingest, "geotag": build_geotag, "tile": build_tile,
                    "pip": build_pip, "features": build_features, "curate": build_curate}
        stage_ms, recs = {}, []
        for stage, fn_name in STAGES:
            t = time.perf_counter()
            try:
                with self.tr.span(fn_name) as sp:
                    df = sp.call(builders[stage])
                    out[stage] = sp.sink(cp.run, stage, lambda: df)
            except Exception as e:  # the stage fails and the pass stops unchecked
                self.ops.append({"kind": stage, "ms": (time.perf_counter() - t) * 1e3,
                                 "failed": True, "error": refs.describe(e)})
                return
            stage_ms[stage] = (time.perf_counter() - t) * 1e3
            sp.count("bytes_written", bytes_added(before, dir_files(os.path.join(self.root, stage))))
            sp.count("commits", 1)
            recs.append({"kind": stage, "ms": stage_ms[stage], "failed": False})
        self.ops.extend(recs)
        self.pending = recs
        t_untimed = time.perf_counter()
        self.passes.append({"ms": sum(stage_ms.values()), "pages": cp.stages()["ingest"]["rows"]})
        self.written += bytes_added(before, dir_files(self.root))
        features = os.path.join(self.root, "features")
        cells = pq.read_table(features, columns=["cell"]).column("cell").to_pylist()
        self.untimed_s += time.perf_counter() - t_untimed
        for cell in self.rng.sample(sorted(cells), LOOKUPS_PER_PASS):
            t = time.perf_counter()
            try:
                rows, err = spark.read.parquet(features).filter(F.col("cell") == cell).collect(), None
            except Exception as e:
                rows, err = [], refs.describe(e)
            rec = {"ms": (time.perf_counter() - t) * 1e3, "failed": err is not None}
            if err:
                rec["error"] = err
            self.lookups.append(rec)
            self.looked_up.append((cell, [r.asDict() for r in rows], rec))

    # -- checks (outside the timed region) ----------------------------------

    def check_last(self) -> None:
        """Check the last completed pass's six stage outputs and lookups,
        and mark the wrong ones failed."""
        if not self.pending:
            return
        self.submitted += pq.read_table(os.path.join(self.root, "ingest")).nbytes
        errs = check_pass(self.root, self.polys)
        for rec in self.pending:
            if errs.get(rec["kind"]):
                rec["failed"] = True
                rec["error"] = errs[rec["kind"]]
        feats = {r["cell"]: r for r in pq.read_table(os.path.join(self.root, "features")).to_pylist()}
        for cell, rows, rec in self.looked_up:
            if not rec["failed"] and rows != [feats.get(cell)]:
                rec["failed"] = True
                rec["error"] = f"lookup of cell {cell} returned {rows[:1]}"
        self.pending, self.looked_up = [], []

    # -- end-to-end metrics --------------------------------------------------

    def live_amp(self) -> float:
        on_disk = sum(dir_files(self.root).values())
        live = sum(pq.read_table(os.path.join(self.root, s)).nbytes for s, _ in STAGES)
        return on_disk / live


def check_pass(root: str, polys: dict) -> dict:
    """stage -> reason for every stage whose output is wrong."""
    def read(stage):
        return pq.read_table(os.path.join(root, stage))

    errs = {}
    ingest = read("ingest")
    ids = refs.page_ids(ingest.column("url").to_pylist())
    lat_t, lon_t = refs.page_latlon(ids)
    if (ingest.column("text").to_pylist() != refs.golden_text(ids)
            or not np.allclose(ingest.column("lat_true").to_numpy(), lat_t, atol=1e-9)
            or not np.allclose(ingest.column("lon_true").to_numpy(), lon_t, atol=1e-9)):
        errs["ingest"] = "generated pages differ from their closed form"

    geo = read("geotag")
    gids = refs.page_ids(geo.column("url").to_pylist())
    glat, glon = refs.page_latlon(gids)
    if geo.num_rows != ingest.num_rows:
        errs["geotag"] = f"{geo.num_rows} rows for {ingest.num_rows} pages"
    elif geo.column("text").to_pylist() != refs.golden_text(gids):
        errs["geotag"] = "extracted text is not byte-identical to the golden text"
    elif (np.abs(geo.column("lat").to_numpy() - glat).max() > 1.1e-5
          or np.abs(geo.column("lon").to_numpy() - glon).max() > 1.1e-5):
        errs["geotag"] = "geotagged coordinates differ from the page coordinates"

    tile = read("tile")
    tids = refs.page_ids(tile.column("url").to_pylist())
    tlat, tlon = tile.column("lat").to_numpy(), tile.column("lon").to_numpy()
    if tile.num_rows != geo.num_rows:
        errs["tile"] = f"{tile.num_rows} rows for {geo.num_rows} geotagged pages"
    elif tile.column("cell").to_pylist() != refs.cells(tlat, tlon, RES).tolist():
        errs["tile"] = "cell ids differ from the grid formula"

    pip = read("pip")
    got = set(zip(refs.page_ids(pip.column("url").to_pylist()).tolist(),
                  pip.column("polygon_id").to_pylist()))
    err = refs.diff_sets("pip pairs", got, refs.pip_pairs(tids, tlat, tlon, polys))
    if err:
        errs["pip"] = err

    con = duckdb.connect()
    try:
        con.register("tile", tile.select(["cell"]))
        con.register("pip", pip.select(["cell", "polygon_id"]))
        want = con.execute(
            "SELECT c.cell, c.n_pages, coalesce(h.n_poly_hits, 0), coalesce(h.n_polygons, 0)"
            " FROM (SELECT cell, count(*) AS n_pages FROM tile GROUP BY cell) c"
            " LEFT JOIN (SELECT cell, count(*) AS n_poly_hits,"
            "            count(DISTINCT polygon_id) AS n_polygons FROM pip GROUP BY cell) h"
            " USING (cell)"
        ).fetchall()
    finally:
        con.close()
    feat = read("features")
    fcells = feat.column("cell").to_pylist()
    got = set(zip(fcells, feat.column("n_pages").to_pylist(),
                  feat.column("n_poly_hits").to_pylist(), feat.column("n_polygons").to_pylist()))
    err = refs.diff_sets("feature rows", got, {tuple(r) for r in want})
    if err is None and len(fcells) != len(want):
        err = f"{len(fcells)} feature rows for {len(want)} cells"
    if err is None:
        clat, clon = refs.cell_centers(fcells)
        exp = refs.raster_value(clat, clon)
        f = np.array([np.nan if v is None else v for v in feat.column("f_raster").to_pylist()])
        if not (np.array_equal(np.isnan(f), np.isnan(exp))
                and np.nanmax(np.abs(f - exp), initial=0.0) <= 1e-6):
            err = "f_raster differs from the raster at the cell centres"
    if err:
        errs["features"] = err

    texts = geo.column("text").to_pylist()
    cell_of = dict(zip(tile.column("url").to_pylist(), tile.column("cell").to_pylist()))
    groups: dict = {}
    seen = set()
    for url, text, lang in zip(geo.column("url").to_pylist(), texts, geo.column("lang").to_pylist()):
        if text in seen:
            continue
        seen.add(text)
        q = refs.quality(text)
        if q >= MIN_QUALITY:
            g = groups.setdefault((cell_of[url], lang), [0, 0.0])
            g[0] += 1
            g[1] += q
    cur = read("curate").to_pylist()
    bad = len(cur) != len(groups)
    for r in cur:
        g = groups.get((r["cell"], r["lang"]))
        if g is None or g[0] != r["n_docs"] or abs(g[1] / g[0] - r["avg_quality"]) > 2e-6:
            bad = True
            break
    if bad:
        errs["curate"] = "per-(cell, lang) document counts or quality differ"
    return errs
