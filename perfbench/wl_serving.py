"""``serving``: one client keeping a keyed snapshot table of geotagged
pages up to date and querying it between its commits.

A round is, in this order: ``append`` a batch of new keys; a spatial
request; ``merge_into`` an upsert batch (mostly existing keys, moved to
new coordinates); a request; ``delete_by_key`` a batch of keys; a
request; ``compact_snapshot`` plus ``expire_snapshots``; a request.
After each request, the range stats are refreshed with
``snapshot_file_stats`` and two ``read_snapshot_pruned`` point lookups
run, so the lookups sample the whole round. Keyed writes are pruned by a
Bloom sidecar rebuilt with ``snapshot_file_blooms`` just before each (a
stale sidecar is refused), so the rebuild is part of the commit's
latency. Spatial requests read the latest snapshot and rotate through
the kinds of :mod:`wl_spatial`, so the first round issues
point-in-polygon, distance, kNN and point-in-polygon again. 30% of the
table's points sit on three dense clusters (the mega cells), which the
point-in-polygon and kNN requests hit and the distance join does not.

Operations are the mutating commits and the spatial requests; every one
is checked against an in-memory key -> row model (commits) or a
brute-force reference over the model (requests), untimed.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F

import refs
from harness import bytes_added, dir_files
from wl_spatial import KINDS, SpatialRequests

INITIAL_ROWS = 10_000
APPEND_ROWS, MERGE_ROWS, DELETE_KEYS = 400, 200, 50
LOOKUPS_PER_REQUEST = 2  # after each request, so lookups span the round
WARM_LOOKUPS = 1
SCHEMA = "key long, url string, lat double, lon double, payload string, rev int"
_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789 "


class Serving:
    def __init__(self, spark, tracer, seed: int, work: str):
        self.spark, self.tr, self.seed = spark, tracer, seed
        self.root = os.path.join(work, "table")
        self.rng = random.Random(seed)
        self.model: dict[int, dict] = {}
        self.next_key = 0
        self.round = 0
        self.n_requests = 0
        self.n_lookups = LOOKUPS_PER_REQUEST
        self.ops: list[dict] = []
        self.lookups: list[dict] = []
        self.written = self.submitted = self.rows_submitted = 0
        self.untimed_s = 0.0

    def _row(self, key: int, rev: int) -> dict:
        rng = self.rng
        if rng.random() < 0.3:
            clat, clon = refs.CLUSTERS[rng.randrange(3)]
            lat, lon = clat + rng.uniform(0, 0.01), clon + rng.uniform(0, 0.01)
        else:
            lat, lon = rng.uniform(-60.0, 60.0), rng.uniform(-180.0, 180.0)
        return {
            "key": key,
            "url": f"https://host{key % 97}.example/p/{key}",
            "lat": lat,
            "lon": lon,
            "payload": "".join(rng.choices(_ALPHABET, k=rng.randint(40, 120))),
            "rev": rev,
        }

    def _frame(self, rows: list[dict]):
        return self.spark.createDataFrame(
            [tuple(r.values()) for r in rows], SCHEMA).coalesce(1)

    # -- set-up -------------------------------------------------------------

    def prepare(self) -> None:
        """Inputs: the seeded initial table, committed as version 1, and
        the polygon layer the request checks need."""
        from geocore_spark.sources import polygons as pgn
        from geocore_spark.sources import snapshots as snap

        shutil.rmtree(self.root, ignore_errors=True)
        rows = [self._row(k, 0) for k in range(INITIAL_ROWS)]
        self.next_key = INITIAL_ROWS
        # rows arrive sorted by key, so each of the frame's slices (one
        # file each) holds a narrow key range
        snap.create_table(self.spark, self.root,
                          self.spark.createDataFrame(pd.DataFrame(rows), SCHEMA))
        self.model = {r["key"]: r for r in rows}
        polys = pgn.polygon_layer(self.spark, 24).select("polygon_id", "wkb").collect()
        self.requests = SpatialRequests(
            self.spark, self.tr, self.rng,
            {int(r["polygon_id"]): bytes(r["wkb"]) for r in polys})

    def warm(self) -> None:
        """One round, with fewer lookups."""
        self.n_lookups = WARM_LOOKUPS
        self.step()
        self.n_lookups = LOOKUPS_PER_REQUEST
        self.round = self.n_requests = 0
        self.ops.clear()
        self.lookups.clear()
        self.written = self.submitted = self.rows_submitted = 0
        self.untimed_s = 0.0

    # -- operations -------------------------------------------------------------

    def _commit(self, kind: str, fn, submitted: list[dict], apply) -> None:
        """Run one mutating operation (timed), then, untimed: account the
        bytes it wrote, apply it to the model and compare the table."""
        self.tr.begin_op(f"{kind}{len(self.ops)}")
        before = dir_files(self.root)
        t = time.perf_counter()
        try:
            span, err = fn(), None
        except Exception as e:  # a failed commit is counted, and must not show
            span, err = None, refs.describe(e)
        rec = {"kind": kind, "ms": (time.perf_counter() - t) * 1e3, "failed": False}
        t_untimed = time.perf_counter()
        written = bytes_added(before, dir_files(self.root))
        self.written += written
        if submitted:
            self.submitted += pa.Table.from_pylist(submitted).nbytes
            self.rows_submitted += len(submitted)
        if span is not None:
            span.count("bytes_written", written)
            apply()
        err = err or refs.table_matches(self.root, self.model)
        if err:
            rec["failed"] = True
            rec["error"] = err
        self.ops.append(rec)
        self.untimed_s += time.perf_counter() - t_untimed

    def _request(self, kind: str, mega: bool) -> None:
        """One spatial request over the latest snapshot."""
        from geocore_spark.sources import snapshots as snap

        self.tr.begin_op(f"{kind}{len(self.ops)}")
        t_untimed = time.perf_counter()
        rows = list(self.model.values())
        ids = np.array([r["key"] for r in rows], dtype=np.int64)
        lat = np.array([r["lat"] for r in rows])
        lon = np.array([r["lon"] for r in rows])
        self.untimed_s += time.perf_counter() - t_untimed
        t = time.perf_counter()
        read_ms = 0.0
        try:
            with self.tr.span("sources.snapshots.read_snapshot") as sp:
                points = sp.call(snap.read_snapshot, self.spark, self.root).select(
                    F.col("key").alias("id"), "lat", "lon")
            read_ms = (time.perf_counter() - t) * 1e3
            ms, err = self.requests.run(kind, mega, points, ids, lat, lon)
        except Exception as e:  # counted as a failed request
            ms, err = (time.perf_counter() - t) * 1e3 - read_ms, refs.describe(e)
        self.untimed_s += max(time.perf_counter() - t - (read_ms + ms) / 1e3, 0.0)
        rec = {"kind": kind, "ms": read_ms + ms, "failed": err is not None, "mega": mega}
        if err:
            rec["error"] = err
        self.ops.append(rec)

    def _serve(self) -> None:
        """The next request of the fixed rotation (point-in-polygon and
        kNN on a mega cell, the distance join on the background), then
        point lookups."""
        kind = KINDS[self.n_requests % len(KINDS)]
        self.n_requests += 1
        self._request(kind, mega=kind != "distance")
        self._lookups()

    def _blooms(self):
        from geocore_spark.sources import snapshots as snap

        with self.tr.span("sources.snapshots.snapshot_file_blooms") as sp:
            blooms = sp.call(snap.snapshot_file_blooms, self.spark, self.root, ["key"])
            blooms = blooms.persist()
            sp.sink(blooms.count)
        return blooms

    def step(self) -> None:
        from geocore_spark.sources import snapshots as snap

        spark, rng = self.spark, self.rng
        self.round += 1

        batch = [self._row(k, 0) for k in range(self.next_key, self.next_key + APPEND_ROWS)]
        self.next_key += len(batch)

        def do_append():
            with self.tr.span("sources.snapshots.append") as sp:
                sp.call(snap.append, spark, self.root, self._frame(batch))
            return sp
        self._commit("append", do_append, batch,
                     lambda: self.model.update((r["key"], r) for r in batch))
        self._serve()

        upd = rng.sample(sorted(self.model), MERGE_ROWS * 4 // 5)
        new = list(range(self.next_key, self.next_key + MERGE_ROWS - len(upd)))
        self.next_key += len(new)
        merge = [self._row(k, self.model[k]["rev"] + 1) for k in upd] + [
            self._row(k, 0) for k in new]

        def do_merge():
            blooms = self._blooms()
            with self.tr.span("sources.snapshots.merge_into") as sp:
                _, rep = sp.call(snap.merge_into, spark, self.root, self._frame(merge),
                                 ["key"], key_blooms=blooms)
            sp.count("files_scanned", rep["files_scanned"])
            sp.count("files_total", rep["files_total"])
            blooms.unpersist()
            return sp
        self._commit("merge", do_merge, merge,
                     lambda: self.model.update((r["key"], r) for r in merge))
        self._serve()

        victims = rng.sample(sorted(self.model), DELETE_KEYS * 9 // 10) + [
            self.next_key + 10_000 + i for i in range(DELETE_KEYS // 10)]

        def do_delete():
            blooms = self._blooms()
            keys = spark.createDataFrame([(k,) for k in victims], "key long")
            with self.tr.span("sources.snapshots.delete_by_key") as sp:
                _, rep = sp.call(snap.delete_by_key, spark, self.root, keys, "key",
                                 key_blooms=blooms)
            sp.count("files_scanned", rep["files_scanned"])
            sp.count("files_total", rep["files_total"])
            blooms.unpersist()
            return sp

        def forget():
            for k in victims:
                self.model.pop(k, None)
        self._commit("delete", do_delete, [{"key": k} for k in victims], forget)
        self._serve()

        def do_compact():
            with self.tr.span("sources.snapshots.compact_snapshot") as sp:
                sp.call(snap.compact_snapshot, spark, self.root,
                        small_bytes=64 << 10, target_bytes=256 << 10,
                        order_col="key")
            with self.tr.span("sources.snapshots.expire_snapshots") as ex:
                ex.call(snap.expire_snapshots, spark, self.root, keep_last=2)
            return sp
        self._commit("compact", do_compact, [], lambda: None)
        self._serve()

    def _lookups(self) -> None:
        """Point lookups through range stats refreshed for the latest
        snapshot."""
        from geocore_spark.sources import snapshots as snap

        spark, rng = self.spark, self.rng
        self.tr.begin_op(f"lookup{len(self.lookups)}")
        with self.tr.span("sources.snapshots.snapshot_file_stats") as sp:
            stats = sp.call(snap.snapshot_file_stats, spark, self.root, ["key"]).persist()
            sp.sink(stats.count)
        live = sorted(self.model)
        initial = [k for k in live if k < INITIAL_ROWS]
        recent = [k for k in live if k >= INITIAL_ROWS]
        for i in range(self.n_lookups):
            # half the keys from the initial files, half written since
            key = rng.choice(initial if i % 2 == 0 else recent)
            t = time.perf_counter()
            try:
                with self.tr.span("sources.snapshots.read_snapshot_pruned") as sp:
                    df, rep = sp.call(snap.read_snapshot_pruned, spark, self.root, stats,
                                      {"key": (key, key)})
                    rows = sp.sink(df.filter(F.col("key") == key).collect)
                sp.count("files_read", rep.files_read)
                sp.count("files_total", rep.files_total)
                got, err = [r.asDict() for r in rows], None
            except Exception as e:
                got, err = None, refs.describe(e)
            rec = {"ms": (time.perf_counter() - t) * 1e3, "failed": False}
            if err is None and got != [self.model[key]]:
                err = f"lookup of {key} returned {got[:1]} instead of {[self.model[key]]}"
            if err:
                rec["failed"] = True
                rec["error"] = err
            self.lookups.append(rec)
        stats.unpersist()

    def check_last(self) -> None:
        """Every operation was checked as it completed."""

    def live_amp(self) -> float:
        on_disk = sum(dir_files(self.root).values())
        return on_disk / pa.Table.from_pylist(list(self.model.values())).nbytes
