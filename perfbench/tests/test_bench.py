"""Fast tests of the benchmark itself (no Spark session).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path
from types import SimpleNamespace

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(HERE))

import eventlog  # noqa: E402
import metrics as M  # noqa: E402
import refs  # noqa: E402
import run  # noqa: E402
from harness import Span, bytes_added, quantile  # noqa: E402
from wl_pipeline import RES, check_pass  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


# -- every named metric is emitted with its unit ------------------------------


def test_spec_matches_benchmark_json():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == {
        k: u for k, (u, _) in M.END_TO_END.items()}
    assert {m["name"]: m["better"] for m in SPEC["end_to_end"]} == {
        k: b for k, (_, b) in M.END_TO_END.items()}
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == M.per_layer_spec()
    assert len(SPEC["per_layer"]) <= 128
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)


def _fake_workload(name):
    ops = [{"kind": "k", "ms": 100.0 + i, "failed": False} for i in range(20)]
    return SimpleNamespace(
        ops=ops, lookups=ops[:5], passes=[{"pages": 1000, "ms": 500.0}] * 3,
        written=300, submitted=1000, live_amp=lambda: 0.5, rows_submitted=900, round=4,
    )


@pytest.mark.parametrize("name", list(run.WORKLOADS))
def test_every_end_to_end_metric_is_emitted_with_its_unit(name):
    vals, samples = run.end_to_end(name, _fake_workload(name), 3.0, 1.5, 900.0)
    units = {k: u for k, (u, _) in M.END_TO_END.items()}
    line = json.loads(run.result_line(vals, units, 25, 0))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert set(line["metrics"]) == set(units)
    for k, m in line["metrics"].items():
        assert m["unit"] == units[k]
        assert isinstance(m["value"], float) and m["value"] > 0, k
    assert samples["ops"] == 20


def test_result_line_refuses_a_missing_metric():
    with pytest.raises(KeyError):
        run.result_line({"setup_s": 1.0}, {"setup_s": "s", "ops_per_s": "1/s"}, 1, 0)


# -- the per-layer record keeps a stable schema ----------------------------------


def _plan(node_id):
    join = {"nodeName": "BroadcastHashJoin", "children": [],
            "metrics": [{"name": "number of output rows", "accumulatorId": node_id + 1,
                         "metricType": "sum"}]}
    filt = {"nodeName": "Filter", "children": [{"nodeName": "Project", "children": [join],
                                                 "metrics": []}],
            "metrics": [{"name": "number of output rows", "accumulatorId": node_id,
                         "metricType": "sum"}]}
    return {"nodeName": "AdaptiveSparkPlan", "children": [filt], "metrics": []}


def _event_log(tmp_path, group, t0):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [7],
         "Properties": {"spark.jobGroup.id": group, "spark.sql.execution.id": "3"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 3, "sparkPlanInfo": _plan(100)},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 7, "Number of Tasks": 8, "Submission Time": t0 + 10,
            "Completion Time": t0 + 60, "Accumulables": [
                {"ID": 1, "Name": "internal.metrics.executorRunTime", "Value": 90},
                {"ID": 2, "Name": "internal.metrics.executorCpuTime", "Value": 40_000_000},
                {"ID": 3, "Name": "internal.metrics.shuffle.write.bytesWritten", "Value": 512},
                {"ID": 100, "Name": "number of output rows", "Value": 25},
                {"ID": 101, "Name": "number of output rows", "Value": 100},
            ]}},
    ]
    path = tmp_path / "app"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return eventlog.parse(str(path))


def test_layer_record_has_a_stable_schema(tmp_path):
    spec = M.per_layer_spec()
    empty = M.layer_metrics([], None, 4)
    assert list(empty) == list(spec)
    assert all(v == 0.0 for v in empty.values())

    sp = Span("operators.spatial_join.distance_join", "distance0", 1,
              t0_ms=1000.0, t1_ms=1100.0, call_ms=5.0, exec_ms=90.0)
    log = _event_log(tmp_path, sp.group, 1000.0)
    out = M.layer_metrics([sp], log, 4)
    assert list(out) == list(spec)
    fn = "operators.spatial_join.distance_join"
    assert out[f"{fn}.jobs"] == 1
    assert out[f"{fn}.task_fill"] == 2.0
    assert out[f"{fn}.wait_ms"] == pytest.approx(50.0)
    assert out[f"{fn}.shuffle_bytes"] == 512
    assert out[f"{fn}.driver_gap_ms"] == pytest.approx(50.0)
    assert out["operators.spatial_join.refine_yield"] == pytest.approx(0.25)


def test_scan_fractions_and_checkpoint_rollup():
    spans = []
    for i, (scanned, total) in enumerate([(1, 4), (3, 4)]):
        sp = Span("sources.snapshots.delete_by_key", f"delete{i}", i)
        sp.count("files_scanned", scanned)
        sp.count("files_total", total)
        spans.append(sp)
    for p in range(2):
        for stage in range(3):
            sp = Span("operators.dedup.exact_dedup", f"pass{p}", 10 + 3 * p + stage,
                      exec_ms=10.0 * (p + 1))
            sp.count("commits", 1)
            sp.count("bytes_written", 100)
            spans.append(sp)
    out = M.layer_metrics(spans, None, 4)
    assert out["sources.snapshots.delete_by_key.scan_frac"] == pytest.approx(0.5)
    assert out["plans.checkpoint.run.exec_ms"] == pytest.approx(45.0)
    assert out["plans.checkpoint.run.bytes_written"] == 300


# -- each correctness check can fail -----------------------------------------------


def test_golden_text_and_coordinates_are_closed_forms():
    ids = np.array([0, 1, 13, 12345])
    assert refs.golden_text(ids)[2] == "Page 13\nCrawl snapshot 13 geothermal survey block 169."
    lat, lon = refs.page_latlon(ids)
    assert lat[0] == pytest.approx(40.71) and lon[1] == pytest.approx(-0.13 + 0.00729)
    wrong = refs.golden_text(ids + 1)
    assert wrong != refs.golden_text(ids)


def test_cells_match_the_grid_and_can_disagree():
    lat, lon = np.array([0.0, -89.9]), np.array([0.0, 179.99])
    assert refs.cells(lat, lon, 1).tolist() == ["1:2:1", "1:3:0"]
    assert refs.cells(lat, lon, 2).tolist() != ["1:2:1", "1:3:0"]


def _square(cx, cy, h):
    ring = np.array([[cx - h, cy - h], [cx + h, cy - h], [cx + h, cy + h],
                     [cx - h, cy + h], [cx - h, cy - h]])
    import struct
    return struct.pack("<BII", 1, 3, 1) + struct.pack("<I", 5) + ring.astype("<f8").tobytes()


def test_pip_reference_and_its_failure():
    ids = np.array([1, 2, 3])
    lat = np.array([0.0, 5.0, 0.5])
    lon = np.array([0.0, 5.0, -0.5])
    want = refs.pip_pairs(ids, lat, lon, {7: _square(0.0, 0.0, 1.0)})
    assert want == {(1, 7), (3, 7)}
    assert refs.diff_sets("pip", want, want) is None
    assert refs.diff_sets("pip", {(1, 7)}, want) is not None


def test_distance_and_knn_references_and_their_failure():
    ids = np.arange(5)
    lat = np.zeros(5)
    lon = np.array([0.0, 0.5, 1.0, 2.0, 3.0])
    sure, edge = refs.distance_pairs(ids, lat, lon, [(-1, 0.0, 0.0)], 100.0)
    assert sure == {(0, -1), (1, -1)} and not edge
    rows, d = refs.knn_rows(-1, 0.0, 0.9, ids, lat, lon, 2)
    assert [r[1] for r in rows] == [2, 1]
    assert refs.diff_sets("knn", {(r[1], r[2]) for r in rows}, {(1, 1), (2, 2)}) is not None
    assert d[0] < d[1]


def test_quality_score():
    assert refs.quality("the cat") == pytest.approx(round((7 / 500 + 1.0) / 2, 6))
    assert refs.quality("x" * 600) == 0.5


def _write_stages(root, polys, break_stage=None):
    """A consistent six-stage checkpoint for a handful of pages, with one
    stage's output made wrong on request."""
    ids = np.array([0, 1, 2, 13, 27, 31])
    urls = [f"https://host{i % 97}.example/p/{i}" for i in ids]
    lat, lon = refs.page_latlon(ids)
    text = refs.golden_text(ids)
    lang = ["en", "en", "en", "en", "de", None]
    cells = refs.cells(lat, lon, RES).tolist()
    stages = {
        "ingest": {"url": urls, "text": text, "lat_true": lat, "lon_true": lon},
        "geotag": {"url": urls, "text": list(text), "lang": lang, "lat": lat, "lon": lon},
        "tile": {"url": urls, "lat": lat, "lon": lon, "cell": list(cells)},
    }
    pairs = sorted(refs.pip_pairs(ids, lat, lon, polys))
    stages["pip"] = {"url": [f"https://host{i % 97}.example/p/{i}" for i, _ in pairs],
                     "polygon_id": [p for _, p in pairs],
                     "cell": [cells[list(ids).index(i)] for i, _ in pairs]}
    feats = {}
    for c in cells:
        feats.setdefault(c, [0, 0, set()])[0] += 1
    for (i, p), c in zip(pairs, stages["pip"]["cell"]):
        feats[c][1] += 1
        feats[c][2].add(p)
    fc = sorted(feats)
    clat, clon = refs.cell_centers(fc)
    stages["features"] = {"cell": fc, "n_pages": [feats[c][0] for c in fc],
                          "f_raster": refs.raster_value(clat, clon),
                          "n_poly_hits": [feats[c][1] for c in fc],
                          "n_polygons": [len(feats[c][2]) for c in fc]}
    groups = {}
    for c, lg, t in zip(cells, lang, text):
        q = refs.quality(t)
        if q >= 0.05:
            g = groups.setdefault((c, lg), [0, 0.0])
            g[0] += 1
            g[1] += q
    keys = sorted(groups, key=str)
    stages["curate"] = {"cell": [k[0] for k in keys], "lang": [k[1] for k in keys],
                        "n_docs": [groups[k][0] for k in keys],
                        "avg_quality": [round(groups[k][1] / groups[k][0], 6) for k in keys]}
    if break_stage == "geotag":
        stages["geotag"]["text"][1] += " "
    elif break_stage == "tile":
        stages["tile"]["cell"][0] = "13:0:0"
    elif break_stage == "pip":
        for k in ("url", "polygon_id", "cell"):
            stages["pip"][k] = stages["pip"][k][1:]
    elif break_stage == "features":
        stages["features"]["n_pages"][0] += 1
    elif break_stage == "curate":
        stages["curate"]["n_docs"][0] += 1
    for name, cols in stages.items():
        os.makedirs(root / name)
        pq.write_table(pa.table(cols), root / name / "part-0.parquet")


def test_pipeline_checks_accept_the_truth_and_reject_each_wrong_stage(tmp_path):
    polys = {7: _square(-74.0, 40.7, 0.5), 9: _square(0.0, 51.5, 0.2)}
    _write_stages(tmp_path / "ok", polys)
    assert check_pass(str(tmp_path / "ok"), polys) == {}
    for stage in ("geotag", "tile", "pip", "features", "curate"):
        _write_stages(tmp_path / stage, polys, break_stage=stage)
        errs = check_pass(str(tmp_path / stage), polys)
        assert stage in errs, (stage, errs)


def _table(tmp_path):
    root = tmp_path / "t"
    (root / "data").mkdir(parents=True)
    (root / "deletes").mkdir()
    (root / "_log").mkdir()
    rows = [{"key": k, "v": f"r{k}"} for k in range(4)]
    data = root / "data" / "a.parquet"
    pq.write_table(pa.Table.from_pylist(rows), data)
    dv = root / "deletes" / "d.parquet"
    pq.write_table(pa.table({"_gc_file": [f"file:{data}"], "_gc_pos": [2]}), dv)
    manifest = {"version": 1, "data_files": [f"file:{data}"], "delete_files": [f"file:{dv}"]}
    (root / "_log" / "v00000001.json").write_text(json.dumps(manifest))
    return str(root), {r["key"]: r for r in rows if r["key"] != 2}


def test_table_model_check_accepts_the_truth_and_rejects_a_wrong_model(tmp_path):
    root, model = _table(tmp_path)
    assert refs.table_matches(root, model) is None
    assert refs.table_matches(root, {**model, 2: {"key": 2, "v": "r2"}}) is not None
    assert refs.table_matches(root, {**model, 1: {"key": 1, "v": "changed"}}) is not None
    again = tmp_path / "t" / "data" / "b.parquet"
    pq.write_table(pa.Table.from_pylist([{"key": 3, "v": "r3"}]), again)
    log = tmp_path / "t" / "_log" / "v00000001.json"
    m = json.loads(log.read_text())
    m["data_files"].append(f"file:{again}")
    log.write_text(json.dumps(m))
    assert "duplicate" in refs.table_matches(root, model)


# -- small helpers ---------------------------------------------------------------------


def test_quantile_and_bytes_added():
    assert quantile([1, 2, 3, 4], 0.5) == 2.5
    assert quantile(list(range(11)), 0.9) == pytest.approx(9.0)
    assert bytes_added({"a": 1, "b": 2}, {"a": 1, "b": 3, "c": 4}) == 7


def test_missing_engine_fails(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "ROOT", tmp_path)
    assert run.main(["--workload", "pipeline", "--seed", "1", "--seconds", "1"]) == 2
    assert not os.path.exists(tmp_path / ".perfbench")
