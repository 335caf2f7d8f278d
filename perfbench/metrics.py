"""Names, units and definitions of every metric the benchmark prints.

End-to-end metrics come from an untraced run, per-layer metrics from a
traced one. Both lists must equal the ones in ``BENCHMARK.json`` (a test
pins that), and :func:`layer_metrics` must give every per-layer name a
value on every workload: a function the workload never calls reads 0.
"""

from __future__ import annotations

from collections import defaultdict

import eventlog
from harness import median

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "ops_per_s": ("1/s", "higher"),
    "latency_p50_ms": ("ms", "lower"),
    "pages_per_s": ("1/s", "higher"),
    "lookup_p50_ms": ("ms", "lower"),
    "write_amp": ("ratio", "lower"),
    "space_amp": ("ratio", "lower"),
}

UNITS = {
    "call_ms": "ms", "exec_ms": "ms", "jobs": "count", "task_fill": "ratio",
    "wait_ms": "ms", "python_ms": "ms", "shuffle_bytes": "bytes",
    "driver_gap_ms": "ms", "bytes_written": "bytes", "scan_frac": "ratio",
}

ALL = ("call_ms", "exec_ms", "jobs", "task_fill", "wait_ms", "python_ms",
       "shuffle_bytes", "driver_gap_ms")

# traced public function -> the quantities kept for it
LAYERS = {
    # pipeline stages (a stage's commit is its function's exec_ms)
    "sources.pages.pages": ("exec_ms", "task_fill", "bytes_written"),
    "functions.text.extract_text_udf": ("exec_ms", "task_fill", "wait_ms", "python_ms",
                                        "bytes_written"),
    "functions.tiling.latlng_to_cell": ("exec_ms", "task_fill", "wait_ms", "python_ms",
                                        "bytes_written"),
    "operators.spatial_join.pip_polygon_join": ALL + ("bytes_written",),
    "operators.assembly.join_features": ("call_ms", "exec_ms", "jobs", "shuffle_bytes",
                                         "driver_gap_ms", "bytes_written"),
    "operators.dedup.exact_dedup": ("exec_ms", "task_fill", "wait_ms", "shuffle_bytes",
                                    "bytes_written"),
    "plans.checkpoint.run": ("exec_ms", "jobs", "bytes_written"),
    # spatial requests
    "sources.polygons.polygon_layer": ("call_ms",),
    "operators.spatial_join.distance_join": tuple(q for q in ALL if q != "python_ms"),
    "operators.knn.knn_join": tuple(q for q in ALL if q != "python_ms"),
    # keyed snapshot table
    "sources.snapshots.append": ("call_ms", "jobs", "driver_gap_ms", "bytes_written"),
    "sources.snapshots.merge_into": ("call_ms", "jobs", "task_fill", "python_ms",
                                     "shuffle_bytes", "driver_gap_ms", "bytes_written",
                                     "scan_frac"),
    "sources.snapshots.delete_by_key": ("call_ms", "jobs", "python_ms", "driver_gap_ms",
                                        "bytes_written", "scan_frac"),
    "sources.snapshots.read_snapshot": ("call_ms",),
    "sources.snapshots.read_snapshot_pruned": ("call_ms", "exec_ms", "jobs", "driver_gap_ms"),
    "sources.snapshots.compact_snapshot": ("call_ms", "jobs", "bytes_written"),
    "sources.snapshots.expire_snapshots": ("call_ms",),
    "sources.snapshots.snapshot_file_blooms": ("call_ms", "exec_ms", "jobs", "python_ms"),
    "sources.snapshots.snapshot_file_stats": ("call_ms", "exec_ms", "jobs"),
}

# counts measured across several calls
RATIOS = {
    "operators.spatial_join.refine_yield": "ratio",
    "sources.stats.files_read_frac": "ratio",
}


def per_layer_spec() -> dict[str, str]:
    """Every per-layer metric name -> unit, in a stable order."""
    out = {f"{fn}.{q}": UNITS[q] for fn, qs in LAYERS.items() for q in qs}
    out.update(RATIOS)
    return out


def _span_row(sp, log, cores) -> dict:
    row = eventlog.span_stats(log.groups.get(sp.group) if log else None,
                              sp.t0_ms, sp.t1_ms, cores)
    row.update(call_ms=sp.call_ms, exec_ms=sp.exec_ms,
               bytes_written=sp.counts.get("bytes_written", 0))
    return row


def layer_metrics(spans, log, cores: int) -> dict[str, float]:
    """Per-layer values from the traced spans and the parsed event log.

    Each quantity is the median over the function's calls in the run,
    except ``task_fill`` (the most tasks in any one stage of any call,
    over cores) and ``scan_frac`` (files scanned over files total, summed
    over calls). ``plans.checkpoint.run`` sums each pipeline pass's stage
    commits, then takes the median over passes."""
    rows = defaultdict(list)
    passes = defaultdict(lambda: defaultdict(float))
    scans = defaultdict(lambda: [0, 0])
    for sp in spans:
        row = _span_row(sp, log, cores)
        rows[sp.name].append(row)
        if sp.counts.get("commits"):
            for q in ("exec_ms", "jobs", "bytes_written"):
                passes[sp.op][q] += row[q]
        if "files_total" in sp.counts:
            s = scans[sp.name]
            s[0] += sp.counts.get("files_scanned", sp.counts.get("files_read", 0))
            s[1] += sp.counts["files_total"]
    out = {}
    for fn, qs in LAYERS.items():
        for q in qs:
            if fn == "plans.checkpoint.run":
                vals = [p[q] for p in passes.values()]
                v = median(vals) if vals else 0.0
            elif q == "task_fill":
                v = max((r[q] for r in rows[fn]), default=0.0)
            elif q == "scan_frac":
                s = scans[fn]
                v = s[0] / s[1] if s[1] else 0.0
            else:
                v = median([r[q] for r in rows[fn]]) if rows[fn] else 0.0
            out[f"{fn}.{q}"] = float(v)
    refined = candidates = 0.0
    if log is not None:
        execs = set()
        for sp in spans:
            if sp.name.startswith("operators.spatial_join."):
                gs = log.groups.get(sp.group)
                if gs is not None:
                    execs |= gs.executions
        refined, candidates = eventlog.refine_counts(log, execs)
    out["operators.spatial_join.refine_yield"] = refined / candidates if candidates else 0.0
    s = scans["sources.snapshots.read_snapshot_pruned"]
    out["sources.stats.files_read_frac"] = s[0] / s[1] if s[1] else 0.0
    return out
