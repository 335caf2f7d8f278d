"""Benchmark entry point.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout: the engine is imported from
``geocore_spark/`` next to this directory, never from an installed copy.
One run = set-up (repeated ``SETUP_REPS`` times; ``setup_s`` is the
median), a closed loop with one client for ``--seconds`` of measured
time, correctness checks outside the timed region, and one JSON line.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
loop with the Spark event log on and every public call in its own job
group, and prints the per-layer metrics. Spans and the event-log summary
are written under ``.perfbench/`` only when the run ends. Diagnostics
(pinned environment, sample counts, failed fraction, CPU steal, tracing
overhead) are printed as ``# ``-prefixed lines before the result.
"""

from __future__ import annotations

import argparse
import dataclasses
import importlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
SETUP_REPS = 3
DRIVER_MEM = "2g"
MAX_LOOP_S = 60.0  # hard cap on the loop wall time, checks included


def _pin_env(cores: int) -> dict:
    """Environment of the Spark driver, JVM and Python workers, pinned
    here so a run does not depend on the caller's shell."""
    pinned = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(WORK / "local"),
        "TMPDIR": str(WORK / "tmp"),
        "PYTHONPATH": os.pathsep.join([str(ROOT), str(HERE)]),
        "PYTHONHASHSEED": "0",
        # no JVM perf-counter file in /tmp: a run writes only in its checkout
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    for k in ("SPARK_MASTER", "PYSPARK_GATEWAY_PORT", "OMP_NUM_THREADS"):
        os.environ.pop(k, None)
    os.environ.update(pinned)
    for d in ("local", "tmp"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    return pinned


def _spark_conf(trace: bool, run_dir: Path) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(WORK / "local"),
        "spark.driver.extraJavaOptions":
            f"-XX:+UseParallelGC -Xms{DRIVER_MEM} -XX:-UsePerfData "
            f"-Djava.io.tmpdir={WORK / 'tmp'}",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
    }
    if trace:
        (run_dir / "events").mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(run_dir / "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _stop_jvm() -> None:
    """Stop the SparkContext, then the gateway JVM, and wait for it."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the launcher exits on EOF of its stdin
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# workload name -> (module, class)
WORKLOADS = {"pipeline": ("wl_pipeline", "Pipeline"), "serving": ("wl_serving", "Serving")}


def end_to_end(name: str, wl, busy_s: float, setup_s: float,
               peak_rss_mb: float) -> tuple[dict, dict]:
    """(metric values, sample counts) of a run whose loop measured
    ``busy_s`` seconds."""
    from harness import median, quantile

    ops = [o["ms"] for o in wl.ops]
    lookups = [o["ms"] for o in wl.lookups]
    vals = {
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss_mb,
        "latency_p50_ms": median(ops),
        "lookup_p50_ms": median(lookups),
        "write_amp": wl.written / wl.submitted,
        "space_amp": wl.live_amp(),
    }
    if name == "pipeline":  # rates over the six stages, lookups excluded
        per_pass = len(ops) / len(wl.passes)
        vals["ops_per_s"] = per_pass / (median([p["ms"] for p in wl.passes]) / 1e3)
        vals["pages_per_s"] = median([p["pages"] / (p["ms"] / 1e3) for p in wl.passes])
        steps = {"passes": len(wl.passes),
                 "pass_pages_per_s": [round(p["pages"] / p["ms"] * 1e3) for p in wl.passes]}
    else:  # rates over the closed loop's measured time
        vals["ops_per_s"] = len(ops) / busy_s
        vals["pages_per_s"] = wl.rows_submitted / busy_s
        steps = {"rounds": wl.round}
    p90 = quantile(ops, 0.9)
    kinds: dict = {}
    for o in wl.ops:
        kinds.setdefault(o["kind"], []).append(o["ms"])
    samples = {"kind_p50_ms": {k: round(median(v)) for k, v in kinds.items()},
               "ops": len(ops), "p90_ms": round(p90), "beyond_p90": sum(o > p90 for o in ops),
               "lookups": len(lookups), "lookup_ms": [round(x) for x in lookups],
               **steps, "setups": SETUP_REPS}
    return vals, samples


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "geocore_spark" / "__init__.py").is_file():
        print(f"no geocore_spark package next to {HERE.name}/; run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]

    from harness import CORES, Probe, Tracer, median
    import metrics as M

    trace = bool(args.trace)
    run_dir = WORK / f"run-{args.workload}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    pinned = _pin_env(CORES)
    probe = Probe()

    import pyspark
    from geocore_spark.session import get_spark

    conf = _spark_conf(trace, run_dir)
    module, name = WORKLOADS[args.workload]
    cls = getattr(importlib.import_module(module), name)
    setups, wl, spark = [], None, None
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", master=f"local[{CORES}]",
                          extra_conf=conf)
        tracer = Tracer(spark, trace)
        wl = cls(spark, tracer, args.seed, str(run_dir / "data"))
        wl.prepare()
        setups.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.warm()
    warm_s = time.perf_counter() - t
    setup_s = median(setups) + warm_s
    tracer.spans.clear()
    app_id = spark.sparkContext.applicationId

    # closed loop, one client: the next step starts when the last returns
    busy = check_s = 0.0
    t_loop = time.perf_counter()
    while True:
        u0 = wl.untimed_s
        t = time.perf_counter()
        wl.step()
        busy += time.perf_counter() - t - (wl.untimed_s - u0)
        t = time.perf_counter()
        wl.check_last()
        check_s += time.perf_counter() - t
        probe.sample()
        if busy >= args.seconds or time.perf_counter() - t_loop > MAX_LOOP_S:
            break
    loop_s = time.perf_counter() - t_loop
    peak = probe.peak_rss_mb()
    done = wl.ops + wl.lookups
    attempted, failed = len(done), sum(o["failed"] for o in done)
    e2e, samples = end_to_end(args.workload, wl, busy, setup_s, peak)
    spans = list(tracer.spans)
    _stop_jvm()

    diag = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "env": pinned, "cores": CORES, "spark": pyspark.__version__,
        "failed_frac": failed / attempted, "samples": samples,
        "setup_reps_s": [round(s, 3) for s in setups], "warm_s": round(warm_s, 3),
        "loop_s": round(loop_s, 3), "check_s": round(check_s, 3),
        **probe.steal(),
    }
    errors = [o["error"] for o in done if o.get("error")]
    if errors:
        diag["errors"] = errors[:5]
    diag["tracing_overhead"] = _overhead(args.workload, trace, e2e)

    if trace:
        import eventlog

        log = eventlog.parse(str(run_dir / "events" / app_id))
        values, units = M.layer_metrics(spans, log, CORES), M.per_layer_spec()
        (run_dir / "spans.json").write_text(json.dumps([dataclasses.asdict(s) for s in spans]))
        summary = {g: {"jobs": gs.jobs, "stages": [dataclasses.asdict(s) for s in gs.stages]}
                   for g, gs in log.groups.items()}
        (run_dir / "eventlog_summary.json").write_text(json.dumps(summary))
    else:
        values, units = e2e, {k: u for k, (u, _) in M.END_TO_END.items()}

    for k, v in diag.items():
        print(f"# {k}: {json.dumps(v)}")
    print(result_line(values, units, attempted, failed))
    return 0


def result_line(values: dict, units: dict, attempted: int, failed: int) -> str:
    """The last line of a run: every metric of ``units`` with its value."""
    return json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    })


def _overhead(workload: str, trace: bool, e2e: dict):
    """Store this run's end-to-end figures; when the other mode has run
    in this checkout, return (traced - untraced) / untraced per figure."""
    res = WORK / "results"
    res.mkdir(parents=True, exist_ok=True)
    mine = res / f"{workload}-trace{int(trace)}.json"
    mine.write_text(json.dumps(e2e))
    other = res / f"{workload}-trace{int(not trace)}.json"
    if not other.exists():
        return "run the other --trace mode in this checkout to compare"
    base = json.loads(other.read_text())
    traced, plain = (e2e, base) if trace else (base, e2e)
    return {
        k: round((traced[k] - plain[k]) / plain[k], 4)
        for k in ("ops_per_s", "latency_p50_ms", "pages_per_s",
                  "lookup_p50_ms", "setup_s")
        if plain.get(k)
    }


if __name__ == "__main__":
    sys.exit(main())
