#!/usr/bin/env python3
"""Benchmark of the engine's real uses at local[4].

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload dedup_scan --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15 --trace 0

One run is one process driving one closed-loop client: set-up (session
build with its prewarm, then input staging), one cold operation, the
workload's untimed warm-up operations, then steady operations until
``--seconds`` of them have been measured, then output checks.  ``--trace 0`` reports the end-to-end metrics.
``--trace 1`` alternates untraced and traced operations, probes the
layers the workload's operation does not reach, and reports the
per-layer metrics.  Human-readable lines come first; the last line of
standard output is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import asdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "_work"
WORKLOAD_NAMES = ("dedup_scan", "rollup_bulk", "ingest_refresh")
# a steady phase measures at least this many operations
MIN_OPS = 2
# the JVM heap size, fixed so the process tree's memory does not vary
# with how long garbage survives between collections
HEAP = "2g"

# Spans run on Spark get every counter in spans.SPARK_COUNTERS;
# spans of numpy work in this process get wall seconds.
SPARK_SPANS = (
    "session", "features", "pairs", "dedup", "rollup", "gapfill", "pack",
    "warehouse", "refresh", "arrow",
)
LOCAL_SPANS = ("kernels", "codecs")
EXTRA_LAYER_METRICS = (
    "pairs.considered", "pairs.candidates", "pairs.prune_ratio",
    "pairs.verify_yield", "kernels.peakmatch_us_per_pair",
    "kernels.fft_us_per_pair", "codecs.enc_mvals_s", "codecs.bytes_per_point",
    "warehouse.files_written", "warehouse.bytes_written",
    "refresh.slot_util", "refresh.rows_1m", "refresh.rows_1h",
    "refresh.rows_1d", "refresh.carried_files_1m",
    "refresh.carried_files_1h", "refresh.carried_files_1d",
    "trace.overhead_s", "trace.span_coverage",
)


def per_layer_names() -> list[str]:
    from spans import SPARK_COUNTERS

    names = [f"{s}.{c}" for s in SPARK_SPANS for c in SPARK_COUNTERS]
    names += [f"{s}.s" for s in LOCAL_SPANS]
    return names + list(EXTRA_LAYER_METRICS)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "all"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(run_dir: Path) -> dict[str, str]:
    """Keep every file Spark, the JVM and the Python workers write
    inside the checkout; return the session's extra conf."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE), *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    return {
        # -Xms = -Xmx: the collector neither grows nor shrinks the heap
        # between operations
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": str(run_dir / "spark-warehouse"),
    }


def stage_inputs(cls, seed: int) -> tuple[Path, dict, float]:
    """Find or generate the workload's inputs in a child process, so the
    generator's frames are never part of the measured process tree;
    return (input dir, meta, wall seconds the child took)."""
    t0 = time.perf_counter()
    out = subprocess.run(
        [sys.executable, str(HERE / "inputs.py"), str(WORK), cls.name, str(seed),
         json.dumps(asdict(cls.shape))],
        stdout=subprocess.PIPE, text=True, check=True,
    )
    d = Path(out.stdout.strip().splitlines()[-1])
    return d, json.loads((d / "meta.json").read_text()), time.perf_counter() - t0


def run_workload(args) -> int:
    from procs import PeakRss

    # one BLAS thread per process, as bench.py runs the engine: four
    # Python workers on four slots must not each fan out over every
    # core.  Set before numpy first loads, here or in a worker.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        import pyspark  # noqa: F401

        import peakmatch_xcorr_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    contract_file = ROOT / "BENCHMARK.json"
    if not contract_file.exists():
        print(f"perfbench: {contract_file} missing", file=sys.stderr)
        return 2
    contract = json.loads(contract_file.read_text())

    from spans import Tracer
    from workloads import SLOTS, WORKLOADS

    cls = WORKLOADS[args.workload]
    run_dir = WORK / f"run-{os.getpid()}"
    extra_conf = prepare_environment(run_dir)
    tr = Tracer(SLOTS, bool(args.trace))
    try:
        input_dir, meta, gen_s = stage_inputs(cls, args.seed)
        with PeakRss() as rss:
            from peakmatch_xcorr_spark.session import get_spark

            with tr.span("session"):
                spark = get_spark(
                    SLOTS, app_name=f"perfbench-{cls.name}", extra_conf=extra_conf
                )
                tr.attach(spark)
            tr.flush()
            try:
                w = cls(spark, input_dir, meta, run_dir, tr)
                result = measure(w, args, gen_s)
            finally:
                stop_spark(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if result is None:
        return 1
    result["metrics"]["peak_rss_mb"] = rss.peak_mb
    report(args, contract, result, tr)
    return 0


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait until it, the
    PySpark worker daemon and its workers have all exited."""
    from pyspark import SparkContext

    from procs import descendants, wait_gone

    spark.stop()
    started = [p for p in descendants(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if jvm is not None:
        jvm.stdin.close()  # the gateway server exits at end of input
        jvm.wait(timeout=60)
    left = wait_gone(started, timeout_s=60)
    if left:
        print(f"perfbench: processes still running: {left}", file=sys.stderr)


def measure(w, args, gen_s: float) -> dict | None:
    """Stage, run the cold, warm-up and steady operations, check the
    outputs and (traced) probe the other layers.  None when nothing
    ran."""
    from procs import process_age_s

    tr = w.tr
    w.stage()
    setup_s = process_age_s() - gen_s
    attempted = failed = 0
    notes: list[str] = []

    def attempt(traced: bool):
        nonlocal attempted, failed
        attempted += 1
        tr.op = attempted if traced else None
        try:
            op = w.run_op(traced)
        except Exception:
            failed += 1
            notes.append(traceback.format_exc(limit=4))
            return None
        finally:
            tr.op = None
            tr.flush()
        if op.failures:
            failed += 1
            notes.extend(op.failures)
        return op

    cold = attempt(False)
    for _ in range(w.warmup if cold is not None else 0):
        attempt(False)
    plain, traced = [], []
    coverage = []
    budget = args.seconds * (2 if tr.enabled else 1)
    while cold is not None:
        done = sum(o.wall_s for o in plain + traced)
        enough = len(plain) >= MIN_OPS and (not tr.enabled or len(traced) >= MIN_OPS)
        if done >= budget and enough:
            break
        trace_op = tr.enabled and len(traced) < len(plain)
        op = attempt(trace_op)
        if failed > MIN_OPS:
            break
        if op is None:
            continue
        if trace_op:
            traced.append(op)
            covered = sum(s["s"] for s in tr.spans if s["op"] == attempted)
            coverage.append(covered / op.wall_s)
        else:
            plain.append(op)
    if cold is None or not plain:
        print("\n".join(notes), file=sys.stderr)
        return None
    try:
        checks = w.final_checks()
    except Exception:
        checks = [("final_checks", [traceback.format_exc(limit=4)])]
    for name, bad in checks:
        attempted += 1
        if bad:
            failed += 1
            notes.extend(f"{name}: {b}" for b in bad[:5])
    layer: dict[str, float] = {}
    if tr.enabled:
        layer = w.probes()
        tr.flush()
        layer["trace.overhead_s"] = (
            statistics.median(o.wall_s for o in traced)
            - statistics.median(o.wall_s for o in plain)
        )
        layer["trace.span_coverage"] = min(coverage)
    return {
        "metrics": {
            "setup_s": setup_s,
            "cold_s": cold.wall_s,
            "turns_per_s": statistics.median(o.turns / o.wall_s for o in plain),
            "bytes_per_turn": w.results["bytes_per_turn"],
        },
        "op_walls": [o.wall_s for o in plain],
        "traced_walls": [o.wall_s for o in traced],
        "coverage": coverage,
        "results": w.results,
        "samples": w.samples,
        "layer": layer,
        "attempted": attempted,
        "failed": failed,
        "notes": notes,
    }


def layer_metrics(tr, result) -> dict[str, float]:
    """Median of every span counter over the span's occurrences, the
    per-operation layer samples, and the probes' one-off figures."""
    from spans import SPARK_COUNTERS

    by_name: dict[str, list[dict]] = {}
    for s in tr.spans:
        by_name.setdefault(s["name"], []).append(s)
    out: dict[str, float] = {}
    for name, recs in by_name.items():
        for c in SPARK_COUNTERS:
            vals = [r[c] for r in recs if c in r]
            if vals:
                out[f"{name}.{c}"] = float(statistics.median(vals))
    out["refresh.slot_util"] = statistics.median(
        r["core_s"] / (r["s"] * tr.slots) for r in by_name["refresh"]
    )
    for k, vals in result["samples"].items():
        out[k] = float(statistics.median(vals))
    out.update(result["layer"])
    return out


def report(args, contract: dict, result: dict, tr) -> None:
    units = {d["name"]: d["unit"] for d in contract["end_to_end"] + contract["per_layer"]}
    m = result["metrics"]
    attempted, failed = result["attempted"], result["failed"]
    for note in result["notes"]:
        print(f"perfbench: check failed: {note}", file=sys.stderr)
    walls = result["op_walls"]
    n = len(walls)
    rows = [
        ("setup_s", m["setup_s"], "s", "session build + prewarm + staging"),
        ("cold_s", m["cold_s"], "s", "first operation after set-up"),
        ("turns_per_s", m["turns_per_s"], "1/s", f"median over n={n} steady operations"),
        ("refresh_p50_s" if args.workload == "ingest_refresh" else "op_p50_s",
         statistics.median(walls), "s", f"n={n}: {' '.join(f'{x:.3f}' for x in walls)}"),
    ]
    if "recall" in result["results"]:
        rows.append(("recall", result["results"]["recall"], "ratio", "planted pairs found"))
    rows += [
        ("bytes_per_turn", m["bytes_per_turn"], "B", "stored bytes per input turn"),
        ("peak_rss_mb", m["peak_rss_mb"], "MB", "process tree"),
        ("error_rate", failed / attempted, "ratio", f"{failed} failed / {attempted} attempted"),
    ]
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    for name, value, unit, note in rows:
        print(f"{name:<16} {value:>14.6g} {unit:<6} {note}")
    if args.trace:
        layer = layer_metrics(tr, result)
        names = [d["name"] for d in contract["per_layer"]]
        missing = [k for k in names if k not in layer]
        if missing:
            raise RuntimeError(f"per-layer metrics not measured: {missing}")
        for k in names:
            print(f"{k:<34} {layer[k]:>14.6g} {units[k]}")
        for what, xs in (("traced operation walls", result["traced_walls"]),
                         ("span coverage per traced operation", result["coverage"])):
            print(f"{what}: {' '.join(f'{x:.3f}' for x in xs)}")
        trace_file = WORK / f"trace-{args.workload}-{args.seed}.json"
        trace_file.write_text(json.dumps(tr.spans, indent=1))
        print(f"spans: {trace_file.relative_to(ROOT)}")
        values = layer
    else:
        names = [d["name"] for d in contract["end_to_end"]]
        values = m
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in names},
    }))


def run_all(args) -> int:
    """Every workload, each in its own process, then one summary line."""
    summary = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"perfbench: {name} exited with {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        print("\n".join(lines[:-1]), flush=True)
        res = json.loads(lines[-1])
        summary["correct"] &= res["correct"]
        summary["attempted"] += res["attempted"]
        summary["failed"] += res["failed"]
        summary["metrics"][name] = res["metrics"]
    print(json.dumps(summary))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
