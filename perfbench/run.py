"""Benchmark for the dbt_pro3_spark engine: three closed-loop workloads.

Run from the root of a checkout:

    python3 perfbench/run.py --workload medallion_build --seed 1 --seconds 12 --trace 0

One run is one fresh process with one client: it starts the program's
SparkSession on local[4], lands the workload's seeded inputs as parquet,
runs a fixed number of warm-up ops, then a fixed number of timed ops
(``--seconds`` divided by the workload's nominal op time, so the count never
depends on measured time), checks the outputs, and prints one JSON line as
the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics: ``setup_s`` (interpreter and
JVM start, input landing, warm-up), ``op_p50_s`` (median unit-op latency)
and ``rows_per_s`` (input rows per second of the timed window). ``--trace 1``
runs the same ops (four at least), half of them inside in-memory spans (see
harness.Tracer), and reports per-layer metrics, ``error_rate`` and the
tracing overhead (median traced op minus median untraced op). ``--spans
FILE`` also writes the spans as JSON lines.

``--repeat N`` runs N fresh processes with seeds seed..seed+N-1 (``--workload
all`` runs every workload) and prints each metric's median and quartiles.

Why it is built this way (each point removes a measured source of noise):

- Latency keeps falling for dozens of ops after the JVM starts (JIT). Op
  counts are fixed, never derived from elapsed time, so every run lands at
  the same point of that slope.
- The program's one-minute periodic System.gc() costs 300-600 ms. The
  benchmark keeps it, as the program ships it; a run's timed ops end before
  the first one (one interval after session start) in most runs, and
  ``jvm.gc_ms_per_op`` shows it where it lands.
- Per-key curation times differ by 10x, so a curation op is a whole pass
  over the keys, never a single key.
- In-memory ``createDataFrame`` fixtures made builds 3-4x slower than
  parquet-landed ones; every input is landed as parquet first.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

import harness  # imports nothing from pyspark or the program
from workloads import CURATION_KEYS, WORKLOADS


# name -> unit; every workload reports all of them
E2E = {"setup_s": "s", "op_p50_s": "s", "rows_per_s": "1/s"}


def layer_metrics(
    tracer, session_s: float, traced: list, plain: list, gc_per_op: float, rss_mb: float,
    error_rate: float,
) -> dict:
    """Per-layer numbers from the traced ops (0 where the workload bypasses a layer)."""

    def med(name: str, attr: str = "seconds") -> float:
        vals = tracer.per_op(name, attr)
        return statistics.median(vals) if vals else 0.0

    def setup_span(name: str) -> float:
        return sum(s.end - s.start for s in tracer.spans if s.name == name and s.op < 0)

    def stat(key: str) -> float:
        vals = [r.stats[key] for r in traced + plain if key in r.stats]
        return statistics.median(vals) if vals else 0.0

    reads = sorted(x for r in traced + plain for x in r.reads)
    n_traced = max(1, len({s.op for s in tracer.spans if s.op >= 0}))
    self_by_layer: dict[str, float] = {}
    for name, secs in tracer.self_times(ops_only=True).items():
        layer = name.split(".")[0]
        if layer in ("pipeline", "plans", "sources", "queries", "ext"):
            self_by_layer[layer] = self_by_layer.get(layer, 0.0) + secs
    return {
        "session.start_s": (session_s, "s"),
        "pipeline.fixtures_s": (setup_span("pipeline.fixtures"), "s"),
        "pipeline.bronze_s": (med("pipeline.bronze"), "s"),
        "pipeline.silver_s": (med("pipeline.silver"), "s"),
        "pipeline.gold_s": (med("pipeline.gold"), "s"),
        "plans.registry.run_s": (med("plans.registry.run"), "s"),
        "plans.registry.jobs_per_build": (med("plans.registry.run", "jobs"), "count"),
        "plans.incremental.write_s": (med("plans.incremental.write"), "s"),
        "plans.incremental.jobs_per_write": (med("plans.incremental.write", "jobs"), "count"),
        "plans.incremental.bytes_written_per_write": (stat("bytes_written"), "bytes"),
        "plans.incremental.store_bytes": (stat("store_bytes"), "bytes"),
        "plans.incremental.read_s": (med("plans.incremental.read"), "s"),
        "plans.incremental.read_version_s": (med("plans.incremental.read_version"), "s"),
        "incremental.read_p50_s": (harness.percentile(reads, 50) if reads else 0.0, "s"),
        "incremental.read_p90_s": (harness.percentile(reads, 90) if reads else 0.0, "s"),
        "incremental.write_amp": (stat("write_amp"), "ratio"),
        "incremental.space_amp": (stat("space_amp"), "ratio"),
        "sources.load_s": (med("sources.load"), "s"),
        "sources.load_calls_per_op": (med("sources.load", "count"), "count"),
        "queries.build_s": (med("queries.build"), "s"),
        "queries.exec_s": (med("queries.exec"), "s"),
        "queries.jobs_per_pass": (med("queries.pass", "jobs"), "count"),
        **{f"queries.{k}_s": (med(f"queries.{k}"), "s") for k in CURATION_KEYS},
        "ext.dedup.exact_dedup_s": (med("ext.dedup.exact_dedup"), "s"),
        "ext.dedup.minhash_banded_pairs_s": (med("ext.dedup.minhash_banded_pairs"), "s"),
        "ext.text.quality_features_s": (med("ext.text.quality_features"), "s"),
        **{
            f"self.{layer}_s": (self_by_layer.get(layer, 0.0) / n_traced, "s")
            for layer in ("pipeline", "plans", "sources", "queries", "ext")
        },
        "jvm.gc_ms_per_op": (gc_per_op, "ms"),
        "jvm.peak_rss_mb": (rss_mb, "MB"),
        "error_rate": (error_rate, "ratio"),
        "trace.overhead_s": (
            statistics.median(r.latency for r in traced) - statistics.median(r.latency for r in plain)
            if traced and plain else 0.0,
            "s",
        ),
    }


def run_once(args) -> int:
    t_begin = time.perf_counter()
    try:
        tmp = harness.prepare_process()
    except (harness.ProgramMissing, ImportError) as e:
        print(f"perfbench: cannot run: {e}", file=sys.stderr)
        return 2
    spark = None
    try:
        t0 = time.perf_counter()
        spark = harness.start_session()
        session_s = time.perf_counter() - t0
        jvm = harness.Jvm(spark)
        tracer = harness.Tracer(spark, enabled=bool(args.trace))
        wl = WORKLOADS[args.workload](spark, tmp, args.seed, tracer)
        n_ops = wl.ops_for(args.seconds)
        if args.trace:
            # two traced and two untraced ops at least, for the overhead
            n_ops = max(n_ops, 4)
        t1 = time.perf_counter()
        wl.land(n_ops)
        land_s = time.perf_counter() - t1
        attempted = failed = 0

        def attempt(i: int):
            nonlocal attempted, failed
            try:
                res = wl.op(i)
            except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
                traceback.print_exc()
                res = None
            attempted += 1
            failed += res is None or bool(res.errors)
            if res is not None:
                print(f"op {i}: {res.latency:.3f} s", file=sys.stderr)
                if res.errors:
                    print(f"op {i}: " + "; ".join(res.errors), file=sys.stderr)
            return res

        tracer.op = -1
        for i in range(wl.warmup_ops):
            attempt(-1 - i)
        setup_s = time.perf_counter() - t_begin
        print(
            f"setup {setup_s:.2f} s: session {session_s:.2f} s, inputs {land_s:.2f} s, "
            f"{wl.warmup_ops} warm-up ops {setup_s - session_s - land_s:.2f} s",
            file=sys.stderr,
        )

        results, traced, plain = [], [], []
        gc0 = jvm.gc_ms()
        w0 = time.perf_counter()
        for i in range(n_ops):
            tracer.op = i
            # traced, untraced, untraced, traced, ...: a latency slope
            # over the window cancels out of the overhead estimate
            tracer.enabled = bool(args.trace) and i % 4 in (0, 3)
            res = attempt(i)
            if res is not None:
                results.append(res)
                (traced if tracer.enabled else plain).append(res)
        window_s = time.perf_counter() - w0
        gc_per_op = (jvm.gc_ms() - gc0) / n_ops
        tracer.enabled = False
        tracer.op = -1

        attempted += 1
        t1 = time.perf_counter()
        try:
            errors = wl.check()
        except Exception as e:  # noqa: BLE001
            traceback.print_exc()
            errors = [f"check raised {type(e).__name__}"]
        if errors:
            failed += 1
            print("check: " + "; ".join(errors), file=sys.stderr)
        check_s = time.perf_counter() - t1
        rss = jvm.peak_rss_mb()

        if args.trace:
            metrics = layer_metrics(
                tracer, session_s, traced, plain, gc_per_op, rss, failed / attempted
            )
            for name, secs in sorted(tracer.self_times(ops_only=True).items()):
                print(f"self {name:40s} {secs:9.3f} s", file=sys.stderr)
            if args.spans:
                tracer.dump(args.spans)
        else:
            values = {
                "setup_s": setup_s,
                "op_p50_s": statistics.median(r.latency for r in results),
                "rows_per_s": sum(r.rows for r in results) / window_s,
            }
            metrics = {k: (values[k], unit) for k, unit in E2E.items()}
        print(
            f"{args.workload}: {n_ops} timed ops in {window_s:.2f} s, "
            f"checks {check_s:.2f} s",
            file=sys.stderr,
        )
    except Exception:  # noqa: BLE001 - set-up failed: no result line
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            harness.stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            tmp.parent.rmdir()
        except OSError:
            pass
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out), flush=True)
    return 0


def repeat(args) -> int:
    """N fresh processes per workload; median and quartiles of each metric."""
    names = tuple(WORKLOADS) if args.workload == "all" else (args.workload,)
    summary = {}
    for name in names:
        values: dict[str, list[float]] = {}
        units: dict[str, str] = {}
        bad = 0
        for i in range(args.repeat):
            cmd = [
                sys.executable, str(Path(__file__).resolve()), "--workload", name,
                "--seed", str(args.seed + i), "--seconds", str(args.seconds),
                "--trace", str(args.trace),
            ]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                bad += 1
                print(f"{name} seed {args.seed + i}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
                      file=sys.stderr)
                continue
            res = json.loads(lines[-1])
            bad += not res["correct"]
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
                units[k] = v["unit"]
            print(f"{name} seed {args.seed + i}: " + json.dumps(res), file=sys.stderr)
        rows = {}
        print(f"\n{name}: {args.repeat} runs, {bad} failed or incorrect")
        print(f"  {'metric':42s} {'unit':6s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'iqr/med':>8s}")
        for k, vals in values.items():
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            spread = (q3 - q1) / med if med else 0.0
            rows[k] = {"median": med, "q1": q1, "q3": q3, "spread": spread, "unit": units[k]}
            print(f"  {k:42s} {units[k]:6s} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f}")
        summary[name] = {"runs": args.repeat, "bad": bad, "metrics": rows}
    print(json.dumps(summary))
    return 0 if all(s["bad"] == 0 for s in summary.values()) else 1


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--spans", help="with --trace 1: write the spans here as JSON lines")
    p.add_argument("--repeat", type=int, default=0, help="run N fresh processes and summarise")
    args = p.parse_args()
    if args.spans:
        args.spans = str(Path(args.spans).resolve())  # the run chdirs into its temp dir
    if args.repeat:
        return repeat(args)
    if args.workload == "all":
        p.error("--workload all needs --repeat")
    return run_once(args)


if __name__ == "__main__":
    sys.exit(main())
