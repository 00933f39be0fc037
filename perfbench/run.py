#!/usr/bin/env python3
"""Benchmark of the etl_sendas_spark package on local[<cores>].

    python3 perfbench/run.py --workload month_end_batch --seed 1 --seconds 15 --trace 0

Run from the repository root. Inputs are generated from ``--seed``;
the run sets up (input generation, session start, one untimed warm-up
unit), then runs units for about ``--seconds`` seconds, checking every
unit's output. The last line of standard output is one JSON object:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Exit code 1 means an output check failed, 2 that the
package could not be found. See perfbench/LAYERS.md for what each
metric measures and which layer moves which end-to-end metric.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

END_TO_END = {
    "setup_s": "s",
    "run_wall_s": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "setup.gen_s": "s",
    "oracle.s": "s",
    "setup.warm_up_s": "s",
    "readers.input_bytes": "bytes",
    "readers.rows_in": "count",
    "materialize.busy_s": "s",
    "materialize.pins": "count",
    "materialize.rows_pinned": "count",
    "materialize.shuffle_write_bytes": "bytes",
    "capital_sendas.write_s": "s",
    "capital_sendas.shuffle_write_bytes": "bytes",
    "capital_sendas.spill_bytes": "bytes",
    "capital_sendas.rows_out": "count",
    "comprobar.write_s": "s",
    "comprobar.rows_out": "count",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "text.quality_s": "s",
    "text.rejected_ratio": "ratio",
    "dedupe.exact_s": "s",
    "dedupe.near_s": "s",
    "dedupe.shuffle_write_bytes": "bytes",
    "dedupe.near_recall": "ratio",
    "refresh.accepted_ratio": "ratio",
    "txlog.commits": "count",
    "txlog.commit_s": "s",
    "txlog.bytes_written": "bytes",
    "txlog.files_added": "count",
    "txlog.log_entries": "count",
    "txlog.read_s": "s",
    "txlog.snapshot_read_s": "s",
    "txlog_source.backlog_commits": "count",
    "txlog_source.rows_per_batch": "count",
    "txlog_source.get_batch_s": "s",
    "sessions.batches": "count",
    "sessions.add_batch_s": "s",
    "sessions.trigger_s": "s",
    "sessions.wal_commit_s": "s",
    "sessions.planning_s": "s",
    "sessions.state_rows": "count",
    "sessions.state_bytes": "bytes",
    "sessions.state_rows_removed": "count",
    "stream.event_latency_p50_s": "s",
    "stream.event_latency_p95_s": "s",
    "stream.events": "count",
    "stream.batches": "count",
    "stream.drain_s": "s",
    "stream.drain_rows_per_s": "rows/s",
    "generator.lag_s": "s",
    "generator.commits": "count",
    "spark.jobs_per_unit": "count",
    "spark.tasks_per_unit": "count",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.cpu_util": "ratio",
    "jvm.jit_s": "s",
    "jvm.gc_s": "s",
    "trace.overhead_s": "s",
    "trace.unit_self_s": "s",
    "trace.hook_s": "s",
    "run.units": "count",
    "run.ops_failed_ratio": "ratio",
    "rss.driver_mb": "MB",
    "rss.jvm_mb": "MB",
    "rss.workers_mb": "MB",
    "host.loadavg_1m": "load",
    "host.steal_pct": "%",
    "host.busy_pct": "%",
}

WORKLOADS = {
    "month_end_batch": ("month_end", "MonthEnd"),
    "corpus_refresh_waves": ("corpus", "Corpus"),
}


def _args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_env(root: str, work: str, cores: int) -> None:
    """Everything the session and its workers inherit: scratch space
    inside the checkout, one Spark slot per core, and the package on
    the workers' import path."""
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")


def _stop(spark, rss) -> None:
    """Stop Spark and wait for the JVM and Python workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while rss.children() and time.monotonic() < deadline:
        time.sleep(0.1)


def _spark_metrics(jobs: list[dict], wall: float, cores: int) -> dict:
    from common import layer_totals, pinned_rows

    t = layer_totals(jobs, lambda j: "all").get("all")
    pins = [j for j in jobs if "materialize.py" in (j["site"] or "")]
    m = layer_totals(pins, lambda j: "pins").get("pins")
    return {
        "spark.jobs_per_unit": t["jobs"] if t else 0,
        "spark.tasks_per_unit": t["tasks"] if t else 0,
        "spark.executor_cpu_s": t["cpu_s"] if t else 0.0,
        "spark.shuffle_write_bytes": t["shuffle_write"] if t else 0,
        "spark.spill_bytes": t["spill"] if t else 0,
        "spark.cpu_util": (t["cpu_s"] / (wall * cores)) if t else 0.0,
        "readers.input_bytes": t["in_bytes"] if t else 0,
        "readers.rows_in": t["in_rows"] if t else 0,
        "materialize.busy_s": m["busy_s"] if m else 0.0,
        "materialize.pins": len(m["sites"]) if m else 0,
        "materialize.rows_pinned": pinned_rows(pins),
        "materialize.shuffle_write_bytes": m["shuffle_write"] if m else 0,
    }


class Tally:
    """Units attempted and failed in one run, and the measured ones."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.units: list[dict] = []  # measured units that passed their checks
        self.layers: list[dict] = []  # per-layer figures of the traced ones

    def attempt(self, wl, k: int, rss, counters=None) -> tuple[float | None, int, bool, dict]:
        """Run and check unit ``k``; a failure is counted, not fatal.
        ``counters()``, if given, is read just before and just after the
        unit, and the unit's share of each counter returned."""
        self.attempted += 1
        used = {}
        try:
            before = counters() if counters else {}
            wall, rows = wl.unit(k)
            if counters:
                used = {n: v - before[n] for n, v in counters().items()}
            with rss.paused():
                errs = wl.check(k)
        except Exception as e:  # noqa: BLE001 — counted as a failed unit
            traceback.print_exc()
            wall, rows, errs = None, 0, [f"unit {k}: {type(e).__name__}: {e}"]
        if errs:
            self.failed += 1
            self.errors.extend(errs)
        return wall, rows, not errs, used


# unit 0 warms the session up during set-up; a traced run traces from
# unit TRACED_FROM on, and the unit before it is the untraced baseline
# of the tracing overhead
TRACED_FROM = 2


def _warm_up(wl, tally: Tally, rss) -> float:
    """Run and check unit 0, untimed as a unit: the first unit of a
    session runs about three times slower than later ones (JVM class
    loading and JIT, Python worker start). Returns its wall."""
    wall, _rows, _ok, _used = tally.attempt(wl, 0, rss)
    wl.cleanup(0)
    return wall or 0.0


def _measure(wl, tracer, tally: Tally, rss, args, cores: int) -> None:
    """Run units from unit 1 on for about ``args.seconds``: another unit
    starts only while the window plus the last unit's wall fits, after a
    minimum of one unit (``TRACED_FROM`` when traced)."""
    from common import jvm_counters

    need = TRACED_FROM if args.trace else 1
    window = time.perf_counter()
    for k in range(1, wl.max_units):
        traced = bool(args.trace) and k >= TRACED_FROM
        tracer.active = traced
        hook0 = tracer.hook_s
        wall, rows, ok, used = tally.attempt(
            wl, k, rss, (lambda: jvm_counters(wl.spark)) if traced else None
        )
        if ok:
            tally.units.append({"k": k, "wall": wall, "rows": rows, "traced": traced})
        if ok and traced:
            try:
                with rss.paused():
                    layer, jobs = wl.layer_metrics(k)
            except LookupError as e:  # a job no layer claims fails the traced unit
                tally.failed += 1
                tally.errors.append(f"unit {k}: {e}")
                tally.units.pop()
                break
            layer.update(_spark_metrics(jobs, wall, cores))
            layer.update(used)
            unit_span = next(s for s in tracer.spans if s["unit"] == k and s["name"] == "unit")
            layer["trace.unit_self_s"] = tracer.self_time(unit_span)
            layer["trace.hook_s"] = tracer.hook_s - hook0
            tally.layers.append(layer)
        tracer.active = False
        wl.cleanup(k)
        if k >= need and time.perf_counter() - window + (wall or 0.0) > args.seconds:
            break


def _oracle_s(oracle) -> float:
    if oracle is None:
        return 0.0
    try:
        return oracle.result()["oracle_s"]
    except RuntimeError:  # already counted: the checks that needed it failed
        return 0.0


def run(args) -> int:
    root = os.getcwd()
    name = args.workload
    runs_dir = os.path.join(root, ".perfbench_run")
    tag = f"{name}-seed{args.seed}-trace{args.trace}-pid{os.getpid()}"
    work = os.path.join(runs_dir, tag)
    sys.path.insert(0, root)
    if importlib.util.find_spec("etl_sendas_spark") is None:
        print("perfbench: package etl_sendas_spark not found under "
              f"{root}; run from the repository root", file=sys.stderr)
        return 2
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = len(os.sched_getaffinity(0))
    _prepare_env(root, work, cores)

    from common import HostWatch, RssSampler, Tracer, in_child, median, start_spark

    module, cls = WORKLOADS[name]
    wl_cls = getattr(importlib.import_module(module), cls)
    host = HostWatch()
    tally = Tally()
    # the inputs come from a child process that has exited before the
    # session starts, so generating them never shows in peak RSS; the
    # oracle, if the workload has one, runs in another child at the
    # lowest priority beside the rest of set-up, left out of the RSS
    in_dir = os.path.join(work, "inputs")
    prepared = in_child(wl_cls.prepare_inputs, args.seed, in_dir, bool(args.trace))
    gen_s = prepared["gen_s"]
    oracle = wl_cls.oracle(in_dir)
    try:
        with RssSampler(exclude=[oracle.pid] if oracle else []) as rss:
            t0 = time.perf_counter()
            spark = start_spark(work)
            session_s = time.perf_counter() - t0
            ready_s = time.perf_counter() - T_START
            tracer = Tracer(spark, hook=bool(args.trace))
            wl = wl_cls(spark, tracer, work, prepared, oracle)
            del prepared
            try:
                warm_up_s = _warm_up(wl, tally, rss)
                setup_s = ready_s + warm_up_s
                _measure(wl, tracer, tally, rss, args, cores)
                try:
                    attempted, failed, errors = wl.finish(rss)
                except Exception as e:  # noqa: BLE001 — counted as a failed unit
                    traceback.print_exc()
                    attempted, failed, errors = 1, 1, [f"finish: {type(e).__name__}: {e}"]
                tally.attempted += attempted
                tally.failed += failed
                tally.errors.extend(errors)
            finally:
                tracer.close()
                _stop(spark, rss)
        oracle_s = _oracle_s(oracle)
    finally:
        if oracle is not None:
            oracle.stop()

    units = tally.units
    plain = [u["wall"] for u in units if not u["traced"]]
    hostr = host.report()
    e2e = {
        "setup_s": setup_s,
        "run_wall_s": median(plain),
        "rows_per_s": median([u["rows"] / u["wall"] for u in units if not u["traced"]]),
        "peak_rss_mb": rss.peak_mb(),
    }
    if args.trace:
        metrics = {k: median([row.get(k, 0) for row in tally.layers]) for k in PER_LAYER}
        metrics.update(wl.run_layers)
        metrics.update({
            "session.start_s": session_s,
            "setup.gen_s": gen_s,
            "oracle.s": oracle_s,
            "setup.warm_up_s": warm_up_s,
            "trace.overhead_s": median([u["wall"] for u in units if u["traced"]])
            - median([u["wall"] for u in units if u["k"] == TRACED_FROM - 1]),
            "run.units": len(units),
            "run.ops_failed_ratio": tally.failed / tally.attempted,
            "rss.driver_mb": rss.peak_mb("driver"),
            "rss.jvm_mb": rss.peak_mb("jvm"),
            "rss.workers_mb": rss.peak_mb("workers"),
            "host.loadavg_1m": hostr["loadavg_1m_end"],
            "host.steal_pct": hostr["steal_pct"],
            "host.busy_pct": hostr["busy_pct"],
        })
        units_of = PER_LAYER
        spans_dir = os.path.join(runs_dir, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        tracer.dump(os.path.join(spans_dir, f"{tag}.jsonl"))
    else:
        metrics, units_of = e2e, END_TO_END

    record = {
        "run": tag, "workload": name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "inputs": wl.props, "e2e": e2e, "host": hostr,
        "units": units, "attempted": tally.attempted, "failed": tally.failed,
        "errors": tally.errors, "session_s": session_s, "gen_s": gen_s,
        "oracle_s": oracle_s, "warm_up_s": warm_up_s, "stream": wl.run_layers,
        "process_s": time.perf_counter() - T_START,
        "peak_rss_parts_mb": {k: rss.peak_mb(k) for k in ("driver", "jvm", "workers")},
    }
    with open(os.path.join(runs_dir, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record, default=str) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    for e in tally.errors:
        print(f"perfbench: CHECK FAILED: {e}", file=sys.stderr)
    print(
        f"perfbench: {name} seed={args.seed} units={len(units)} "
        f"walls={[round(u['wall'], 3) for u in units]} host={hostr}",
        file=sys.stderr,
    )
    correct = not tally.errors
    print(json.dumps({
        "correct": correct,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units_of.items()},
    }))
    return 0 if correct else 1


def main(argv=None) -> int:
    return run(_args(argv))


if __name__ == "__main__":
    sys.exit(main())
