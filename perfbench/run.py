#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload incremental_round --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. One process, one client, closed loop:
set up (session, inputs, base load, warm-up ops, output checks), then run
ops back to back until ``--seconds`` have passed and at least
``MIN_OPS`` ops are done. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` alternates untraced and traced ops (at least untraced,
traced, untraced) and prints the per-layer metrics of the traced ones
(see README.md). Everything the run
writes goes under ``.perfbench_work/`` in the checkout and is removed at
the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "spaceparts_data_pipeline_spark"

WORKLOAD_NAMES = ("incremental_round", "query_mix")
#: timed ops per run at least; trace runs alternate untraced and traced ops
MIN_OPS = {0: 1, 1: 3}

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "stored_bytes_per_source_byte": "ratio",
              "jvm_peak_rss_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    from workloads import QUERY_MIX

    units = {f"spark.{k}": u for k, u in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("driver_side_s", "s"),
        ("executor_run_s", "s"), ("input_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
        ("spill_bytes", "bytes"))}
    units["session.start_s"] = "s"
    for layer, extra in (
            ("sources", ()),
            ("plans.bronze", ("rows_written", "bytes_written")),
            ("plans.silver", ("rows_written", "quarantined_rows", "bytes_written",
                              "rewritten_rows_per_incoming_row")),
            ("plans.gold", ("rows_written", "bytes_written", "merged_rows_per_changed_row")),
            ("plans.logs", ("calls",)),
            ("operators.merge", ("partitions_touched",)),
            ("operators.maintenance", ("calls",)),
            ("plans.corpus", ())):
        units[f"{layer}.self_s"] = "s"
        units[f"{layer}.jobs"] = "count"
        for k in extra:
            units[f"{layer}.{k}"] = ("bytes" if k.endswith("bytes_written") else
                                     "ratio" if "_per_" in k else "count")
    units.update({"queries.build_s": "s", "queries.exec_s": "s", "queries.jobs": "count"})
    units.update({f"queries.{q}.s": "s" for q in QUERY_MIX})
    units.update({"unattributed_s": "s", "tracing_overhead_s": "s"})
    return units


def _isolate(work: str) -> None:
    """Keep Spark's warehouse, scratch and temp files inside ``work``."""
    for d in ("warehouse", "local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ.update({
        "SPARK_WAREHOUSE_DIR": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # UsePerfData off: the JVM would write /tmp/hsperfdata_<user>
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "TZ": "UTC",
    })
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))  # nproc
    mem = os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # initial heap = max heap: heap resizing adds run-to-run spread to
    # op times and to the peak RSS. C1 only (TieredStopAtLevel=1): with
    # C2, op times kept falling for ten rounds and more, so a run's timed
    # op measured how far C2 had got; with C1 the JVM is steady within
    # the warm-up
    os.environ["PYSPARK_SUBMIT_ARGS"] = (f"--driver-java-options '-Xms{mem} -XX:TieredStopAtLevel=1'"
                                         " pyspark-shell")
    time.tzset()
    import tempfile

    tempfile.tempdir = tmp


def _import_package() -> None:
    """Import the package from this checkout, never from elsewhere."""
    sys.path.insert(0, ROOT)
    import importlib

    pkg = importlib.import_module(PACKAGE)
    if not os.path.abspath(pkg.__file__).startswith(os.path.join(ROOT, PACKAGE)):
        raise ImportError(f"{PACKAGE} resolved outside the checkout: {pkg.__file__}")


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found")


#: per-layer metrics summed from the query spans' layers (workloads.QueryMix.op)
SUMS = {
    "queries.build_s": ("queries.build.self_s",),
    "queries.exec_s": ("queries.exec.self_s",),
    "queries.jobs": ("queries.build.jobs", "queries.exec.jobs", "queries.query.jobs"),
}
#: per-layer ratios: metric -> (numerator, denominator) of one op's counts
RATIOS = {
    # silver rows written per row bronze handed it
    "plans.silver.rewritten_rows_per_incoming_row": ("plans.silver.rows_written",
                                                     "plans.bronze.rows_written"),
    # rows the gold MERGE rewrote per changed row it merged
    "plans.gold.merged_rows_per_changed_row": ("operators.merge.own_rows_written",
                                               "plans.gold.changed_rows"),
}


def _ratio(m: dict, num: str, den: str) -> float:
    return m.get(num, 0) / m[den] if m.get(den) else 0.0


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    _import_package()
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    from spaceparts_data_pipeline_spark.session import get_spark

    import tracing as tr
    from workloads import WORKLOADS

    problems: list[str] = []
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{workload}")
    session_s = time.perf_counter() - t0
    proc = spark.sparkContext._gateway.proc
    try:
        spark.sparkContext.setLogLevel("ERROR")
        jobs = tr.SparkJobs(spark.sparkContext)
        w = WORKLOADS[workload](spark, work, seed)
        problems += w.setup()
        attempted = failed = 0

        def one_op(traced: bool):
            nonlocal attempted, failed
            w.prepare()
            # start every op from a collected heap, so GC debt of the
            # previous op or of the checks is not charged to this one
            spark.sparkContext._jvm.System.gc()
            tracer = tr.Tracer(jobs, f"perfbench-op{attempted}")
            if traced:
                tracer.install()
            root = tracer.open("op", "op")
            start = time.perf_counter()
            try:
                result = w.op(tracer if traced else None)
                err = None
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                result, err = None, exc
            wall = time.perf_counter() - start
            tracer.close(root)
            tracer.uninstall()
            attempted += 1
            try:
                bad = [f"op raised {err!r}"] if err else w.check(result)
            except Exception as exc:  # noqa: BLE001 - a check that cannot run fails the op
                bad = [f"check raised {exc!r}"]
            if bad:
                failed += 1
                problems.extend(bad)
            job_spans, job_info = jobs.collect(tracer.spans)
            m = tr.op_metrics(tracer.spans, job_spans, job_info)
            print(f"perfbench: op {attempted - 1}{' traced' if traced else ''} {wall:.3f} s, "
                  f"{m['spark.jobs']} jobs, driver side {m['spark.driver_side_s']:.3f} s",
                  file=sys.stderr)
            if traced and result is not None:
                m.update(w.result_counts(result))
            return wall, m

        for _ in range(w.warm_ops):
            one_op(False)
        setup_s = time.perf_counter() - t0

        walls, traced_walls, layer, written = [], [], [], []
        deadline = time.perf_counter() + seconds
        i = 0
        while i < MIN_OPS[int(trace)] or time.perf_counter() < deadline:
            traced = trace and i % 2 == 1
            wall, m = one_op(traced)
            if traced:
                traced_walls.append(wall)
                layer.append(m)
            else:
                walls.append(wall)
                written.append(m["spark.output_bytes"])
            i += 1
        t_finish = time.perf_counter()
        problems += w.finish()
        print(f"perfbench: setup {setup_s:.3f} s, session {session_s:.3f} s, "
              f"finish {time.perf_counter() - t_finish:.3f} s", file=sys.stderr)
        if trace:
            out = {name: {"value": statistics.median(m.get(name, 0) for m in layer), "unit": unit}
                   for name, unit in per_layer_units().items()}
            for name, parts in SUMS.items():
                out[name]["value"] = statistics.median(sum(m.get(p, 0) for p in parts) for m in layer)
            for name, (num, den) in RATIOS.items():
                out[name]["value"] = statistics.median(_ratio(m, num, den) for m in layer)
            out["session.start_s"]["value"] = session_s
            out["tracing_overhead_s"]["value"] = statistics.median(traced_walls) - statistics.median(walls)
        else:
            out = {
                "setup_s": setup_s,
                "op_p50_s": statistics.median(walls),
                "stored_bytes_per_source_byte": w.stored_bytes_per_source_byte(written),
                "jvm_peak_rss_mb": jvm_peak_rss_mb(spark),
            }
            out = {k: {"value": v, "unit": END_TO_END[k]} for k, v in out.items()}
    finally:
        spark.stop()
        spark.sparkContext._gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    return {"correct": not problems, "attempted": attempted, "failed": failed, "metrics": out}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except ImportError as exc:
        print(f"perfbench: cannot import the package from {ROOT}: {exc}", file=sys.stderr)
        return 2
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
