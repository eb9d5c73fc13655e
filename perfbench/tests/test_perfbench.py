"""Tests of the benchmark itself: generator determinism, span arithmetic,
job attribution and metric names. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _landing(root: str, seed: int) -> list[dict]:
    g = gen.SalesLanding(root, seed, 2_000)
    return [g.write_base(), g.write_round(), g.write_round()]


def test_generator_same_seed_same_bytes(tmp_path):
    a = _landing(str(tmp_path / "a"), 5)
    b = _landing(str(tmp_path / "b"), 5)
    assert a == b
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))
    gen.write_analytics(str(tmp_path / "qa"), 5)
    gen.write_analytics(str(tmp_path / "qb"), 5)
    assert _files(str(tmp_path / "qa")) == _files(str(tmp_path / "qb"))


def test_generator_other_seed_other_bytes(tmp_path):
    _landing(str(tmp_path / "a"), 5)
    _landing(str(tmp_path / "b"), 6)
    assert _files(str(tmp_path / "a")) != _files(str(tmp_path / "b"))


def test_generator_manifest_counts(tmp_path):
    base, r1, _ = _landing(str(tmp_path / "a"), 5)
    assert base["quarantinable"] > 0
    # 1% re-sent keys and 0.5% new keys, all distinct
    assert (r1["changed"], r1["new"]) == (20, 10)
    assert r1["merged_keys"] == 30
    assert r1["quarantinable"] == 4 and r1["delta_bytes"] > 0


class FakeJobs:
    """Stands in for SparkJobs: ``submit`` runs a job in the current group."""

    def __init__(self):
        self.group = None
        self.next_id = 0
        self.by_group: dict[str, list[int]] = {}

    def set_group(self, gid):
        self.group = gid

    def submit(self) -> int:
        self.next_id += 1
        self.by_group.setdefault(self.group, []).append(self.next_id)
        return self.next_id

    def jobs_for_group(self, gid):
        return self.by_group.get(gid, [])


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def _job(start, end, out_rows=0):
    return {"start": start, "end": end, "stages": 1, "tasks": 2, "executor_run_s": 0.5,
            "input_bytes": 10, "shuffle_write_bytes": 0, "spill_bytes": 0,
            "output_records": out_rows, "output_bytes": out_rows * 8}


def _nested_trace():
    """op [0, 10] > silver [1, 9] > maintenance [2, 5], merge [6, 8];
    one job in each span, and one in silver after maintenance closed."""
    jobs, clock = FakeJobs(), FakeClock()
    t = tracing.Tracer(jobs, "test", clock=clock)
    ids = {}
    root = t.open("op", "op")
    ids["root"] = jobs.submit()
    clock.t = 1
    silver = t.open("plans.silver.run_full", "plans.silver")
    clock.t = 2
    maint = t.open("operators.maintenance.overwrite_via_staging", "operators.maintenance")
    ids["maint"] = jobs.submit()
    clock.t = 5
    t.close(maint)
    ids["silver"] = jobs.submit()
    clock.t = 6
    merge = t.open("operators.merge.merge_into_table", "operators.merge")
    ids["merge"] = jobs.submit()
    clock.t = 8
    t.close(merge)
    clock.t = 9
    t.close(silver)
    clock.t = 10
    t.close(root)
    job_spans = {j: i for i, s in enumerate(t.spans) for j in jobs.jobs_for_group(s.gid)}
    return t, ids, job_spans


def test_job_goes_to_innermost_open_span():
    t, ids, job_spans = _nested_trace()
    layer = {j: t.spans[i].layer for j, i in job_spans.items()}
    assert layer[ids["root"]] == "op"
    assert layer[ids["maint"]] == "operators.maintenance"
    assert layer[ids["silver"]] == "plans.silver"  # the parent's group is restored
    assert layer[ids["merge"]] == "operators.merge"
    assert t.jobs.group is None


def test_self_time_subtracts_children():
    t, ids, job_spans = _nested_trace()
    info = {j: _job(0, 0.5, out_rows=7) for j in job_spans}
    m = tracing.op_metrics(t.spans, job_spans, info)
    assert m["plans.silver.self_s"] == 8 - 3 - 2
    assert m["operators.maintenance.self_s"] == 3
    assert m["operators.merge.self_s"] == 2
    assert m["unattributed_s"] == 10 - 8
    assert m["plans.silver.jobs"] == 1 and m["operators.merge.jobs"] == 1
    assert m["unattributed.jobs"] == 1
    # the writer layer owns its operators' output; merge keeps its own count too
    assert m["plans.silver.rows_written"] == 21
    assert m["operators.merge.own_rows_written"] == 7
    assert m["spark.jobs"] == 4 and m["spark.tasks"] == 8


def test_driver_side_time_is_wall_outside_jobs():
    t, ids, job_spans = _nested_trace()
    info = {j: _job(0, 0) for j in job_spans}
    info[ids["maint"]] = _job(2, 4)
    info[ids["merge"]] = _job(3, 7)  # overlapping jobs count once
    m = tracing.op_metrics(t.spans, job_spans, info)
    assert m["spark.driver_side_s"] == 10 - 5


def test_union_length():
    assert tracing.union_length([]) == 0
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == 4


def test_install_patches_import_time_aliases_and_restores():
    from spaceparts_data_pipeline_spark.operators import merge
    from spaceparts_data_pipeline_spark.plans import gold, logs

    orig = merge.merge_into_table
    jobs = FakeJobs()
    t = tracing.Tracer(jobs, "test")
    t.install()
    try:
        assert gold.merge_into_table is merge.merge_into_table is not orig
        assert merge.merge_into_table.__wrapped__ is orig
        root = t.open("op", "op")
        logs.new_execution_id()
        t.close(root)
        assert [s.name for s in t.spans] == ["op", "plans.logs.new_execution_id"]
        assert t.spans[1].parent == 0
    finally:
        t.uninstall()
    assert gold.merge_into_table is orig and merge.merge_into_table is orig


NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_metric_names_and_units():
    names = {**run.END_TO_END, **run.per_layer_units()}
    for name, unit in names.items():
        assert NAME.match(name), name
        assert UNIT.match(unit), unit
    assert set(run.RATIOS) | set(run.SUMS) <= set(run.per_layer_units())


def test_benchmark_json_lists_what_the_run_prints():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOAD_NAMES)
    import workloads

    assert tuple(workloads.WORKLOADS) == run.WORKLOAD_NAMES
