"""Tests for the benchmark's own arithmetic; no Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import flfgen  # noqa: E402
from measure import (  # noqa: E402
    Span, Tracer, children_of, quartile_spread, self_time, tail, union_length,
)
from spark_trace import JobIndex  # noqa: E402


# -- tail percentile ---------------------------------------------------------

def test_tail_has_exactly_ten_samples_beyond_it():
    xs = list(range(100))
    pct, value, n = tail(reversed(xs))
    assert (pct, value, n) == (90.0, 89, 100)
    assert sum(x > value for x in xs) == 10


def test_tail_needs_more_than_ten_samples():
    assert tail(range(10)) is None
    assert tail(range(11)) == (100 / 11, 0, 11)
    assert tail(range(20))[:2] == (50.0, 9)


def test_tail_counts_ties_by_position():
    pct, value, n = tail([1.0] * 30 + [2.0] * 5)
    assert (value, n) == (1.0, 35)
    assert pct == pytest.approx(100 * 25 / 35)


# -- interval union behind driver_s -------------------------------------------

def test_union_merges_overlaps_and_touching_intervals():
    assert union_length([(0, 2), (1, 3), (3, 4), (10, 11)]) == 5
    assert union_length([(5, 6), (0, 1)]) == 2
    assert union_length([]) == 0


def test_union_clips_to_the_span_and_ignores_empty_intervals():
    jobs = [(-1, 1), (2, 2), (3, 8), (9, 20)]
    assert union_length(jobs, 0, 10) == 1 + 5 + 1


def _span(i, start, end, parent=None, name="x"):
    sp = Span(id=f"s{i}", name=name, parent=parent, workload="w", op_id=0, start=start)
    sp.end = end
    return sp


def test_driver_time_is_span_wall_minus_job_union():
    root = _span(0, 100.0, 110.0)
    jobs = [
        {"jobId": 0, "jobGroup": "s0", "submissionTime": 101_000, "completionTime": 104_000,
         "stageIds": [0, 1]},
        {"jobId": 1, "jobGroup": "s0", "submissionTime": 103_000, "completionTime": 106_000,
         "stageIds": [1, 2]},
    ]
    stages = {
        i: {"stageId": i, "attemptId": 0, "executorCpuTime": 1e9 * (i + 1),
            "executorRunTime": 1000, "jvmGcTime": 10, "inputBytes": 5,
            "numCompleteTasks": 4, "shuffleWriteBytes": 10 * i, "diskBytesSpilled": 0}
        for i in range(3)
    }
    index = JobIndex([root], jobs, stages)
    st = index.stats("s0")
    assert st["jobs"] == 2
    assert st["driver_s"] == pytest.approx(10 - 5)
    assert st["before_first_job_s"] == pytest.approx(1.0)
    # stage 1 is listed by both jobs but owned (counted) by job 0 only
    assert st["executor_cpu_s"] == pytest.approx(1 + 2 + 3)
    assert st["tasks"] == 12
    assert st["shuffle_bytes"] == 30
    # a time window sees the jobs submitted inside it, whatever their group
    assert index.window(102.0, 110.0)["jobs"] == 1
    assert index.window(100.0, 110.0) == st


def test_jobs_roll_up_to_parents_and_ungrouped_jobs_go_to_innermost_span():
    op = _span(0, 0.0, 10.0)
    build = _span(1, 0.0, 4.0, parent="s0")
    execute = _span(2, 4.0, 10.0, parent="s0")
    jobs = [
        {"jobId": 0, "jobGroup": "s1", "submissionTime": 1000, "completionTime": 2000, "stageIds": []},
        {"jobId": 1, "jobGroup": None, "submissionTime": 5000, "completionTime": 9000, "stageIds": []},
    ]
    index = JobIndex([build, execute, op], jobs, {})
    assert index.stats("s1")["jobs"] == 1
    assert index.stats("s2")["jobs"] == 1
    assert index.stats("s0")["jobs"] == 2
    assert index.stats("s0")["driver_s"] == pytest.approx(10 - 1 - 4)


# -- span self time -----------------------------------------------------------

def test_self_time_subtracts_the_union_of_children():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 4.0, "s0"), _span(2, 3.0, 5.0, "s0"), _span(3, 9.0, 12.0, "s0")]
    assert self_time(parent, kids) == pytest.approx(10 - 4 - 1)
    assert self_time(parent, []) == 10


def test_tracer_records_nesting_and_calls_hooks():
    events = []
    tr = Tracer(True, "w", on_enter=lambda sp: events.append(("in", sp.name)),
                on_exit=lambda sp, parent: events.append(("out", sp.name, parent and parent.name)))
    with tr.span("op", op_id=3):
        with tr.span("child"):
            pass
    child, op = tr.spans
    assert (child.parent, child.op_id, op.parent) == (op.id, 3, None)
    assert children_of(tr.spans) == {op.id: [child]}
    assert events == [("in", "op"), ("in", "child"), ("out", "child", "op"), ("out", "op", None)]
    assert self_time(op, [child]) <= op.wall


def test_disabled_tracer_records_nothing():
    tr = Tracer(False, "w", on_enter=lambda sp: 1 / 0)
    with tr.span("op") as sp:
        assert sp is None
    assert tr.spans == []


def test_quartile_spread_matches_statistics_quantiles():
    assert quartile_spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx((8.25 - 2.75) / 5.5)


# -- the table_commits batch generator ---------------------------------------

_INT = re.compile(r"^-?[0-9]+$")


def _parse(field: str, col: dict):
    pad = "0" if col["pad_symbol"] == "Zero" else " "
    text = {"Left": field.rstrip, "Right": field.lstrip, "Center": field.strip}[col["alignment"]](pad)
    if col["dtype"].startswith("Int"):
        if text == "" and _INT.match(field):
            text = field
        return int(text) if _INT.match(text) else None
    if col["dtype"].startswith("Float"):
        try:
            return float(text)
        except ValueError:
            return None
    return text


def test_batches_are_fixed_width_and_count_their_malformed_fields(tmp_path):
    batch = flfgen.write_batch(tmp_path / "b.flf", seed=5, first_id=1000, rows=3000)
    lines = (tmp_path / "b.flf").read_text(encoding="utf-8").splitlines()
    cols = flfgen.WIDE_SCHEMA_DICT["columns"]
    nulls = dict.fromkeys(flfgen.MALFORMABLE, 0)
    ids = []
    for line in lines:
        assert len(line) == flfgen.LINE_RUNES
        values = {c["name"]: _parse(line[c["offset"]:c["offset"] + c["length"]], c) for c in cols}
        ids.append(values["id"])
        for c in flfgen.MALFORMABLE:
            nulls[c] += values[c] is None
    assert ids == list(range(1000, 4000))
    assert batch.id_sum == sum(ids)
    assert nulls == batch.nulls and sum(nulls.values()) > 0
    assert 0.05 < batch.non_ascii_rows / batch.rows < 0.15
    assert batch.n_bytes == (tmp_path / "b.flf").stat().st_size


def test_batches_are_deterministic_per_seed(tmp_path):
    a = flfgen.write_batch(tmp_path / "a.flf", seed=9, first_id=0, rows=500)
    b = flfgen.write_batch(tmp_path / "b.flf", seed=9, first_id=0, rows=500)
    c = flfgen.write_batch(tmp_path / "c.flf", seed=10, first_id=0, rows=500)
    assert a.path.read_bytes() == b.path.read_bytes() != c.path.read_bytes()


def test_wide_schema_covers_every_dtype_and_alignment():
    from evolution_spark.schema import ALIGNMENTS, SPARK_DTYPES, FixedSchema

    FixedSchema.from_dict(flfgen.WIDE_SCHEMA_DICT)
    cols = flfgen.WIDE_SCHEMA_DICT["columns"]
    assert {c["dtype"] for c in cols} == set(SPARK_DTYPES)
    assert {c["alignment"] for c in cols} == set(ALIGNMENTS)
    assert [c["pad_symbol"] for c in cols if c["pad_symbol"] != "Whitespace"] == ["Zero"]


# -- the declared benchmark matches what run.py prints -------------------------

def test_benchmark_json_lists_the_metrics_run_py_reports():
    import run
    from workloads import WORKLOADS

    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
