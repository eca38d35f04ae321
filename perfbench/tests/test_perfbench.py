"""Tests of the benchmark itself, with every workload at a tiny size.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
from types import SimpleNamespace

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import gate  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402
from pyspark.sql import Row  # noqa: E402

from events_validator_spark.sources.synthetic import DOC_RULES  # noqa: E402

SPEC = run.load_spec()
TINY = {
    "docs_suite": lambda spark, tmp: workloads.DocsSuite(
        spark, str(tmp), 5, n_docs=4000, partitions=2),
    "incremental_ticks": lambda spark, tmp: workloads.IncrementalTicks(
        spark, str(tmp), 5, n_batches=3, batch_docs=2000),
}


class _FakeContext:
    """Records job-group changes; by default span 1 ran one job of three
    tasks. ``jobs`` maps a group to its job ids, ``stages`` a job id to its
    stage ids and ``tasks`` a stage id to its completed tasks."""

    def __init__(self, jobs=None, stages=None, tasks=None):
        self.groups = []
        self.jobs = jobs or {"perfbench-1": [4]}
        self.stages = stages or {4: [9]}
        self.tasks = tasks or {9: 3}

    def setJobGroup(self, group, description):
        self.groups.append(group)

    def setLocalProperty(self, key, value):
        self.groups.append(value)

    def statusTracker(self):
        return SimpleNamespace(
            getJobIdsForGroup=lambda g: self.jobs.get(g, []),
            getJobInfo=lambda j: SimpleNamespace(stageIds=self.stages[j]),
            getStageInfo=lambda s: SimpleNamespace(
                numCompletedTasks=self.tasks[s]))


def test_spans_nest_with_self_time_and_job_groups():
    sc = _FakeContext()
    tr = Tracer(sc)
    tr.begin_op(True)
    with tr.span("outer"):
        time.sleep(0.01)
        with tr.span("inner"):
            time.sleep(0.02)
        with tr.span("inner"):
            pass
    spans = tr.finish()
    outer, inner, inner2 = spans
    assert inner["parent"] == outer["id"] == inner2["parent"]
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert 0.009 <= outer["self_s"] < outer["dur_s"] - 0.019
    assert all(s["self_s"] >= 0 for s in spans)
    assert (inner["jobs"], inner["tasks"]) == (1, 3)
    assert (outer["jobs"], outer["tasks"]) == (0, 0)
    # each child restores its parent's group; the root clears it
    assert sc.groups == ["perfbench-0", "perfbench-1", "perfbench-0",
                         "perfbench-2", "perfbench-0", None]


def test_a_stage_listed_by_several_jobs_counts_once():
    # span 0: a map-stage job 1 runs stage 10 (4 tasks), then result job 2
    # lists stage 10 again (skipped) and runs stage 11 (2 tasks); span 1's
    # job 3 lists stage 10 too and runs stage 12 (5 tasks)
    sc = _FakeContext(jobs={"perfbench-0": [1, 2], "perfbench-1": [3]},
                      stages={1: [10], 2: [10, 11], 3: [10, 12]},
                      tasks={10: 4, 11: 2, 12: 5})
    tr = Tracer(sc)
    tr.begin_op(True)
    with tr.span("first"):
        pass
    with tr.span("second"):
        pass
    first, second = tr.finish()
    assert (first["jobs"], first["tasks"]) == (2, 6)
    assert (second["jobs"], second["tasks"]) == (1, 5)


def test_jit_cpu_counts_only_compiler_threads():
    # a Python process has no JIT compiler threads; the driver JVM's are
    # checked with the workloads below
    assert run.jit_cpu_s(os.getpid()) == 0


def test_a_lingering_descendant_is_found_and_killed():
    # a shell whose child ignores SIGTERM: both are found, and both end
    proc = subprocess.Popen(
        ["sh", "-c", "trap '' TERM; sleep 60 & wait"])
    deadline = time.monotonic() + 10
    while len(run.descendants(os.getpid())) < 2:
        assert time.monotonic() < deadline
        time.sleep(0.05)
    found = run.descendants(os.getpid())
    assert proc.pid in found
    for pid, start in found.items():
        run.wait_gone(pid, start, timeout=0.2)
    proc.wait(timeout=10)
    assert run.descendants(os.getpid()) == {}


def test_disabled_tracer_records_nothing():
    sc = _FakeContext()
    tr = Tracer(sc)
    tr.begin_op(False)
    with tr.span("outer") as s:
        assert s is None
    assert tr.spans == [] and sc.groups == []


def _doc(doc_id, kind, violations):
    span = Row(kind=kind, text="a b", media_ref=None, offset=0)
    return Row(doc_id=doc_id, spans=[span], violations=violations)


def test_typed_gate_flags_an_injected_violation_row():
    clean = _doc("doc_1", "text", [])
    bad = _doc("doc_2", "video", [("spans[0].kind", "enum", "text,media",
                                   "video")])
    assert gate.typed_mismatches([clean, bad], DOC_RULES) == []
    wrong = _doc("doc_2", "video", [("spans[0].kind", "enum", "text,media",
                                     "text")])
    assert len(gate.typed_mismatches([clean, wrong], DOC_RULES)) == 1
    spurious = _doc("doc_1", "text", [("doc_id", "regex", "x", "doc_1")])
    assert len(gate.typed_mismatches([spurious], DOC_RULES)) == 1


def test_grouped_gate_flags_an_injected_violation_row():
    rows = [_doc("doc_hot", "video", None), _doc("doc_hot", "text", None),
            _doc("doc_3", "text", None)]
    enum = ("spans[0].kind", "enum", "text,media", "video")
    assert gate.grouped_mismatches(rows, {"doc_hot": [enum]}, DOC_RULES) == []
    assert len(gate.grouped_mismatches(
        rows, {"doc_hot": [enum, enum]}, DOC_RULES)) == 1
    assert len(gate.grouped_mismatches(
        rows, {"doc_hot": [enum], "doc_3": [enum]}, DOC_RULES)) == 1
    assert len(gate.grouped_mismatches(
        rows, {"doc_hot": [enum], "doc_9": [enum]}, DOC_RULES)) == 1


@pytest.fixture(scope="module")
def session():
    spark, setup_s = run.start_spark()
    yield spark, setup_s
    run.stop_spark(spark)
    assert run.descendants(os.getpid()) == {}  # the JVM and its workers


@pytest.mark.parametrize("name", sorted(TINY))
def test_workload_emits_every_metric_and_passes_its_gate(session, tmp_path,
                                                         name):
    spark, setup_s = session
    wl = TINY[name](spark, tmp_path)
    for trace in (False, True):
        m = run.measure(spark, wl, 0, trace)
        assert m["failed"] == 0, m["problems"]
        assert all(c > 0 for c in m["diag"]["op_work_cpu_s"])
        assert all(c >= 0 for c in m["diag"]["op_jit_cpu_s"])
        section = "per_layer" if trace else "end_to_end"
        metrics = m["layers"] if trace else {"setup_s": setup_s, **m["e2e"]}
        line = run.result_line(m, metrics, section)
        assert {k: v["unit"] for k, v in line["metrics"].items()} == \
            {x["name"]: x["unit"] for x in SPEC[section]}
        assert all(isinstance(v["value"], (int, float))
                   for v in line["metrics"].values())
    by_id = {s["id"]: s for s in m["spans"]}
    for s in m["spans"]:
        assert s["self_s"] >= 0
        if s["parent"] is not None:
            p = by_id[s["parent"]]
            assert p["start"] <= s["start"] <= s["end"] <= p["end"]
    assert m["layers"]["input.scan_s"] > 0
    assert run.jit_cpu_s(run.driver_pid(spark)) > 0
    if name == "docs_suite":
        assert m["layers"]["uniqueness.duplicate_keys_s"] > 0
        assert m["layers"]["uniqueness.duplicate_keys.jobs"] >= 1
        assert m["layers"]["catalog.append_s"] == 0
    else:
        assert m["layers"]["catalog.append_s"] > 0
        assert m["layers"]["catalog.snapshot_log_bytes"] > 0
        assert m["layers"]["uniqueness.duplicate_keys_s"] == 0
        tick = next(s for s in m["spans"]
                    if s["name"] == "pipeline.incremental")
        kids = {s["name"] for s in m["spans"] if s["parent"] == tick["id"]}
        assert kids == {"catalog.read_since", "catalog.snapshots",
                        "catalog.append"}
