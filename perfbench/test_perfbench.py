"""Tests of the benchmark itself: seeded generators, the correctness gate,
crash injection and the layer tracer.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for path in (ROOT, HERE):
    if path not in sys.path:
        sys.path.insert(0, path)

import gate  # noqa: E402
import workloads  # noqa: E402
from workloads import Workload  # noqa: E402

TINY = Workload("tiny", turns=120, max_turns=20)


@pytest.fixture(scope="module")
def tiny_expected():
    return gate.compute_expected(workloads.input_rows(TINY, 5), 5)


def test_generators_are_deterministic_per_seed(tmp_path):
    import pyarrow.parquet as pq
    from graphrag_rs_spark.datagen import generate_rows
    for wl in (TINY, *workloads.WORKLOADS.values()):
        small = Workload(wl.name, turns=200, max_turns=wl.max_turns,
                         crash=wl.crash)
        assert workloads.input_rows(small, 3) == \
            workloads.input_rows(small, 3)
        assert workloads.input_rows(small, 3) != \
            workloads.input_rows(small, 4)
        # exactly the turn count, a prefix of the generator's rows
        rows = workloads.input_rows(small, 3)
        full = generate_rows(small.turns, seed=3, max_turns=small.max_turns)
        assert len(rows) == small.turns and full[:len(rows)] == rows
        if wl.inputs:   # seeds cycle through wl.inputs distinct inputs
            assert wl.input_key(3 + wl.inputs) == wl.input_key(3)
            assert wl.input_key(3) != wl.input_key(4)
    a = workloads.ensure_input(TINY, 3, str(tmp_path / "a"))
    b = workloads.ensure_input(TINY, 3, str(tmp_path / "b"))
    assert pq.read_table(a).equals(pq.read_table(b))


def test_similar_pairs_are_the_oracle_links(tiny_expected):
    """Every oracle-similar pair is merged by the oracle's own map."""
    to_canon = dict(map(tuple, tiny_expected["canonical_map"]))
    assert tiny_expected["similar_pairs"]
    for a, b in tiny_expected["similar_pairs"]:
        assert to_canon.get(a, a) == to_canon.get(b, b)


def _tables(expected: dict) -> dict:
    return {
        key: [tuple(row) for row in expected[want]]
        for key, want in (("triples", "raw_triples"),
                          ("entities", "entities"),
                          ("communities", "communities"),
                          ("canonical_triples", "canonical_triples"),
                          ("canonical_map", "canonical_map"))
    } | {"counts": dict(expected["counts"])}


def test_gate_accepts_oracle_tables(tiny_expected):
    check = gate.check_tables(_tables(tiny_expected), tiny_expected)
    assert check["ok"], check["problems"]
    assert check["canon_triple_p"] == check["canon_triple_r"] == 1.0
    assert check["merge_recall"] == 1.0


def test_gate_rejects_a_corrupted_triple(tiny_expected):
    tables = _tables(tiny_expected)
    s, p, o = tables["triples"][0]
    tables["triples"][0] = (s, p, o + "_corrupt")
    check = gate.check_tables(tables, tiny_expected)
    assert not check["ok"]
    assert "raw triples: 1 extra, 1 missing" in check["problems"]


def test_gate_rejects_a_wrong_community(tiny_expected):
    tables = _tables(tiny_expected)
    entity, _ = tables["communities"][0]
    tables["communities"][0] = (entity, entity + "_other")
    check = gate.check_tables(tables, tiny_expected)
    assert not check["ok"]
    assert "communities: 1 extra, 1 missing" in check["problems"]


def test_gate_rejects_a_wrong_count(tiny_expected):
    tables = _tables(tiny_expected)
    tables["counts"]["mentions"] += 1
    check = gate.check_tables(tables, tiny_expected)
    assert not check["ok"]
    assert check["problems"][0].startswith("count of mentions")


def test_gate_reports_a_lost_merge(tiny_expected):
    tables = _tables(tiny_expected)
    tables["canonical_map"] = []
    check = gate.check_tables(tables, tiny_expected)
    assert check["ok"]
    assert check["merge_recall"] == 0.0


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    from graphrag_rs_spark.session import get_spark
    s = get_spark("perfbench-tests", master="local[2]",
                  extra_confs={"spark.driver.memory": "1g"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    from run import stop_spark
    stop_spark(s)


PRE_CRASH = ("documents", "chunks", "chunk_bundles", "chunk_entities",
             "entities", "mentions", "triple_mentions", "triples",
             "canonical_map_dropped_blocks", "canonical_map",
             "canonical_triple_mentions", "canonical_triples",
             "canonical_entities")


def test_crash_leaves_a_workdir_that_resumes(spark, tmp_path, tiny_expected):
    from graphrag_rs_spark.stages.checkpoint import CheckpointManager
    from graphrag_rs_spark.stages.pipeline import run_pipeline_checkpointed
    from run import shipped_job

    input_path = workloads.ensure_input(TINY, 5, str(tmp_path))
    snap = str(tmp_path / "crashed")
    workloads.crash_workdir(spark, input_path, str(tmp_path / "work"), snap)
    ck = CheckpointManager(spark, snap, workloads.RUN_ID)
    assert all(ck.completed(stage) for stage in PRE_CRASH)
    assert not ck.completed("communities")

    # a whole job's snapshot at the crash point is the same state
    full, taken = str(tmp_path / "full"), str(tmp_path / "taken")
    with workloads.snapshot_at_crash_point(full, taken):
        run_pipeline_checkpointed(spark, spark.read.parquet(input_path),
                                  workdir=full, run_id=workloads.RUN_ID)
    assert sorted(os.listdir(taken)) == sorted(os.listdir(snap))
    ck_taken = CheckpointManager(spark, taken, workloads.RUN_ID)
    assert all(ck_taken.completed(stage) for stage in PRE_CRASH)
    assert not ck_taken.completed("communities")

    n_turns, counts = shipped_job(spark, input_path, snap)
    assert n_turns == len(workloads.input_rows(TINY, 5))
    assert ck.completed("communities")
    check = gate.check_workdir(snap, counts, tiny_expected)
    assert check["ok"], check["problems"]
    assert check["canon_triple_p"] == check["canon_triple_r"] == 1.0
    assert check["merge_recall"] == 1.0


class _FakeContext:
    def __init__(self):
        self.group = None

    def setLocalProperty(self, key, value):
        self.group = value


class _FakeManager:
    def _stage_dir(self, stage):
        return "/work/" + stage


def test_unmapped_checkpoint_stage_fails_loudly():
    import tracing
    tracer = tracing.Tracer(_FakeContext())
    run_stage = tracer._wrap_run_stage(lambda *args: "written")
    assert run_stage(_FakeManager(), "entities", None) == "written"
    with pytest.raises(KeyError, match="new_stage"):
        run_stage(_FakeManager(), "new_stage", None)


def test_spans_and_event_log_roll_up_per_layer():
    import tracing
    sc = _FakeContext()
    tracer = tracing.Tracer(sc)
    with tracer.span("canonicalize", "canonical_map"):
        assert sc.group == "canonicalize"
        with tracer.span("cc", "connected_components"):
            assert sc.group == "cc"
        assert sc.group == "canonicalize"
    assert sc.group is None
    events = [
        {"Event": "SparkListenerJobStart", "Properties": {
            tracing.GROUP_KEY: "cc"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {
            "Stage ID": 7}, "Properties": {tracing.GROUP_KEY: "cc"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 7, "Task Metrics": {
            "Executor Run Time": 1500, "JVM GC Time": 100,
            "Shuffle Read Metrics": {"Local Bytes Read": tracing.MB},
            "Disk Bytes Spilled": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 8, "Task Metrics": {
            "Executor Run Time": 999, "JVM GC Time": 0}},   # ungrouped
    ]
    totals = tracing.job_group_totals(events)
    assert totals["cc"]["jobs"] == totals["cc"]["stages"] == 1
    assert totals["cc"]["tasks"] == 1
    assert totals["cc"]["task_s"] == 1.5
    assert totals["cc"]["shuffle_read_mb"] == 1.0
    assert set(totals) == {"cc"}
    wall = tracer.self_times()
    total = tracer.covered_s()
    assert abs(wall["canonicalize"] + wall["cc"] - total) < 1e-9
