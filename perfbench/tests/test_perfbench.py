"""Tests of the benchmark's own parts: the seeded generators, the
expected-row formula, and the event-log parser.

    python -m pytest perfbench/tests -q

``tiny_eventlog.jsonl`` is a recorded Spark event log of a tiny run with
known job groups; regenerate it with
``python perfbench/tests/test_perfbench.py --record``.
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, tracing  # noqa: E402

EVENT_LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tiny_eventlog.jsonl")


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench import harness

    work = str(tmp_path_factory.mktemp("work"))
    harness.prepare_env(ROOT, work)
    session = harness.new_session(work)
    yield session
    harness.stop_jvm()


def test_match_generator_is_deterministic(tmp_path):
    a, b = gen.match_docs(5, 3), gen.match_docs(5, 3)
    assert a == b
    assert gen.match_docs(6, 3) != a
    # a longer season extends a shorter one
    assert gen.match_docs(5, 4)[:3] == a
    gen.write_match_zip(str(tmp_path / "a.zip"), a)
    gen.write_match_zip(str(tmp_path / "b.zip"), b)
    assert filecmp.cmp(tmp_path / "a.zip", tmp_path / "b.zip", shallow=False)


def test_delivery_and_table_generators_are_deterministic(tmp_path):
    import pyarrow.parquet as pq

    assert gen.delivery_rows(3, 1, 50, 100) == gen.delivery_rows(3, 1, 50, 100)
    assert gen.delivery_rows(3, 1, 50, 100) != gen.delivery_rows(4, 1, 50, 100)
    n1 = gen.write_star_tables(str(tmp_path / "x"), 9, scale=0.001)
    n2 = gen.write_star_tables(str(tmp_path / "y"), 9, scale=0.001)
    assert n1 == n2 and n1["lineitem"] == 6000
    for t in n1:
        assert pq.read_table(tmp_path / "x" / f"{t}.parquet").equals(
            pq.read_table(tmp_path / "y" / f"{t}.parquet")
        ), t


def test_expected_rows_match_run_ingest(spark, tmp_path):
    """The generator's row formula equals what run_ingest writes for a
    2-match zip and for a +1-match incremental batch (which drifts)."""
    from etl_ipl_data_analysis_pipeline_spark.pipeline import run_ingest

    docs = gen.match_docs(21, 3)
    exp_two = gen.write_match_zip(str(tmp_path / "two.zip"), docs[:2])
    exp_all = gen.write_match_zip(str(tmp_path / "three.zip"), docs)
    dirs = [str(tmp_path / d) for d in ("landing", "out", "ledger", "registry")]
    lt = tracing.LayerTrace(spark).install()
    try:
        first = run_ingest(spark, str(tmp_path / "two.zip"), *dirs)
        second = run_ingest(spark, str(tmp_path / "three.zip"), *dirs)
    finally:
        lt.restore()
    assert first.rows_written == exp_two
    assert second.processed_files == 1
    assert second.rows_written == exp_all - exp_two
    assert spark.read.parquet(dirs[1]).count() == exp_all
    # the wrappers saw the layers the pipeline called
    assert lt.ncalls["expand_zip"] == 2 and lt.ncalls["write_parquet"] == 2
    assert lt.flatten_passes >= 5 * lt.flatten_calls
    assert lt.spans["ledger.discover"] > 0 and "count" in lt.calls


def test_event_log_parser_counts():
    """Counts of the recorded run (local[4]): a 4-task parquet write, the
    read's one-task schema-inference job, then a scan + aggregation that
    AQE splits into two jobs of 4 and 1 tasks."""
    log = tracing.parse_event_log(EVENT_LOG)
    counts = {
        g: {k: t[k] for k in ("jobs", "stages", "tasks", "schema_inference_jobs")}
        for g in ("write", "read", "agg")
        for t in [tracing.totals(log, g)]
    }
    assert counts == {
        "write": {"jobs": 1, "stages": 1, "tasks": 4, "schema_inference_jobs": 0},
        "read": {"jobs": 1, "stages": 1, "tasks": 1, "schema_inference_jobs": 1},
        "agg": {"jobs": 2, "stages": 2, "tasks": 5, "schema_inference_jobs": 0},
    }
    agg, every = tracing.totals(log, "agg"), tracing.totals(log)
    assert agg["scan_bytes"] == every["scan_bytes"] == 4530
    assert agg["shuffle_write_bytes"] == 921 and every["spill_bytes"] == 0
    assert every["jobs"] == 4 and every["task_cpu_s"] > 0


def test_group_assignment_and_driver_time():
    log = {
        "jobs": {
            0: {"group": "a", "submit": 10.0, "end": 11.0, "stages": [0]},
            1: {"group": "spark-run-id", "submit": 12.5, "end": 13.0, "stages": [1]},
            2: {"group": None, "submit": 14.5, "end": 15.0, "stages": [2]},  # a check
        },
        "stages": {0: {"group": "a"}, 1: {"group": "spark-run-id"}, 2: {"group": None}},
    }
    windows = [("a", 9.0, 12.0), ("b", 12.0, 14.0)]
    tracing.assign_groups(log, windows)
    assert log["jobs"][1]["group"] == log["stages"][1]["group"] == "b"
    assert sorted(log["jobs"]) == sorted(log["stages"]) == [0, 1]
    assert tracing.uncovered_s(log, "a", windows) == pytest.approx(2.0)
    assert tracing.uncovered_s(log, "b", windows) == pytest.approx(1.5)


def test_failures_are_counted_once(monkeypatch):
    """An op that raises is counted by the op; a check or lookup that
    raises outside any op, with AssertionError or anything else, is counted
    by the loop."""
    from perfbench import harness
    from perfbench.run import measure

    monkeypatch.setattr(harness, "spark_jobs", lambda spark: 0)

    class Failing:
        def __init__(self, raise_in_op: bool, exc: Exception):
            self.raise_in_op, self.exc = raise_in_op, exc

        def iteration(self, spark, rec, i):
            with rec.op("a"):
                if self.raise_in_op:
                    raise self.exc
            raise self.exc

    for raise_in_op, exc in ((True, ValueError("op")), (False, KeyError("ledger")),
                             (False, AssertionError("rows"))):
        rec = harness.Recorder(None, label_jobs=False)
        measure(Failing(raise_in_op, exc), None, rec, 0)
        assert (rec.attempted, rec.failed) == (1, 1), exc


def _record(path: str) -> None:
    """Record the tiny event log: one group per action kind."""
    import shutil
    import tempfile

    from perfbench import harness

    work = tempfile.mkdtemp()
    harness.prepare_env(ROOT, work)
    spark = harness.new_session(work, event_log_dir=os.path.join(work, "ev"))
    sc = spark.sparkContext
    sc.setJobGroup("write", "write")
    spark.range(0, 1000, 1, 4).selectExpr("id", "id % 7 AS k").write.parquet(work + "/t")
    sc.setJobGroup("read", "read")
    df = spark.read.parquet(work + "/t")
    sc.setJobGroup("agg", "agg")
    df.groupBy("k").count().collect()
    spark.stop()
    harness.stop_jvm()
    with open(tracing.find_event_log(os.path.join(work, "ev"))) as src, open(path, "w") as dst:
        for line in src:
            ev = _trim(json.loads(line))
            if ev:
                dst.write(json.dumps(ev) + "\n")
    shutil.rmtree(work)


def _trim(ev: dict) -> dict | None:
    """Keep only the events and fields parse_event_log reads."""
    kind = ev["Event"]
    props = {k: v for k, v in (ev.get("Properties") or {}).items() if k == "spark.jobGroup.id"}
    if kind == "SparkListenerJobStart":
        return {"Event": kind, "Job ID": ev["Job ID"], "Submission Time": ev["Submission Time"],
                "Stage IDs": ev["Stage IDs"], "Properties": props, "Stage Infos": [
                    {"Stage Name": s["Stage Name"], "Details": s["Details"].split("\n")[0]}
                    for s in ev["Stage Infos"]]}
    if kind == "SparkListenerJobEnd":
        return {"Event": kind, "Job ID": ev["Job ID"], "Completion Time": ev["Completion Time"]}
    if kind == "SparkListenerStageCompleted":
        return {"Event": kind, "Stage Info": {"Stage ID": ev["Stage Info"]["Stage ID"]}}
    if kind == "SparkListenerTaskEnd":
        return {"Event": kind, "Stage ID": ev["Stage ID"], "Task Metrics": ev["Task Metrics"]}
    return None


if __name__ == "__main__":
    if "--record" in sys.argv:
        _record(EVENT_LOG)
