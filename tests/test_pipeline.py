"""End-to-end pipeline integration (SURVEY §5.4): run-twice idempotency,
drift gate semantics, retry util."""

import json
import os
import zipfile

import pytest

from etl_ipl_data_analysis_pipeline_spark.io import retry
from etl_ipl_data_analysis_pipeline_spark.pipeline import run_ingest


def make_zip(tmp_path, name, files):
    path = str(tmp_path / name)
    with zipfile.ZipFile(path, "w") as zf:
        for fname, records in files.items():
            zf.writestr(fname, json.dumps(records))
    return path


@pytest.fixture()
def pipe_args(tmp_path):
    return dict(
        landing_dir=str(tmp_path / "landing"),
        out_dir=str(tmp_path / "out"),
        ledger_path=str(tmp_path / "ledger.parquet"),
        schema_registry_path=str(tmp_path / "registry.parquet"),
    )


def test_run_twice_is_idempotent(spark, tmp_path, pipe_args):
    z = make_zip(tmp_path, "b1.zip", {
        "f1.json": [{"id": 1, "user": {"name": "u1", "tags": ["a", "b"]}}],
        "f2.json": [{"id": 2, "user": {"name": "u2", "tags": ["c"]}}],
    })
    r1 = run_ingest(spark, z, **pipe_args)
    assert (r1.processed_files, r1.rows_written, r1.skipped) == (2, 3, False)
    r2 = run_ingest(spark, z, **pipe_args)
    assert r2.skipped and r2.processed_files == 0
    assert spark.read.parquet(pipe_args["out_dir"]).count() == 3  # unchanged


def test_incremental_batch_appends_only_new(spark, tmp_path, pipe_args):
    z1 = make_zip(tmp_path, "b1.zip", {"f1.json": [{"id": 1, "v": "a"}]})
    z2 = make_zip(tmp_path, "b2.zip", {
        "f1.json": [{"id": 1, "v": "a"}],   # already processed
        "f3.json": [{"id": 3, "v": "c"}],   # new
    })
    run_ingest(spark, z1, **pipe_args)
    r = run_ingest(spark, z2, **pipe_args)
    assert (r.processed_files, r.rows_written) == (1, 1)
    assert spark.read.parquet(pipe_args["out_dir"]).count() == 2


def test_drift_warn_records_and_proceeds(spark, tmp_path, pipe_args):
    run_ingest(spark, make_zip(tmp_path, "b1.zip", {"f1.json": [{"id": 1}]}), **pipe_args)
    r = run_ingest(
        spark,
        make_zip(tmp_path, "b2.zip", {"f2.json": [{"id": 2, "extra": "x"}]}),
        **pipe_args,
    )
    assert r.drift and "added: extra" in r.drift
    assert r.processed_files == 1


def test_drift_block_raises_and_file_stays_eligible(spark, tmp_path, pipe_args):
    run_ingest(spark, make_zip(tmp_path, "b1.zip", {"f1.json": [{"id": 1, "v": "s"}]}), **pipe_args)
    z2 = make_zip(tmp_path, "b2.zip", {"f2.json": [{"id": 2, "v": 3}]})
    with pytest.raises(RuntimeError, match="type_changed"):
        run_ingest(spark, z2, on_drift="block", **pipe_args)
    # blocked file left out of the ledger -> warn-mode retry processes it
    r = run_ingest(spark, z2, on_drift="warn", **pipe_args)
    assert r.processed_files == 1


def test_retry_backoff_and_reraise():
    delays, calls = [], {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise OSError("transient")
        return "ok"

    assert retry(flaky, attempts=5, base_delay=0.5, sleep=delays.append) == "ok"
    assert delays == [0.5, 1.0]  # base * 2^n

    with pytest.raises(ValueError):
        retry(
            lambda: (_ for _ in ()).throw(ValueError("permanent")),
            attempts=3,
            base_delay=1.0,
            sleep=delays.append,
        )
    assert delays[2:] == [1.0, 2.0]  # retried twice then re-raised


def test_quarantine_diverts_corrupt_files(spark, tmp_path, pipe_args):
    path = str(tmp_path / "bq.zip")
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("ok.json", json.dumps({"id": 1, "v": "fine"}))
        zf.writestr("broken.json", '{"id": 2, "v": ')  # truncated
    qdir = str(tmp_path / "quarantine")
    r = run_ingest(
        spark, path, **pipe_args, json_schema="id long, v string", quarantine_dir=qdir
    )
    assert not r.skipped
    assert r.quarantined == 1
    assert r.rows_written == 1  # only the clean doc reached the sink
    assert spark.read.parquet(pipe_args["out_dir"]).count() == r.rows_written
    q = spark.read.parquet(qdir)
    assert q.count() == 1 and q.columns == ["path", "raw"]
    # second run: both files are ledgered (incl. the quarantined one), no rework
    r2 = run_ingest(
        spark, path, **pipe_args, json_schema="id long, v string", quarantine_dir=qdir
    )
    assert r2.skipped


@pytest.mark.parametrize("mode", ["infer", "pinned", "quarantine"])
def test_special_char_filenames_survive_discovery(spark, tmp_path, pipe_args, mode):
    # input_file_name() yields percent-encoded URIs; the fresh-key join
    # decodes them, or files named with spaces/%/+ would contribute zero
    # rows while being marked ingested (silent loss). Three modes because
    # they key differently: inference reads binaryFile (raw paths, no
    # decoding), while the pinned-schema and quarantine modes read
    # input_file_name() and exercise the url_decode branch.
    z = make_zip(tmp_path, "b1.zip", {
        "team rosters.json": [{"id": 1, "v": "space"}],
        "pct%20literal.json": [{"id": 2, "v": "percent"}],
        "a+b.json": [{"id": 3, "v": "plus"}],
    })
    extra = {}
    if mode in ("pinned", "quarantine"):
        extra["json_schema"] = "id long, v string"
    if mode == "quarantine":
        extra["quarantine_dir"] = str(tmp_path / "quarantine")
    r = run_ingest(spark, z, **pipe_args, **extra)
    assert (r.processed_files, r.rows_written) == (3, 3)
    vals = {
        row.v for row in spark.read.parquet(pipe_args["out_dir"]).collect()
    }
    assert vals == {"space", "percent", "plus"}


def test_second_run_rescans_only_new_extractions(spark, tmp_path, pipe_args):
    # the modifiedAfter watermark bounds each run's scan to files the run
    # itself extracted; correctness across runs comes from the ledger join
    z1 = make_zip(tmp_path, "b1.zip", {"old1.json": [{"id": 1}]})
    z2 = make_zip(tmp_path, "b2.zip", {"new1.json": [{"id": 2}], "new2.json": [{"id": 3}]})
    run_ingest(spark, z1, **pipe_args)
    r = run_ingest(spark, z2, **pipe_args)
    assert r.processed_files == 2
    assert spark.read.parquet(pipe_args["out_dir"]).count() == 3


def test_lagging_filesystem_clock_does_not_lose_batch(spark, tmp_path, pipe_args, monkeypatch):
    # the silent-loss shape: filesystem mtimes lag the driver clock (NFS
    # landing dir, VM clock drift) by more than the watermark margin. A
    # now()-based watermark would exclude this run's own extractions while
    # step 6 marks them ingested. The watermark is derived from the
    # members' own mtimes, so a uniform lag cannot exclude them.
    import etl_ipl_data_analysis_pipeline_spark.pipeline as pl

    real_expand = pl.expand_zip

    def lagging_expand(*a, **kw):
        members = real_expand(*a, **kw)
        past = os.path.getmtime(members[0]) - 120  # fs clock 2 min behind
        for m in members:
            os.utime(m, (past, past))
        return members

    monkeypatch.setattr(pl, "expand_zip", lagging_expand)
    z = make_zip(tmp_path, "b1.zip", {"f1.json": [{"id": 1}], "f2.json": [{"id": 2}]})
    r = run_ingest(spark, z, **pipe_args)
    assert (r.processed_files, r.rows_written, r.skipped) == (2, 2, False)
    assert spark.read.parquet(pipe_args["out_dir"]).count() == 2


def test_short_bounded_listing_falls_back_to_unbounded(spark, tmp_path, pipe_args, monkeypatch):
    # belt-and-braces for exclusion causes mtime derivation can't fix
    # (listing caches, mtime truncation coarser than the margin): force a
    # watermark in the FUTURE — the bounded listing then misses every
    # fresh key — and require the guard to drop it and rescan unbounded
    # rather than write nothing while marking the batch done.
    import etl_ipl_data_analysis_pipeline_spark.pipeline as pl

    monkeypatch.setattr(
        pl, "_mtime_watermark", lambda *a, **kw: "2999-01-01T00:00:00"
    )
    z = make_zip(tmp_path, "b1.zip", {"f1.json": [{"id": 1, "v": "x"}]})
    r = run_ingest(spark, z, **pipe_args, json_schema="id long, v string")
    assert (r.processed_files, r.rows_written, r.skipped) == (1, 1, False)
    assert spark.read.parquet(pipe_args["out_dir"]).count() == 1


def test_compact_after_bounds_small_files(spark, tmp_path, pipe_args):
    """compact_after keeps the append-mode out_dir from accumulating one
    sliver per run: after 3 ingests with compaction the table holds one
    scan-sized file, rows identical to the uncompacted accumulation."""
    from etl_ipl_data_analysis_pipeline_spark import io as gio

    for i in range(3):
        z = make_zip(tmp_path, f"c{i}.zip", {
            f"f{i}.json": [{"id": 10 * i + j, "v": f"x{i}"} for j in range(4)],
        })
        run_ingest(spark, z, compact_after=True, **pipe_args)
    files = gio._list_data_files(spark, pipe_args["out_dir"])
    assert len(files) == 1, files
    got = sorted(
        r["id"] for r in spark.read.parquet(pipe_args["out_dir"]).collect()
    )
    assert got == sorted(10 * i + j for i in range(3) for j in range(4))


# --- one data pass, one-step ledger commit ---------------------------------


def _match(i, deliveries):
    """A cricsheet-like match: flattens to ``deliveries`` x 2 teams rows."""
    balls = [{"over": o, "runs": o % 4} for o in range(deliveries)]
    return {
        "info": {"match_id": i, "teams": ["a", "b"]},
        "innings": [{"team": "a", "deliveries": balls}],
    }


def test_observed_row_count_zero_row_batch(spark, tmp_path, pipe_args):
    # documents that are empty top-level arrays flatten to no rows; the
    # write still runs, so the observation reports 0 instead of blocking
    schema = "id long, v string"
    z1 = make_zip(tmp_path, "b1.zip", {"f1.json": [{"id": 1, "v": "a"}]})
    z2 = make_zip(tmp_path, "b2.zip", {"e1.json": [], "e2.json": []})
    run_ingest(spark, z1, **pipe_args, json_schema=schema)
    r = run_ingest(spark, z2, **pipe_args, json_schema=schema)
    assert (r.processed_files, r.rows_written, r.skipped) == (2, 0, False)
    assert spark.read.parquet(pipe_args["out_dir"]).count() == 1


def test_ledger_commit_marks_stages_and_same_schema_keeps_registry(spark, tmp_path, pipe_args):
    import pyspark.sql.functions as F

    # two members with one basename land on one file and one ledger key
    z1 = make_zip(tmp_path, "b1.zip", {
        "day1/m1.json": _match(1, 2), "day2/m1.json": _match(1, 2), "m2.json": _match(2, 3),
    })
    z2 = make_zip(tmp_path, "b2.zip", {"m3.json": _match(3, 2)})
    cold = run_ingest(spark, z1, **pipe_args)
    assert cold.drift is None  # first snapshot, nothing to compare against
    registry = spark.read.parquet(pipe_args["schema_registry_path"])
    newest = registry.agg(F.max("version_id")).first()[0]
    incr = run_ingest(spark, z2, **pipe_args)
    assert incr.drift is None  # same schema: no report, no new version
    registry = spark.read.parquet(pipe_args["schema_registry_path"])
    assert registry.agg(F.max("version_id")).first()[0] == newest

    ledger = spark.read.parquet(pipe_args["ledger_path"]).collect()
    assert sorted(r["file_key"] for r in ledger) == ["m1", "m2", "m3"]
    for r in ledger:
        assert (r["ingested"], r["crawled"], r["transformed"], r["loaded"]) == (
            True, True, True, False,
        ), r
        assert r["updated_at"] is not None


def test_job_count_per_run(spark, tmp_path, pipe_args):
    """Spark jobs started by a cold, a no-op and an incremental run (same
    schema, so no registry rewrite). The flattened batch runs once, in the
    write; the control tables are read with pinned schemas (no footer
    inference job); the ledger commit is one anti-join + union. A second
    data pass or an inference job shows up here as an extra job."""
    sc = spark.sparkContext
    z1 = make_zip(tmp_path, "b1.zip", {f"m{i}.json": _match(i, 4) for i in range(3)})
    z2 = make_zip(tmp_path, "b2.zip", {f"m{i}.json": _match(i, 4) for i in range(4)})
    counts = {}
    try:
        for name, z in (("cold", z1), ("noop", z1), ("incr", z2)):
            group = f"test-job-count-{name}"
            sc.setJobGroup(group, group)
            run_ingest(spark, z, **pipe_args)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            counts[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert counts == {"cold": 14, "noop": 4, "incr": 18}, counts
