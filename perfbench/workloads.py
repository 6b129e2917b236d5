"""The closed-loop, single-client workloads: ``ipl_ingest`` and
``warehouse`` (the snapshot-table loads plus the analytic query mix).

Each workload has the same life cycle, driven by ``run.py``:

* ``prepare(spark, inputs_dir)`` writes the seeded inputs (set-up);
* ``expect()`` computes, untimed, what the checks compare against;
* ``iteration(spark, rec, i)`` is one timed cycle of operations, each
  under ``rec.op(kind)``, with untimed output checks;
* ``start_trace()`` installs the workload's own trace hooks.

``headline(rec)`` gives the workload's own latency figures and
``per_layer(...)`` its share of the per-layer metrics of a traced
iteration.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import Counter

from . import gen
from .harness import check, geomean, median, pct, rmtree
from .tracing import totals, uncovered_s


def _dir_stats(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, n)) for d, _, names in os.walk(path) for n in names
    )


class IplIngest:
    """The paper's pipeline: ``run_ingest`` on a cricsheet-shaped match
    zip (cold), the unchanged re-run (must be a no-op), then the season
    zip grown by a 10% incremental batch."""

    name = "ipl_ingest"
    kinds = ("ingest_cold", "ingest_noop", "ingest_incr")
    N_COLD, N_INCR = 10, 1

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work

    def prepare(self, spark, inputs: str) -> None:
        docs = gen.match_docs(self.seed, self.N_COLD + self.N_INCR)
        self.cold_zip = os.path.join(inputs, "season.zip")
        self.incr_zip = os.path.join(inputs, "season_plus.zip")
        self.exp_cold = gen.write_match_zip(self.cold_zip, docs[: self.N_COLD])
        self.exp_incr = gen.write_match_zip(self.incr_zip, docs) - self.exp_cold
        self.keys = sorted(name.rsplit(".", 1)[0] for name, _, _ in docs)
        self.results: list = []

    def expect(self) -> None:
        pass  # prepare() already returned the expected row counts

    def start_trace(self) -> None:
        pass  # the pipeline wrappers (tracing.LayerTrace) cover this workload

    def iteration(self, spark, rec, i: int) -> None:
        from etl_ipl_data_analysis_pipeline_spark.pipeline import run_ingest

        d = os.path.join(self.work, f"ingest-{i}")
        args = [os.path.join(d, p) for p in ("landing", "out", "ledger", "registry")]
        try:
            with rec.op("ingest_cold"):
                cold = run_ingest(spark, self.cold_zip, *args)
            with rec.op("ingest_noop"):
                noop = run_ingest(spark, self.cold_zip, *args)
            with rec.op("ingest_incr"):
                incr = run_ingest(spark, self.incr_zip, *args)
            self.results.append((cold, noop, incr, _dir_stats(d)))
            check(not cold.skipped and cold.processed_files == self.N_COLD,
                  f"cold run processed {cold.processed_files} files")
            check(cold.rows_written == self.exp_cold,
                  f"cold rows {cold.rows_written} != {self.exp_cold}")
            check(noop.skipped and noop.rows_written == 0, "re-run was not a no-op")
            check(incr.processed_files == self.N_INCR,
                  f"incremental run processed {incr.processed_files} files")
            check(incr.rows_written == self.exp_incr,
                  f"incremental rows {incr.rows_written} != {self.exp_incr}")
            ledger = spark.read.parquet(args[2]).select("file_key").collect()
            check(sorted(r[0] for r in ledger) == self.keys, "ledger keys differ")
        finally:
            rmtree(d)

    def headline(self, rec) -> dict:
        return {
            "ingest_cold_s": median(rec.lat.get("ingest_cold", [])),
            "ingest_noop_s": median(rec.lat.get("ingest_noop", [])),
            "ingest_incr_s": median(rec.lat.get("ingest_incr", [])),
        }

    def per_layer(self, rec, log, lt, n_it) -> dict:
        res = self.results[-n_it:] if n_it else []
        cold_docs = sum(r[0].processed_files for r in res) or 1
        by_phase = Counter(j["phase"] for j in log["jobs"].values())
        ingest_wall = sum(sum(rec.lat.get(k, [])) for k in self.kinds)
        n = max(1, n_it)
        out = {
            "io.expand_zip_s": lt.calls.get("expand_zip", 0.0) / n,
            "io.write_parquet_s": lt.calls.get("write_parquet", 0.0) / n,
            "io.swap_directory_s": lt.calls.get("swap_directory", 0.0) / n,
            "io.files_written": sum(r[3][0] for r in res) / n,
            "io.bytes_written": sum(r[3][1] for r in res) / n,
            "io.schema_infer_jobs": totals(log)["schema_inference_jobs"] / n,
            "flatten.passes": lt.flatten_passes / max(1, lt.flatten_calls),
            "flatten.build_s": lt.calls.get("flatten", 0.0) / n,
            "flatten.count_s": lt.spans.get("flatten.count", 0.0) / n,
            "flatten.rows_per_doc": sum(r[0].rows_written for r in res) / cold_docs,
            "ledger.fresh_files": sum(r[0].processed_files + r[2].processed_files for r in res) / n,
            "ledger.discover_s": lt.spans.get("ledger.discover", 0.0) / n,
            "schema_diff.drift_runs": sum(
                (r[0].drift is not None) + (r[2].drift is not None) for r in res
            ) / n,
            "schema_diff.s": lt.spans.get("schema_diff", 0.0) / n,
            "pipeline.self_s": (ingest_wall - sum(lt.calls.values())) / n,
        }
        for phase in ("io.expand_zip", "ledger.discover", "io.read", "flatten.count",
                      "schema_diff", "io.write_parquet", "ledger.update"):
            out[f"pipeline.jobs.{phase}"] = by_phase.get(phase, 0) / n
        return out


# One query per expensive operator family: star join, window, dedup,
# vector kernel, text retrieval, iterative graph.
ANALYTIC_MIX = (
    "q5_region_revenue", "window_running_sum", "dedup_minhash_pairs",
    "kmeans_clusters_exact", "bm25_top_docs_query", "pagerank_copurchase",
)


class AnalyticQueries:
    """A fixed mix of registry queries over the seeded star schema, each
    result collected and compared with the registry's DuckDB oracle.
    Read-only."""

    kinds = ANALYTIC_MIX
    SCALE = 0.01

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.trace_plans = False
        self.plan_s: dict[str, list[float]] = {}
        self.build_s: dict[str, list[float]] = {}

    def prepare(self, spark, inputs: str) -> None:
        self.tables = os.path.join(inputs, "tables")
        self.rows = gen.write_star_tables(self.tables, self.seed, self.SCALE)

    def start_trace(self) -> None:
        self.trace_plans = True

    def expect(self) -> None:
        """(row count, value hash) of each query's DuckDB oracle, hashed
        the way ``scripts/verify_local.py`` compares results."""
        import duckdb
        from etl_ipl_data_analysis_pipeline_spark.plans import load_all
        from scripts.verify_local import value_hash

        reg = load_all()
        con = duckdb.connect()
        for t in self.rows:
            p = os.path.join(self.tables, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        out = {}
        for q in ANALYTIC_MIX:
            res = con.execute(reg[q].oracle)
            rows = res.fetchall()
            out[q] = (len(rows), value_hash(rows, [c[0] for c in res.description]))
        con.close()
        self.oracle = out

    def iteration(self, spark, rec, i: int) -> None:
        from etl_ipl_data_analysis_pipeline_spark.plans import load_all
        from scripts.verify_local import value_hash

        reg = load_all()
        for q in ANALYTIC_MIX:
            with rec.op(q, group=f"plans.{q}"):
                t0 = time.perf_counter()
                df = reg[q].fn(spark, self.tables)
                t1 = time.perf_counter()
                if self.trace_plans:
                    df._jdf.queryExecution().executedPlan()
                    self.plan_s.setdefault(q, []).append(time.perf_counter() - t1)
                rows = df.collect()
            self.build_s.setdefault(q, []).append(t1 - t0)
            got = (len(rows), value_hash([tuple(r) for r in rows], df.columns))
            if got != self.oracle[q]:  # counted; the other queries still run
                rec.fail()
                print(f"perfbench: {q} result {got} != oracle {self.oracle[q]}",
                      file=sys.stderr, flush=True)

    def headline(self, rec) -> dict:
        return {"query_geomean_s": geomean([median(rec.lat.get(q, [])) for q in ANALYTIC_MIX])}

    def per_layer(self, rec, log, lt, n_it) -> dict:
        n = max(1, n_it)
        out = {
            "io.schema_infer_jobs": totals(log)["schema_inference_jobs"] / n,
            "plans.plan_s": sum(sum(v) for v in self.plan_s.values()) / n,
        }
        for q in ANALYTIC_MIX:
            t = totals(log, f"plans.{q}")
            build = median(self.build_s.get(q, [])[-n_it:])
            plan = median(self.plan_s.get(q, []))
            out[f"plans.{q}.build_s"] = build
            out[f"plans.{q}.exec_s"] = median(rec.lat.get(q, [])) - build - plan
            out[f"plans.{q}.jobs"] = t["jobs"] / n
            out[f"plans.{q}.task_cpu_s"] = t["task_cpu_s"] / n
        return out


class WarehouseUpserts:
    """The reference's warehouse load step as a snapshot table of delivery
    rows: daily appends, streamed appends, correction upserts, key
    deletes, pruned as-of reads, a compaction and a change feed."""

    kinds = ("commit", "stream", "merge", "delete", "asof_read", "compact", "changefeed")
    DAYS, ROWS = 4, 2400
    STREAM_FILES, STREAM_ROWS = 2, 1200
    N_UPDATE, N_NEW, N_DELETE = 240, 60, 120

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.stream_batches: list[int] = []
        self.merge_amp: list[float] = []
        self.asof_frac: list[float] = []
        self.storage: list[tuple[float, int]] = []
        self.scans: list[tuple[int, int]] = []  # (files scanned, files live)
        self.tracing = False
        self.direct_commit_s: list[float] = []

    def start_trace(self) -> None:
        """Record, per snapshot scan, how many of the version's files it
        reads after pruning (wraps the table reader the scans share), and
        time a direct commit of one stream file's rows per iteration."""
        from etl_ipl_data_analysis_pipeline_spark import snapshots as sn

        self.tracing = True

        read = sn._read_data

        def counted(spark, base, manifest, rels, *a, **kw):
            self.scans.append((len(rels), len(manifest["files"])))
            return read(spark, base, manifest, rels, *a, **kw)

        sn._read_data = counted

    def prepare(self, spark, inputs: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.types import _parse_datatype_string

        self.days = [
            gen.delivery_rows(self.seed, d, self.ROWS, d * 100_000)
            for d in range(1, self.DAYS + 1)
        ]
        self.schema = _parse_datatype_string(gen.DELIVERY_DDL)
        self.stream_src = os.path.join(inputs, "stream_src")
        os.makedirs(self.stream_src)
        names = [f.name for f in self.schema.fields]
        self.stream_rows = []
        for k in range(self.STREAM_FILES):
            day = self.DAYS + 1 + k
            rows = gen.delivery_rows(self.seed, day, self.STREAM_ROWS, day * 100_000)
            self.stream_rows.append(rows)
            tbl = pa.Table.from_arrays(
                [pa.array(c) for c in zip(*rows)], names=names
            ).cast(pa.schema([
                (n, pa.int64() if n == "delivery_id" else pa.bool_() if n == "is_wicket"
                 else pa.string() if n in ("batter", "bowler") else pa.int32())
                for n in names
            ]))
            pq.write_table(tbl, os.path.join(self.stream_src, f"part-{k}.parquet"))
        day1, day2 = self.days[0], self.days[1]
        self.updates = [
            r[:8] + ((r[8] + 1) % 7,) + r[9:] for r in day1[: self.N_UPDATE]
        ] + gen.delivery_rows(self.seed, 99, self.N_NEW, 99 * 100_000)
        self.delete_keys = [(r[0],) for r in day2[-self.N_DELETE:]]

    def expect(self) -> None:
        pass  # the row-count model is kept by iteration() as it goes

    def _manifest(self, path: str, v: int) -> dict:
        with open(os.path.join(path, "_snapshots", f"v{v:08d}.json")) as f:
            return json.load(f)

    def iteration(self, spark, rec, i: int) -> None:
        import pyspark.sql.functions as F
        from etl_ipl_data_analysis_pipeline_spark import snapshots as sn
        from etl_ipl_data_analysis_pipeline_spark.streaming.snapshot_ingest import (
            run_snapshot_ingest_stream,
        )

        d = os.path.join(self.work, f"wh-{i}")
        path = os.path.join(d, "deliveries")
        by_day: dict[int, int] = {}  # the model: live rows per day

        def count_is(v=None):
            got = sn.snapshot_row_count(spark, path, version=v)
            check(got == sum(by_day.values()), f"rows {got} != model {sum(by_day.values())}")

        try:
            versions, model_at = [], {}
            for k, rows in enumerate(self.days):
                df = spark.createDataFrame(rows, self.schema)
                with rec.op("commit"):
                    versions.append(sn.snapshot_commit(df, path, mode="append"))
                by_day[k + 1] = len(rows)
                model_at[versions[-1]] = dict(by_day)
                count_is()

            stream = (
                spark.readStream.schema(self.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(self.stream_src)
            )
            with rec.op("stream"):
                n_b = run_snapshot_ingest_stream(stream, path, checkpoint=os.path.join(d, "ckpt"))
            self.stream_batches.append(n_b)
            check(n_b == self.STREAM_FILES, f"stream committed {n_b} batches")
            for rows in self.stream_rows:
                by_day[rows[0][1]] = len(rows)
            count_is()

            before = self._manifest(path, sn.snapshot_versions(spark, path)[-1])
            upd = spark.createDataFrame(self.updates, self.schema)
            with rec.op("merge"):
                v_merge = sn.snapshot_merge(upd, path, key_cols=["delivery_id"])
            after = self._manifest(path, v_merge)
            added = set(after["files"]) - set(before["files"])
            rewritten = sum(after.get("rows", {}).get(f, 0) for f in added)
            self.merge_amp.append(rewritten / len(self.updates))
            by_day[99] = self.N_NEW
            count_is()

            keys = spark.createDataFrame(self.delete_keys, "delivery_id BIGINT")
            with rec.op("delete"):
                sn.snapshot_delete_keys(keys, path)
            by_day[2] -= self.N_DELETE
            head = sn.snapshot_versions(spark, path)[-1]
            model_at[head] = dict(by_day)
            count_is()

            # pruned as-of reads: an old version, the daily head, the head
            for v, lo, hi in ((versions[1], 1, 1), (versions[-1], 2, 3), (head, 2, 4)):
                seen = len(self.scans)
                with rec.op("asof_read"):
                    got = sn.snapshot_scan(
                        spark, path, filter=F.col("day").between(lo, hi), version=v
                    ).count()
                self.asof_frac.extend(a / b for a, b in self.scans[seen:] if b)
                want = sum(n for day, n in model_at[v].items() if lo <= day <= hi)
                check(got == want, f"as-of v{v} day {lo}-{hi}: {got} != {want}")

            with rec.op("compact"):
                v_c = sn.snapshot_compact(spark, path)
            count_is(v_c)

            with rec.op("changefeed"):
                cf = dict(
                    sn.snapshot_changes(
                        spark, path, from_version=versions[-1], key_cols=["delivery_id"]
                    ).groupBy("_change_type").count().collect()
                )
            want = {
                "insert": sum(len(r) for r in self.stream_rows) + self.N_NEW,
                "update_preimage": self.N_UPDATE,
                "update_postimage": self.N_UPDATE,
                "delete": self.N_DELETE,
            }
            check(cf == want, f"change feed {cf} != {want}")

            live = self._manifest(path, v_c)["files"]
            live_bytes = sum(os.path.getsize(os.path.join(path, f)) for f in live)
            self.storage.append((_dir_bytes(path) / live_bytes, len(live)))

            if self.tracing:
                # the rows of one stream batch, committed without the stream;
                # not an op: it is a yardstick for streaming.overhead_s
                one = spark.read.schema(self.schema).parquet(
                    os.path.join(self.stream_src, "part-0.parquet")
                )
                t0 = time.perf_counter()
                sn.snapshot_commit(one, path, mode="append")
                self.direct_commit_s.append(time.perf_counter() - t0)
                by_day[self.stream_rows[0][0][1]] += len(self.stream_rows[0])
                count_is()
        finally:
            rmtree(d)

    def _per_batch_s(self, rec) -> list[float]:
        """Each stream op's wall time over the batches it committed
        (query start-up included)."""
        lat = rec.lat.get("stream", [])
        return [t / max(1, b) for t, b in zip(lat, self.stream_batches[-len(lat):])]

    def headline(self, rec) -> dict:
        lat = rec.lat
        return {
            "commit_p50_s": median(lat.get("commit", [])),
            "commit_p90_s": pct(lat.get("commit", []), 0.9),
            "merge_p50_s": median(lat.get("merge", [])),
            "delete_p50_s": median(lat.get("delete", [])),
            "asof_read_p50_s": median(lat.get("asof_read", [])),
            "compact_s": median(lat.get("compact", [])),
            "changefeed_s": median(lat.get("changefeed", [])),
            "stream_batch_p50_s": median(self._per_batch_s(rec)),
        }

    def per_layer(self, rec, log, lt, n_it) -> dict:
        n = max(1, n_it)
        out = {}
        for kind in self.kinds:
            t = totals(log, kind)
            out[f"snapshots.{kind}.jobs"] = t["jobs"] / n
            out[f"snapshots.{kind}.driver_s"] = uncovered_s(log, kind, rec.windows) / n
            out[f"snapshots.{kind}.task_cpu_s"] = t["task_cpu_s"] / n
        out["snapshots.asof_read.files_scanned_frac"] = median(self.asof_frac)
        out["snapshots.merge.rewrite_amplification"] = median(self.merge_amp[-n_it:])
        out["snapshots.bytes_per_user_byte"] = median([s[0] for s in self.storage[-n_it:]])
        out["snapshots.live_files"] = median([s[1] for s in self.storage[-n_it:]])
        out["io.schema_infer_jobs"] = totals(log)["schema_inference_jobs"] / n
        out["streaming.batches"] = sum(self.stream_batches[-n_it:]) / n
        out["streaming.overhead_s"] = median(self._per_batch_s(rec)) - median(
            self.direct_commit_s[-n_it:]
        )
        return out


class Warehouse:
    """The warehouse side of the reference: the delivery table's loads
    and reads (``WarehouseUpserts``) and the analytic query mix it serves
    (``AnalyticQueries``), one after the other in each iteration."""

    name = "warehouse"

    def __init__(self, seed: int, work: str):
        self.parts = (WarehouseUpserts(seed, work), AnalyticQueries(seed, work))
        self.kinds = tuple(k for p in self.parts for k in p.kinds)

    def prepare(self, spark, inputs: str) -> None:
        for p in self.parts:
            p.prepare(spark, inputs)

    def expect(self) -> None:
        for p in self.parts:
            p.expect()

    def start_trace(self) -> None:
        for p in self.parts:
            p.start_trace()

    def iteration(self, spark, rec, i: int) -> None:
        for p in self.parts:
            p.iteration(spark, rec, i)

    def headline(self, rec) -> dict:
        return {k: v for p in self.parts for k, v in p.headline(rec).items()}

    def per_layer(self, rec, log, lt, n_it) -> dict:
        return {k: v for p in self.parts for k, v in p.per_layer(rec, log, lt, n_it).items()}


WORKLOADS = {w.name: w for w in (IplIngest, Warehouse)}
