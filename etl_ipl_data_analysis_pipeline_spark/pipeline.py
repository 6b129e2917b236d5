"""End-to-end ingest pipeline (SURVEY.md §3.1): the reference's DAG chain —
fetch → unzip → read JSON → flatten → schema-drift gate → parquet → ledger
update (final_DAG.py:349's 14-task sequence) — as one composable function.

Batch-incremental by construction: every run discovers only files absent
from the ledger, so re-running against an unchanged landing zone is a
no-op (the run-twice idempotency contract, L3). The streaming twin of the
same semantics is streaming/incremental.py.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from .io import (
    expand_zip,
    fetch_url,
    read_binary_files,
    recover_swapped,
    staging_path,
    swap_directory,
    write_parquet,
)
from .io import read_json as _read_json
from .operators.flatten import flatten
from .operators.ledger import (
    LEDGER_SCHEMA,
    discover_new_files,
    empty_ledger,
    ingest_new,
    mark_stage,  # unused here; kept so perfbench/tracing.py can wrap pipeline.mark_stage
    strip_extension,
)
from .operators.schema_diff import (
    REGISTRY_SCHEMA,
    drift_report,
    schema_diff,
    schema_snapshot,
)


@dataclass
class RunResult:
    processed_files: int
    rows_written: int
    drift: str | None  # drift report when the schema changed, else None
    skipped: bool  # True when no new files were found
    quarantined: int = 0  # malformed documents diverted to quarantine_dir


def _json_from_strings(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Parse a one-column DataFrame of JSON document strings with the full
    JSON datasource (schema inference, top-level-array explosion). The
    JVM ``Dataset.as(Encoders.STRING())`` bridge keeps the documents
    JVM-side; the RDD fallback pays one Python round-trip of the strings
    but is semantically identical."""
    try:
        jvm = spark._jvm
        jds = getattr(docs._jdf, "as")(jvm.org.apache.spark.sql.Encoders.STRING())
        return DataFrame(spark._jsparkSession.read().json(jds), spark)
    except Exception:
        return spark.read.json(docs.rdd.map(lambda r: r[0]))


def _mtime_watermark(
    spark: SparkSession, members: list[str] | None = None, margin_s: int = 5
) -> str | None:
    """A ``modifiedAfter`` watermark in the SESSION timezone (the option is
    parsed in session TZ). Derived from the OLDEST mtime of the files this
    run just wrote — the filesystem's own clock, i.e. the same clock
    ``modifiedAfter`` compares against — so driver-vs-filesystem clock
    drift (NFS landing dir, VM clock skew) cannot place the watermark
    after this run's own extractions. A now()-based watermark would: mtime
    lagging the driver clock by more than the margin silently excludes
    the batch, and step 6 still marks it ingested. The margin absorbs
    second-granularity mtimes. Returns None — scan unbounded, never
    wrong — when no members are given, a stat fails, or the session TZ
    string can't be resolved (fixed-offset strings like GMT+08:00)."""
    import datetime as _dt
    import zoneinfo

    tz_name = spark.conf.get("spark.sql.session.timeZone", None)
    tz = None
    if tz_name:
        try:
            tz = zoneinfo.ZoneInfo(tz_name)
        except Exception:  # fixed-offset strings like GMT+08:00
            return None
    if not members:
        return None
    try:
        epoch = min(os.path.getmtime(m) for m in members)
    except OSError:
        return None
    base = (
        _dt.datetime.fromtimestamp(epoch, tz) if tz else _dt.datetime.fromtimestamp(epoch)
    )
    return (base - _dt.timedelta(seconds=margin_s)).strftime("%Y-%m-%dT%H:%M:%S")


def _load_ledger(spark: SparkSession, ledger_path: str) -> DataFrame:
    # recover_swapped repairs a swap torn by a crash before declaring the
    # ledger absent — an absent-looking ledger would re-ingest everything.
    # The pinned schema spares the parquet footer-inference job per run.
    if recover_swapped(spark, ledger_path):
        return spark.read.schema(LEDGER_SCHEMA).parquet(ledger_path)
    return empty_ledger(spark)


def _save_small_table(df: DataFrame, path: str) -> None:
    """Overwrite a control table (ledger / schema registry) that the input
    plan may still be READING from: write to a temp sibling path first, then
    crash-safely swap directories (io.swap_directory keeps one complete
    copy on disk at every instant). Spark reads lazily, so writing straight
    over the source path would corrupt the plan mid-read — and a
    collect()-to-driver round-trip would cap the ledger at driver memory
    (one row per ingested file is 10⁷ rows at real fleet scale)."""
    spark = df.sparkSession
    tmp = staging_path(path)
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    swap_directory(spark, tmp, path)


def run_ingest(
    spark: SparkSession,
    source: str,
    landing_dir: str,
    out_dir: str,
    ledger_path: str,
    schema_registry_path: str | None = None,
    json_schema=None,
    on_drift: str = "warn",
    quarantine_dir: str | None = None,
    compact_after: bool = False,
    compact_target_mb: int = 128,
) -> RunResult:
    """One pipeline run. ``source`` is a zip path or http(s) URL; JSON
    members land in ``landing_dir``, flattened rows append to ``out_dir``.

    ``compact_after``: run :func:`io.compact_table` on ``out_dir`` after
    the append — the maintenance step that keeps a daily append-mode
    table from accumulating one sliver per run per partition (cost
    scales with the accumulated small-file bytes, so running it every
    ingest is affordable by construction; crash mid-compaction is
    repaired by the recover pass the next run performs).

    Drift gate: the flattened schema is compared against the newest
    snapshot in ``schema_registry_path``; ``on_drift='block'`` raises
    (compare_schema.py's alert-and-stop), 'warn' records the report in the
    result and proceeds.

    ``quarantine_dir`` (requires ``json_schema``): malformed JSON documents
    are captured PERMISSIVE-ly, written there as (path, raw text), and
    excluded from the flatten — one corrupt file degrades to a quarantine
    row instead of failing the whole run.
    """
    if on_drift not in ("warn", "block"):
        raise ValueError("on_drift must be 'warn' or 'block'")
    if quarantine_dir is not None and json_schema is None:
        raise ValueError(
            "quarantine_dir requires json_schema: PERMISSIVE corrupt-record "
            "capture needs a pinned schema to know what a malformed row is"
        )

    # 1. acquire + expand (SRC1/SRC2). fetch_url streams to the landing zone.
    # The oldest mtime among THIS run's extracted members (minus a grace
    # margin for second-granularity mtimes) becomes a modifiedAfter
    # watermark: every file this run extracts passes it by construction —
    # it is the filesystem's own clock, not the driver's — and every file
    # from earlier runs is older, so the per-run scan is bounded by this
    # run's extraction instead of the whole accumulated landing zone.
    # Correctness never depends on it in either direction: the ledger
    # semi-join below filters extra rows the scan returns, and the
    # listing-level guard before step 3 falls back to an unbounded scan
    # if the bounded listing would miss any fresh file.
    if source.startswith(("http://", "https://")):
        archive = os.path.join(landing_dir, os.path.basename(source) or "archive.zip")
        os.makedirs(landing_dir, exist_ok=True)
        fetch_url(source, archive)
    else:
        archive = source
    members = expand_zip(archive, landing_dir, suffix=".json")
    watermark = _mtime_watermark(spark, members)

    # 2. incremental discovery (L1): listing vs ledger by normalized key.
    listing = spark.createDataFrame(
        [(m,) for m in sorted(members)], "path string"
    ).withColumn("file_key", strip_extension(F.expr("reverse(split(path, '/'))[0]")))
    ledger = _load_ledger(spark, ledger_path)
    fresh = discover_new_files(listing, ledger).cache()
    n_new = fresh.count()
    if n_new == 0:
        return RunResult(0, 0, None, skipped=True)

    # 3. read + flatten (SRC3, P1-P4) — only the new files. Discovery stays
    # on EXECUTORS: one glob scan over the landing zone, each row keyed by
    # its source file and semi-joined against the fresh-key set (one short
    # row per new file — broadcasts like the ledger itself). A
    # collect()-to-driver path list would cap a backfill at driver memory
    # (10^6+ new files) and serialize the whole list into every task. The
    # modifiedAfter watermark (step 1) bounds the glob to this run's
    # extractions; the ledger semi-join keeps correctness either way.
    glob_path = os.path.join(landing_dir, "*.json")
    fresh_keys = fresh.select("file_key")

    # Guard against a short scan BEFORE reading: step 6 marks every fresh
    # key ingested, so a watermark that excludes a fresh file would be
    # silent data loss, not slowness. The check is listing-level — the
    # binaryFile source with only `path` projected shares the JSON
    # source's modifiedAfter file-index filter without reading content —
    # and any fresh key missing from the bounded listing (NFS attribute
    # caching, mtime truncation coarser than the margin) drops the
    # watermark entirely for this run.
    if watermark is not None:
        bounded_keys = read_binary_files(
            spark, landing_dir, glob="*.json", modified_after=watermark
        ).select(
            strip_extension(F.expr("reverse(split(path, '/'))[0]")).alias("file_key")
        )
        if not fresh_keys.join(bounded_keys, "file_key", "left_anti").isEmpty():
            watermark = None

    def _only_fresh(df: DataFrame, src_col: str, decode: bool) -> DataFrame:
        # The two file sources disagree on encoding: input_file_name()
        # yields percent-ENCODED URIs ('%'->%25, ' '->%20), binaryFile's
        # `path` column is the raw path. The listing keys above come from
        # raw Python paths, so encoded sources must be decoded before
        # keying — or any filename with a space/% silently matches
        # nothing (zero rows ingested, yet marked done in step 6). '+' is
        # pre-escaped because url_decode is form-decoding ('+' -> ' ')
        # but the URI encoder leaves literal '+' alone.
        basename = F.expr(f"reverse(split({src_col}, '/'))[0]")
        if decode:
            basename = F.url_decode(F.regexp_replace(basename, r"\+", "%2B"))
        keyed = df.withColumn("__fk", strip_extension(basename))
        return keyed.join(
            F.broadcast(fresh_keys.withColumnRenamed("file_key", "__fk")),
            "__fk",
            "left_semi",
        ).drop("__fk")

    n_quarantined = 0
    cached_raw = None
    if quarantine_dir is not None and json_schema is not None:
        from pyspark.sql.types import StringType, StructField, StructType

        schema_q = (
            StructType(list(json_schema.fields) + [StructField("_corrupt", StringType())])
            if isinstance(json_schema, StructType)
            else json_schema + ", _corrupt string"
        )
        # cache() is REQUIRED before projecting the corrupt column alone:
        # Spark refuses corrupt-column-only queries on raw JSON otherwise
        # (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN). The batch
        # is only this run's new files, so the cache is small by design.
        raw = _only_fresh(
            _read_json(
                spark,
                glob_path,
                schema=schema_q,
                corrupt_col="_corrupt",
                modified_after=watermark,
            ).withColumn("_src", F.input_file_name()),
            "_src",
            decode=True,
        ).cache()
        bad = raw.filter(F.col("_corrupt").isNotNull()).select(
            F.col("_src").alias("path"), F.col("_corrupt").alias("raw")
        )
        n_quarantined = bad.count()
        if n_quarantined:
            write_parquet(bad, quarantine_dir, mode="append")
        cached_raw = raw
        raw = raw.filter(F.col("_corrupt").isNull()).drop("_corrupt", "_src")
    elif json_schema is not None:
        raw = _only_fresh(
            _read_json(
                spark, glob_path, schema=json_schema, modified_after=watermark
            ).withColumn("_src", F.input_file_name()),
            "_src",
            decode=True,
        ).drop("_src")
    else:
        # Inference mode: schema must come from THIS batch only (the drift
        # gate compares the new batch's shape, and a whole-zone inference
        # would silently merge historical schemas). Read the landing files
        # as whole documents, semi-join to the fresh set, then let the JSON
        # reader infer over the surviving document STRINGS — discovery and
        # filtering stay on executors with no driver path list.
        docs = _only_fresh(
            read_binary_files(
                spark, landing_dir, glob="*.json", modified_after=watermark
            ).select(
                F.col("path").alias("_src"),
                F.col("content").cast("string").alias("_doc"),
            ),
            "_src",
            decode=False,  # binaryFile paths are raw, not URI-encoded
        ).select("_doc")
        raw = _json_from_strings(spark, docs)
    flat = flatten(raw)

    # 4. drift gate (J3/SE2/SE3) against the newest registry snapshot.
    drift_msg = None
    if schema_registry_path is not None:
        new_snap_rows = schema_snapshot(spark, flat, version_id=0).select("name", "type")
        if recover_swapped(spark, schema_registry_path):
            registry = spark.read.schema(REGISTRY_SCHEMA).parquet(schema_registry_path)
            latest = registry.agg(F.max("version_id")).first()[0]
            old = registry.filter(F.col("version_id") == latest).select("name", "type")
            # one collect of the diff: None when the schemas match
            drift_msg = drift_report(schema_diff(new_snap_rows, old))
            if drift_msg and on_drift == "block":
                raise RuntimeError(drift_msg)
            next_version = latest + 1 if drift_msg else latest
            if drift_msg:
                updated = registry.unionByName(
                    schema_snapshot(spark, flat, version_id=next_version)
                )
                _save_small_table(updated, schema_registry_path)
        else:
            _save_small_table(
                schema_snapshot(spark, flat, version_id=1), schema_registry_path
            )

    # 5. write (SNK1). Append — each run adds only its new files' rows.
    # The flatten runs once: the row count is an Observation gathered by
    # the write job itself, read only after the write has committed.
    observed = Observation()
    write_parquet(
        flat.observe(observed, F.count(F.lit(1)).alias("rows")), out_dir, mode="append"
    )
    rows_written = observed.get["rows"]
    if cached_raw is not None:
        cached_raw.unpersist()  # executor memory back; batch is re-readable
    if compact_after:
        from .io import compact_table

        # recover-then-compact is inside compact_table: a previous run's
        # torn commit replays before this run's bin-packing plan is made
        compact_table(spark, out_dir, target_file_mb=compact_target_mb)

    # 6. ledger update (L2/L3), after the data is durable: the new keys
    # are appended already marked through crawled/transformed (this runner
    # performs both stages) — one anti-join + union, no per-stage join.
    # The ledger stays distributed; _save_small_table swaps it in whole.
    keys = fresh.select("file_key")
    ledger = ingest_new(ledger, keys, stages=("ingested", "crawled", "transformed"))
    _save_small_table(ledger, ledger_path)
    fresh.unpersist()

    return RunResult(n_new, rows_written, drift_msg, skipped=False, quarantined=n_quarantined)
