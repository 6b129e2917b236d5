"""Incremental file-ledger semantics (SURVEY.md §2.9 L1-L4) — the
reference's DynamoDB ProcessedFiles table and per-stage boolean flags
(final_DAG.py:44-101, 265-308; lamda_function.py:40-47) as DataFrame ops.

The ledger is a plain table (file_key, ingested, crawled, transformed,
loaded, updated_at). Per-key point lookups become set-oriented joins:
- new-file discovery  = left_anti join           (J2/L1)
- pending-stage query = boolean filter + semi join (J1/P6)
- stage completion    = upsert (union + last-state window)   (L2)

At 100 TB the ledger is tiny relative to data (one row per file), so it
always broadcasts; store it as Parquet snapshots (or a Delta-style table
where available) and compact with ``latest_state``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

STAGES = ("ingested", "crawled", "transformed", "loaded")

LEDGER_SCHEMA = (
    "file_key string, ingested boolean, crawled boolean, "
    "transformed boolean, loaded boolean, updated_at timestamp"
)


def empty_ledger(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], LEDGER_SCHEMA)


def strip_extension(col):
    """Key normalization (final_DAG.py:65): drop the trailing extension."""
    col = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(col, r"\.[^./]*$", "")


def discover_new_files(listing: DataFrame, ledger: DataFrame, key_col: str = "file_key") -> DataFrame:
    """L1/J2: files in the listing with no ledger row (never seen).
    Reference: the no-Item branch (final_DAG.py:71-72) / skip-if-present
    (stream_upload_to_s3.py:44-46), one anti-join instead of N lookups."""
    return listing.join(F.broadcast(ledger.select(key_col)), key_col, "left_anti")


def pending_for_stage(ledger: DataFrame, stage: str) -> DataFrame:
    """J1/P6: the reference's 4-flag predicate (final_DAG.py:69) generalized —
    rows that completed every stage before ``stage`` but not ``stage``."""
    idx = STAGES.index(stage)
    cond = ~F.col(stage)
    for prior in STAGES[:idx]:
        cond = cond & F.col(prior)
    return ledger.filter(cond)


def mark_stage(
    ledger: DataFrame,
    keys: DataFrame,
    stage: str,
    key_col: str = "file_key",
) -> DataFrame:
    """L2: set ``stage=true`` for the given keys (final_DAG.py:92-96 batched).
    Implemented as join + conditional update, preserving other rows."""
    flagged = keys.select(key_col).distinct().withColumn("__hit", F.lit(True))
    out = ledger.join(F.broadcast(flagged), key_col, "left")
    return out.select(
        key_col,
        *[
            (
                F.when(F.col("__hit") & (F.lit(s) == stage), F.lit(True))
                .otherwise(F.col(s))
                .alias(s)
            )
            for s in STAGES
        ],
        F.when(F.col("__hit"), F.current_timestamp()).otherwise(F.col("updated_at")).alias(
            "updated_at"
        ),
    )


def ingest_new(
    ledger: DataFrame,
    new_keys: DataFrame,
    key_col: str = "file_key",
    stages: tuple[str, ...] = ("ingested",),
) -> DataFrame:
    """L2/L3: append never-seen keys as new rows with ``stages`` true and
    every other stage false (idempotent — existing keys are excluded by the
    anti-join first, mirroring the head_object skip at
    lamda_function.py:31-37; their rows are left as they are).

    A runner that completes several stages for its batch before it commits
    passes them all here (``run_ingest`` writes its keys already marked
    through ``transformed``): one anti-join + union instead of one
    ``mark_stage`` join per stage, with the same resulting rows."""
    fresh = discover_new_files(new_keys.select(key_col).distinct(), ledger, key_col)
    rows = fresh.select(
        key_col,
        *[F.lit(s in stages).alias(s) for s in STAGES],
        F.current_timestamp().alias("updated_at"),
    )
    return ledger.unionByName(rows)


def latest_state(ledger_log: DataFrame, key_col: str = "file_key") -> DataFrame:
    """Compact an append-only ledger log to current state per key (last
    writer wins by updated_at) — the Delta-style MERGE expressed as a
    window. Used when the ledger is stored append-only at scale."""
    w = Window.partitionBy(key_col).orderBy(F.desc("updated_at"))
    return (
        ledger_log.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
