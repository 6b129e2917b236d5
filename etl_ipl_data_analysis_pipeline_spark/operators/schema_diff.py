"""Versioned schema snapshots + drift detection (SURVEY.md §1.3, §2 rows
SE1-SE3/J3/SO1-SO2) — compare_schema.py rebuilt as DataFrame operations.

Reference behavior (compare_schema.py):
- fetch table versions, sort desc by int(VersionId)      (:66-70, :93-100)
- added/type-changed columns between newest two           (:29-43)
- dropped columns                                         (:46-53)
- drift -> alert + block GC; clean -> retain newest N     (:117-127, :73-89)

Here a "schema version" is a row set (version_id, name, type); diffing is a
single full-outer join, classification a CASE — the drift report is itself a
DataFrame you can store/query (a drift history table at scale).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.types import StructType


# Row shape of a schema registry table (a union of snapshots). Readers pass
# it to spark.read.schema(...) so loading the registry infers nothing.
REGISTRY_SCHEMA = "version_id long, name string, type string"


def schema_snapshot(spark: SparkSession, df: DataFrame, version_id: int) -> DataFrame:
    """Snapshot a DataFrame's schema as (version_id, name, type) rows —
    replaces the Glue catalog version record (compare_schema.py:107-111)."""
    rows = [(version_id, name, dtype) for name, dtype in spark_schema_to_rows(df.schema)]
    return spark.createDataFrame(rows, REGISTRY_SCHEMA)


def schema_diff(new: DataFrame, old: DataFrame) -> DataFrame:
    """Drift between two (name, type) column sets.

    Returns (name, change, old_type, new_type) where change ∈
    {'added','dropped','type_changed'} — the three classes the reference
    reports (compare_schema.py:40-53). Unchanged columns are omitted.
    """
    n = new.select(F.col("name"), F.col("type").alias("new_type"))
    o = old.select(F.col("name"), F.col("type").alias("old_type"))
    joined = n.join(o, "name", "full_outer")
    return (
        joined.withColumn(
            "change",
            F.when(F.col("old_type").isNull(), "added")
            .when(F.col("new_type").isNull(), "dropped")
            .when(F.col("old_type") != F.col("new_type"), "type_changed"),
        )
        .filter(F.col("change").isNotNull())
        .select("name", "change", "old_type", "new_type")
    )


def diff_latest_versions(snapshots: DataFrame) -> DataFrame:
    """Diff the two newest versions in a snapshot table — the reference's
    versions[0] vs versions[1] (compare_schema.py:103-111), ranking via
    window instead of a driver-side sort."""
    w = Window.orderBy(F.desc("version_id"))
    ranked = snapshots.select("version_id").distinct().withColumn("rk", F.row_number().over(w))
    newest = ranked.filter(F.col("rk") == 1).select("version_id")
    prev = ranked.filter(F.col("rk") == 2).select("version_id")
    new = snapshots.join(F.broadcast(newest), "version_id").select("name", "type")
    old = snapshots.join(F.broadcast(prev), "version_id").select("name", "type")
    return schema_diff(new, old)


def has_drift(new: DataFrame, old: DataFrame) -> bool:
    """SE3 whole-set inequality gate (dags/src/schema_comparision.py:14-27)."""
    return not schema_diff(new, old).isEmpty()


def retain_versions(snapshots: DataFrame, n: int = 5) -> DataFrame:
    """SO1 retain-N GC (compare_schema.py:73-89): keep the newest N versions.
    Returns the retained snapshot rows (persist over the old table)."""
    w = Window.orderBy(F.desc("version_id"))
    keep = (
        snapshots.select("version_id")
        .distinct()
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= n)
        .select("version_id")
    )
    return snapshots.join(F.broadcast(keep), "version_id", "left_semi")


def drift_report(diff: DataFrame) -> str | None:
    """Human-readable drift message (compare_schema.py:40-43,56-63's SNS
    payload), or None when the diff is empty. Driver-side by design — the
    diff itself is tiny, and one collect both decides whether there is
    drift and builds the message."""
    lines = [
        f"- {r['change']}: {r['name']}"
        + (
            f" ({r['old_type']} -> {r['new_type']})"
            if r["change"] == "type_changed"
            else ""
        )
        for r in diff.collect()
    ]
    return "schema drift detected:\n" + "\n".join(lines) if lines else None


def spark_schema_to_rows(schema: StructType) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]
