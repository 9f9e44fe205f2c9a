"""Lakehouse table-format integration (S6 — the reference's declared
Iceberg target: dbt/promptly/models/raw/raw_provider_postgres.sql:2-12
materializes an Iceberg table with incremental_strategy='merge';
infra/trino/etc/catalog/iceberg.properties:1-5 wires the catalog).

The real ``MERGE INTO`` path is environment-gated: ``format_available``
probes the JVM classpath at runtime; when a format is present,
merge_upsert semantics execute as a storage-native MERGE (one atomic
metadata commit — no read-union-overwrite race, partition-pruned file
rewrites); when absent, callers fall back to the storage-free
union+window form (cdc.batch.merge_upsert_frames), which the oracle
checks. test_lakehouse_merge_gated is skipped without the jars and runs
the MERGE with them.

The gate exists because the bundled Spark 4.1 distribution ships no
Iceberg/Delta jar and no released delta-spark targets Spark 4.1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..cdc.batch import latest_wins

_PROBE_CLASSES = {
    "delta": "io.delta.tables.DeltaTable",
    "iceberg": "org.apache.iceberg.catalog.Catalog",
}


def format_available(spark: SparkSession, fmt: str) -> bool:
    """True iff the table format's classes are on the JVM classpath."""
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(_PROBE_CLASSES[fmt])
        return True
    except Exception:
        return False


def available_formats(spark: SparkSession) -> list[str]:
    return [f for f in _PROBE_CLASSES if format_available(spark, f)]


def merge_into_table(
    spark: SparkSession,
    target_table: str,
    updates: DataFrame,
    key: str,
    order_cols: tuple[str, ...] = ("ts",),
) -> None:
    """Real ``MERGE INTO`` against an Iceberg/Delta catalog table —
    the storage-native form of merge_upsert_frames, intended as the
    foreachBatch body of cdc.streaming.upsert_sink when jars exist.

    The change set is pre-compacted latest-wins per key (MERGE requires
    a unique source key: 'cannot update the same target row twice'),
    then applied as one atomic commit. Update columns win on match,
    inserts appear otherwise — identical end state to the union+window
    form, minus the full-snapshot rewrite: the engine rewrites only
    files containing matched keys (partition/file pruned at 100 TB).
    """
    if not available_formats(spark):
        raise RuntimeError(
            "no lakehouse table format (Iceberg/Delta) on the classpath; "
            "use cdc.batch.merge_upsert_frames (union+window) instead"
        )
    compacted = latest_wins(updates, key, list(order_cols))
    compacted.createOrReplaceTempView("__merge_updates")
    cols = compacted.columns
    set_clause = ", ".join(f"t.{c} = s.{c}" for c in cols)
    insert_cols = ", ".join(cols)
    insert_vals = ", ".join(f"s.{c}" for c in cols)
    spark.sql(
        f"""
        MERGE INTO {target_table} t
        USING __merge_updates s
        ON t.{key} = s.{key}
        WHEN MATCHED THEN UPDATE SET {set_clause}
        WHEN NOT MATCHED THEN INSERT ({insert_cols}) VALUES ({insert_vals})
        """
    )

