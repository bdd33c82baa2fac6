"""Table source/sink with format fallback.

The north rule targets partitioned Iceberg tables; the Iceberg runtime jars
are not in this image, so the writer probes for the Iceberg catalog and
falls back to plain parquet directories with identical layout. On a real
cluster, set QSE_TABLE_FORMAT=iceberg (jars on the classpath) and nothing
else changes."""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

FORMAT = os.environ.get("QSE_TABLE_FORMAT", "parquet")


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def iceberg_session(warehouse: str, app_name: str = "qse-iceberg",
                    master: str | None = None,
                    catalog: str = "qse") -> SparkSession:
    """SparkSession wired to a LOCAL Iceberg hadoop catalog at
    `warehouse` (the setup tests/test_iceberg.py drives; on a real
    cluster substitute the production catalog impl/URI). Raises
    RuntimeError when the Iceberg runtime jars are absent — callers that
    can fall back should probe iceberg_available() on an existing
    session first. Built via the standard catalog config keys only, so
    the same function works under spark-submit with --packages."""
    from ..session import get_spark

    spark = get_spark(
        master=master, app_name=app_name,
        extra_conf={
            f"spark.sql.catalog.{catalog}":
                "org.apache.iceberg.spark.SparkCatalog",
            f"spark.sql.catalog.{catalog}.type": "hadoop",
            f"spark.sql.catalog.{catalog}.warehouse": warehouse,
            "spark.sql.extensions":
                "org.apache.iceberg.spark.extensions."
                "IcebergSparkSessionExtensions",
        })
    if not iceberg_available(spark):
        raise RuntimeError(
            "Iceberg runtime jars not on the classpath; add "
            "iceberg-spark-runtime to spark.jars / --packages")
    return spark


def merge_into_groups(spark: SparkSession, table: str,
                      delta: DataFrame, keys: list[str]) -> None:
    """Iceberg MERGE INTO upsert of a distinct-triple delta aggregate:
    matched keys add their cnt, unmatched insert — the row-level
    equivalent of streaming.incremental.compact_to_base's
    rewrite-and-rename publish (equivalence asserted in
    tests/test_iceberg.py when the runtime is present). `table` must be
    an Iceberg identifier (catalog.db.name); Iceberg gives the statement
    snapshot isolation + atomic commit, which is why no staging/rename
    dance is needed on that path.

    The delta's view name is unique per call, so concurrent merges in one
    session cannot read each other's delta, and the insert names its
    columns, so it does not depend on the delta's column order matching
    the table's."""
    view = f"_qse_merge_delta_{uuid.uuid4().hex}"
    delta.createOrReplaceTempView(view)
    on = " AND ".join(f"t.{k} <=> s.{k}" for k in keys)
    cols = ", ".join(delta.columns)
    vals = ", ".join(f"s.{c}" for c in delta.columns)
    try:
        spark.sql(f"""
            MERGE INTO {table} t USING {view} s ON {on}
            WHEN MATCHED THEN UPDATE SET t.cnt = t.cnt + s.cnt
            WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})""")
    finally:
        spark.catalog.dropTempView(view)


def read_table(spark: SparkSession, path_or_table: str) -> DataFrame:
    if FORMAT == "iceberg" and iceberg_available(spark):
        return spark.read.format("iceberg").load(path_or_table)
    return spark.read.parquet(path_or_table)


def write_table(df: DataFrame, path_or_table: str,
                partition_by: list[str] | None = None,
                mode: str = "overwrite") -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if FORMAT == "iceberg" and iceberg_available(df.sparkSession):
        w.format("iceberg").save(path_or_table)
    else:
        w.parquet(path_or_table)
