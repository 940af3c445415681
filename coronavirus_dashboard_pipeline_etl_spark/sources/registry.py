"""Metric reference registry with auto-registration (SURVEY.md §1.3).

The reference keeps a ``metric_reference`` table and, at upload time,
inserts any metric name it has never seen with ON CONFLICT DO NOTHING
before joining the batch to the registry for numeric metric ids
(``db_etl_upload/uploader.py:339-350`` ``validate_metrics``,
``uploader.py:478-498`` ``add_metric``) — the dynamic-schema behaviour
that lets a release introduce new metrics without a migration.

Spark shape: the registry is a tiny parquet dimension (hundreds of
rows at most — metric names, not data), so registration is
driver-coordinated: distinct batch metrics anti-joined against the
registry, new names assigned ids after the current max (ordered by name
for determinism) and appended. The id join back onto the billion-row
long frame is a broadcast. Single-writer per release, like the
reference's upload step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .dump_load import read_parquet_if_present

REGISTRY_SCHEMA = StructType(
    [
        StructField("metric", StringType(), False),
        StructField("metric_id", LongType(), False),
    ]
)


def load_metric_registry(spark: SparkSession, path: str) -> DataFrame:
    """Registry rows, or an empty typed frame if none exist yet.

    Only a genuinely ABSENT path means "fresh registry" — any other
    read failure must propagate: returning an empty frame on a
    transient error would make ``register_metrics`` re-number every
    metric from 1 and append conflicting duplicate (metric, id) rows,
    breaking the append-only id contract for the whole store."""
    registry = read_parquet_if_present(spark.read.schema(REGISTRY_SCHEMA), path)
    if registry is None:
        return spark.createDataFrame([], REGISTRY_SCHEMA)
    return registry


def register_metrics(df: DataFrame, registry_path: str) -> DataFrame:
    """Upsert every metric name in ``df.metric`` into the registry and
    return the refreshed registry.

    Unknown names get ``max(metric_id) + row_number`` ordered by name —
    deterministic within a batch, append-only across batches (the
    reference's SERIAL + ON CONFLICT DO NOTHING). Known names are
    untouched, so re-running a release is a no-op.
    """
    spark = df.sparkSession
    existing = load_metric_registry(spark, registry_path)
    new = (
        df.select("metric")
        .distinct()
        .join(F.broadcast(existing), "metric", "left_anti")
    )
    if new.limit(1).count():
        base = existing.agg(F.max("metric_id")).first()[0] or 0
        # tiny frame (new metric names only): a single-partition
        # row_number is the point, not a bottleneck
        numbered = new.withColumn(
            "metric_id",
            (F.lit(base) + F.row_number().over(Window.orderBy("metric"))).cast(
                "long"
            ),
        )
        numbered.select("metric", "metric_id").write.mode("append").parquet(
            registry_path
        )
    return load_metric_registry(spark, registry_path)


def resolve_metric_ids(long: DataFrame, registry: DataFrame) -> DataFrame:
    """Broadcast-join numeric metric ids onto the long store rows
    (``validate_metrics``' rejoin, ``uploader.py:349``)."""
    return long.join(F.broadcast(registry), "metric", "left")
