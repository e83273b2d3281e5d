"""Table IO with explicit partition design (SURVEY.md §2.1 S1-S6, §4).

The reference writes one parquet file per ingested batch, named by
ingestion wall-clock time, and prunes files by that name at read time
(/root/reference/pkg/storage/parquet/parquet.go:86-89,485-499) — which is
wrong for late-arriving data (SURVEY C4).  This engine partitions by
EVENT time (`p_date=days(ts)`) plus a hash bucket of the entity key, so:

- history/backfill scans prune partitions on the event-time predicate
  (static + dynamic partition pruning, free from Catalyst),
- entity-keyed shuffles land on a bounded number of buckets regardless of
  how skewed conversation sizes are,
- per-partition checkpoint/resume (plans/checkpoint.py) has a stable,
  deterministic partition identity to key its manifest on.

Iceberg would be the preferred format (`PARTITIONED BY (bucket(N,
conv_id), days(ts))`); the sandbox has no Iceberg jar, so `table_format()`
feature-detects and falls back to Hive-partitioned parquet with the
identical partition spec — same semantics, same pruning, same tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_N_BUCKETS = 64


def table_format(spark: SparkSession) -> str:
    """'iceberg' when the runtime has the Iceberg SQL extensions, else
    'parquet' (reference backend factory analogue, factory.go:25-36)."""
    try:
        jvm = spark._jvm  # noqa: SLF001
        jvm.Class.forName("org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions")
        return "iceberg"
    except Exception:
        return "parquet"


def with_partition_columns(
    df: DataFrame,
    entity_col: str = "conv_id",
    ts_col: str = "ts",
    n_buckets: int = DEFAULT_N_BUCKETS,
) -> DataFrame:
    """Adds ``p_bucket`` (hash bucket of entity) and ``p_date`` (event-time
    day) — the Iceberg `(bucket(N, conv_id), days(ts))` spec expressed as
    plain columns for the parquet fallback."""
    return df.withColumn(
        "p_bucket", F.pmod(F.xxhash64(F.col(entity_col)), F.lit(n_buckets)).cast("int")
    ).withColumn("p_date", F.to_date(F.col(ts_col)))


def write_partitioned(
    df: DataFrame,
    target: str,
    partition_by: tuple[str, ...] = ("p_bucket",),
    mode: str = "overwrite",
    fmt: str | None = None,
) -> None:
    """Partition-scoped overwrite write: only the partitions present in
    ``df`` are replaced (exactly-once resume semantics).

    ``fmt`` is 'parquet' (``target`` is a path) or 'iceberg' (``target``
    is a table identifier); None auto-detects via :func:`table_format`.

    Parquet: the overwrite mode is set PER-WRITER, not inherited from the
    session — a caller on a vanilla SparkSession (foreign spark-submit
    conf, notebook) would otherwise get STATIC overwrite, which deletes
    every existing partition, including checkpointed-done buckets.

    Iceberg: ``writeTo(t).overwritePartitions()`` — the native equivalent
    (atomic snapshot commit; reference backend factory constructs both
    backends the same way, factory.go:25-36)."""
    fmt = fmt or table_format(df.sparkSession)
    if fmt == "iceberg":
        write_iceberg_partitioned(df, target, partition_by)
        return
    (
        df.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(target)
    )


def write_iceberg_partitioned(
    df: DataFrame,
    table: str,
    partition_by: tuple[str, ...] = ("p_bucket",),
) -> None:
    """Iceberg branch of :func:`write_partitioned`: first write CREATEs the
    table partitioned by the given (already-materialized) columns; later
    writes ``overwritePartitions()`` — replaces exactly the partitions
    present in ``df``, atomically, the checkpoint/resume contract.

    For a RAW transcript table prefer the native transform spec
    (:func:`create_transcripts_iceberg`: ``bucket(N, conv_id), days(ts)``);
    the checkpointed feature output carries an explicit ``p_bucket``
    column so identity partitioning keeps the manifest's partition
    identity byte-stable across formats."""
    spark = df.sparkSession
    if spark.catalog.tableExists(table):
        df.writeTo(table).overwritePartitions()
    else:
        df.writeTo(table).partitionedBy(*[F.col(c) for c in partition_by]).create()


def create_transcripts_iceberg(
    spark: SparkSession,
    table: str,
    n_buckets: int = DEFAULT_N_BUCKETS,
) -> None:
    """Create an empty Iceberg transcript table with the native hidden-
    partition spec the module docstring names: ``(bucket(N, conv_id),
    days(ts))`` — Iceberg derives partition values from the data columns,
    so readers/writers never materialize p_bucket/p_date themselves."""
    from featherstore_spark.schema import TRANSCRIPT_SCHEMA

    empty = spark.createDataFrame([], TRANSCRIPT_SCHEMA)
    empty.writeTo(table).partitionedBy(
        F.bucket(n_buckets, F.col("conv_id")), F.days(F.col("ts"))
    ).create()
