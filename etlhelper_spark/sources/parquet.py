"""Parquet source with TIMESTAMP(NANOS) normalization.

Spark has no nanosecond timestamp type; with
``spark.sql.legacy.parquet.nanosAsLong=true`` a TIMESTAMP(NANOS)
column arrives as BIGINT nanoseconds. This reader detects such
columns from the parquet footer (pyarrow, driver-side, metadata-only —
no data read) and converts them to TimestampType by integer division
to microseconds, so downstream operators see real timestamps.

The footer is the table's first data file's, read through the one
footer memo in functions/util.py (``_file_footer``, keyed on the
file's filesystem type, path, mtime_ns and size): the schema and the
nanosecond columns of a read come from one listing and one footer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.util import arrow_spark_schema, parquet_arrow_schema


def nanos_timestamp_columns(path: str) -> tuple[str, ...]:
    """Names of timestamp[ns] columns in a parquet file/directory."""
    return _nanos_columns(parquet_arrow_schema(path))


def _nanos_columns(arrow_schema) -> tuple[str, ...]:
    if arrow_schema is None:
        return ()
    import pyarrow as pa

    return tuple(
        f.name
        for f in arrow_schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    )


def read_parquet_table(
    spark: SparkSession, path: str, merge_schema: bool = False
) -> DataFrame:
    """spark.read.parquet with nanosecond-timestamp columns restored to
    TimestampType (micros precision, matching every SQL engine's
    truncation of nanos).

    The schema is pre-resolved DRIVER-SIDE from one footer
    (functions/util.py::arrow_spark_schema) whenever the arrow→Spark
    mapping is exact, so the read schedules no inference job — a bare
    ``spark.read.parquet`` pays a one-task footer job per call at zero
    information gain, and every declared query re-reads its base
    tables on every run. Tables Spark did not write that hold
    nanosecond timestamps (whose inference follows the nanosAsLong
    conf) keep Spark's own inference.

    ``merge_schema=True`` reconciles schema evolution across a
    table's files (columns added over time surface as nulls in old
    files) by merging every footer — a distributed metadata job, so
    leave it off for stable-schema tables: at 100 TB the footer sweep
    alone touches millions of files."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    arrow_schema = parquet_arrow_schema(path)
    nanos_cols = _nanos_columns(arrow_schema)
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    elif arrow_schema is not None:
        schema = arrow_spark_schema(arrow_schema, spark)
        if schema is not None:
            reader = reader.schema(schema)
    df = reader.parquet(path)
    long_cols = {
        f.name for f in df.schema.fields if f.dataType.simpleString() == "bigint"
    }
    for col in nanos_cols:
        # only convert when Spark actually surfaced the column as a
        # long: INT96 timestamps also look like timestamp[ns] to
        # pyarrow but Spark reads them natively as TIMESTAMP
        if col in long_cols:
            df = df.withColumn(
                col,
                F.expr(f"timestamp_micros(CAST({col} DIV 1000 AS BIGINT))"),
            )
    return df
