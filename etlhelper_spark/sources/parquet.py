"""Parquet source with TIMESTAMP(NANOS) normalization.

Spark has no nanosecond timestamp type; with
``spark.sql.legacy.parquet.nanosAsLong=true`` a TIMESTAMP(NANOS)
column arrives as BIGINT nanoseconds. This reader detects such
columns from the parquet footer (pyarrow, driver-side, metadata-only —
no data read) and converts them to TimestampType by integer division
to microseconds, so downstream operators see real timestamps.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.util import footer_spark_schema, parquet_fs, parquet_stamp


def nanos_timestamp_columns(path: str) -> tuple[str, ...]:
    """Names of timestamp[ns] columns in a parquet file/directory."""
    return _nanos_columns(path, parquet_stamp(path))


@lru_cache(maxsize=512)
def _nanos_columns(path: str, stamp) -> tuple[str, ...]:
    """:func:`nanos_timestamp_columns` of the table whose newest data
    file is *stamp* (``functions.util.parquet_stamp``): the key changes
    whenever the table's files do, so a rewritten table is re-read."""
    if stamp is None:
        return ()
    import pyarrow as pa
    import pyarrow.parquet as pq

    fs, _ = parquet_fs(path)
    try:
        with fs.open_input_file(stamp[0]) as f:
            schema = pq.ParquetFile(f).schema_arrow
    except Exception:
        return ()
    return tuple(
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    )


_SCHEMA_CACHE: dict[tuple, object] = {}


def _table_spark_schema(spark: SparkSession, path: str, stamp):
    """Driver-side footer schema for a TABLE path, memoized per
    ``(path, stamp)`` — *stamp* names the table's newest data file with
    its mtime and size, so an overwrite or append re-reads the footer
    instead of serving the schema of files that are gone. The session's
    timestamp confs are pinned by configure_session for its lifetime.
    Only resolvable schemas are cached: a path that yields None (no
    data yet, or a type whose inference needs footer metadata the
    conversion cannot honor — nanosecond timestamps, binary) is
    re-probed on every read."""
    key = (path, stamp)
    if key in _SCHEMA_CACHE:
        return _SCHEMA_CACHE[key]
    schema = footer_spark_schema(path, spark=spark) if stamp else None
    if schema is not None:
        while len(_SCHEMA_CACHE) >= 512:
            _SCHEMA_CACHE.pop(next(iter(_SCHEMA_CACHE)))
        _SCHEMA_CACHE[key] = schema
    return schema


def read_parquet_table(
    spark: SparkSession, path: str, merge_schema: bool = False
) -> DataFrame:
    """spark.read.parquet with nanosecond-timestamp columns restored to
    TimestampType (micros precision, matching every SQL engine's
    truncation of nanos).

    The schema is pre-resolved DRIVER-SIDE from one footer
    (functions/util.py::footer_spark_schema) whenever the arrow→Spark
    mapping is exact, so the read schedules no inference job — a bare
    ``spark.read.parquet`` pays a one-task footer job per call at zero
    information gain, and every declared query re-reads its base
    tables on every run. Tables with timestamp columns (where
    inference depends on footer logical-type details plus the
    nanosAsLong conf) keep Spark's own inference.

    ``merge_schema=True`` reconciles schema evolution across a
    table's files (columns added over time surface as nulls in old
    files) by merging every footer — a distributed metadata job, so
    leave it off for stable-schema tables: at 100 TB the footer sweep
    alone touches millions of files."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stamp = parquet_stamp(path)
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    else:
        schema = _table_spark_schema(spark, path, stamp)
        if schema is not None:
            reader = reader.schema(schema)
    df = reader.parquet(path)
    long_cols = {
        f.name for f in df.schema.fields if f.dataType.simpleString() == "bigint"
    }
    for col in _nanos_columns(path, stamp):
        # only convert when Spark actually surfaced the column as a
        # long: INT96 timestamps also look like timestamp[ns] to
        # pyarrow but Spark reads them natively as TIMESTAMP
        if col in long_cols:
            df = df.withColumn(
                col,
                F.expr(f"timestamp_micros(CAST({col} DIV 1000 AS BIGINT))"),
            )
    return df
