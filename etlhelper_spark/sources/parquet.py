"""Parquet source with TIMESTAMP(NANOS) normalization.

Spark has no nanosecond timestamp type; with
``spark.sql.legacy.parquet.nanosAsLong=true`` a TIMESTAMP(NANOS)
column arrives as BIGINT nanoseconds. This reader detects such
columns from the parquet footer (pyarrow, driver-side, metadata-only —
no data read) and converts them to TimestampType by integer division
to microseconds, so downstream operators see real timestamps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.util import arrow_spark_schema, parquet_data_files


def nanos_timestamp_columns(path: str) -> tuple[str, ...]:
    """Names of timestamp[ns] columns in a parquet file/directory."""
    return _footer(path)[1]


_FOOTERS: dict[tuple, tuple] = {}


def _footer(path: str):
    """``(arrow schema or None, nanosecond-timestamp column names)`` of
    the table at *path*, both from ONE footer: its first data file's,
    the file functions/util.py ``footer_spark_schema`` reads.

    Memoized per ``(path, stamp)``, where the stamp is the newest data
    file with its mtime and size: an overwrite replaces every data file
    and an append adds a newer one, so either re-reads the footer
    instead of serving facts about files that are gone. One listing
    per call; a footer open only on a miss. The memo holds no Spark
    schema: that depends on the session's confs, and a caller without
    a session must not decide it for the readers that have one. A
    path with no data file yet is not memoized."""
    fs, infos = parquet_data_files(path)
    if not infos:
        return None, ()
    newest = max(infos, key=lambda i: (i.mtime_ns or 0, i.path))
    key = (path, newest.path, newest.mtime_ns, newest.size)
    facts = _FOOTERS.get(key)
    if facts is None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        with fs.open_input_file(min(i.path for i in infos)) as f:
            schema = pq.ParquetFile(f).schema_arrow
        facts = (
            schema,
            tuple(
                f.name
                for f in schema
                if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
            ),
        )
        while len(_FOOTERS) >= 512:
            _FOOTERS.pop(next(iter(_FOOTERS)))
        _FOOTERS[key] = facts
    return facts


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
    arrow_schema, nanos_cols = _footer(path)
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
