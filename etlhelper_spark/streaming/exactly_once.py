"""Exactly-once file sink for streaming via idempotent foreachBatch.

Structured Streaming guarantees at-least-once delivery to foreachBatch:
after a crash the same (batch_id, data) can be replayed.  Exactly-once
therefore has to come from the SINK being idempotent per batch_id —
the pattern here writes each micro-batch to its own
``batch_id=N`` directory and commits a marker file LAST, so a replay
of an already-committed batch is a no-op and a half-written batch
(no marker) is safely overwritten on retry.  This is the same
commit-protocol shape Spark's own file sink uses (_spark_metadata
manifest), spelled out so it works for ANY target a foreachBatch can
reach (JDBC staging tables, object-store prefixes, REST bulk
endpoints — swap the marker for a transactional insert or a manifest
write).

Reference parity: commit_chunks=True restartability
(etlhelper/etl.py:330-336) — the reference restarts at chunk
granularity, this restarts at micro-batch granularity with replay
protection the reference's sequential writer doesn't need.

The marker probe, the marker write and the creation of ``out_dir`` go
through pyarrow.fs (functions/util.py ``parquet_fs``), so ``out_dir``
may be any path that both pyarrow.fs and Spark open: a local path or a
URI (``file://`` is the one tested; ``s3://``, ``gs://``, ``hdfs://``
take the same route).
"""

from __future__ import annotations

import os
import re

from pyarrow.fs import FileType
from pyspark.sql import DataFrame

from ..functions.util import parquet_fs

__all__ = [
    "exactly_once_parquet_sink",
    "idempotent_batch_writer",
    "exactly_once_jdbc_sink",
    "idempotent_jdbc_batch_writer",
]


def idempotent_batch_writer(out_dir: str):
    """Returns a foreachBatch callable writing each batch to
    ``out_dir/batch_id=N`` with marker-file commit semantics."""

    fs, root = parquet_fs(out_dir)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        marker = f"{root.rstrip('/')}/_committed_{batch_id}"
        if fs.get_file_info(marker).type != FileType.NotFound:
            return  # replayed batch: already durable, skip
        target = os.path.join(out_dir, f"batch_id={batch_id}")
        batch_df.write.mode("overwrite").parquet(target)
        with fs.open_output_stream(marker) as fh:
            fh.write(b"ok")

    return write_batch


def exactly_once_parquet_sink(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain ``stream`` (availableNow) into ``out_dir`` exactly once.

    Restart-safe twice over: the checkpoint prevents RE-READING source
    data across restarts, and the idempotent writer prevents
    RE-WRITING a replayed in-flight batch within a restart."""
    fs, root = parquet_fs(out_dir)
    fs.create_dir(root, recursive=True)
    q = (
        stream.writeStream.foreachBatch(idempotent_batch_writer(out_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# Missing-table signatures across the dialect family: a cleanup DELETE
# may only be skipped when the data table does not exist YET — any other
# failure (lock timeout, permission, network) must re-raise, or a
# replayed half-written batch would be appended on top of its own
# leftover rows, silently breaking exactly-once.
_MISSING_TABLE_MARKS = (
    "42x05",  # Derby: table does not exist
    "42p01",  # PostgreSQL: undefined_table
    "42s02",  # MySQL / MSSQL ODBC: base table not found
    "ora-00942",  # Oracle: table or view does not exist
    "invalid object name",  # MSSQL message text
    "table_or_view_not_found",  # Spark SQL error class
    "table or view not found",
)
# generic fallback: the phrase must mention a table-like entity — a
# bare "does not exist" also matches missing COLUMNS (e.g. a data
# table pre-created without __batch_id), and swallowing that error
# lets a replayed half-written batch append on top of its leftovers,
# silently breaking exactly-once. Column/schema errors must raise.
_MISSING_TABLE_RE = re.compile(
    # (?<!of ): Postgres phrases a missing COLUMN as
    # 'column "c" of relation "t" does not exist' — the embedded
    # 'relation "t" does not exist' must NOT read as a missing table,
    # or a half-written batch's cleanup would be skipped on a schema
    # error. \b keeps 'mytable ...' from matching via the suffix.
    r"(?<!of )\b(table|relation|view)\s+\S{0,130}\s*"
    r"(does not exist|doesn't exist|not found)"
)


def _is_missing_table(exc: BaseException) -> bool:
    text = str(exc).lower()
    return any(mark in text for mark in _MISSING_TABLE_MARKS) or bool(
        _MISSING_TABLE_RE.search(text)
    )


def idempotent_jdbc_batch_writer(
    conn, table: str, ledger_table: str = "etl_batch_ledger"
):
    """foreachBatch callable writing each micro-batch to a JDBC table
    exactly once, without requiring a transactional bulk writer.

    The ledger table is the commit marker: a batch is durable iff its
    id is in the ledger, and the ledger row is written LAST. Replay of
    a committed batch is a no-op; replay of a half-written batch first
    deletes its rows (every data row carries ``__batch_id``, so the
    cleanup is a keyed DELETE) and rewrites. The same pattern the file
    sink uses (exactly_once_parquet_sink), with the marker file
    swapped for a ledger insert — reference commit_chunks parity on a
    real database.

    The ledger table (single ``batch_id BIGINT`` column) is created on
    first use if it does not exist. Errors from the cleanup DELETE are
    re-raised unless they are specifically *missing-table* errors — a
    transient DELETE failure (lock, timeout) on a replayed batch must
    abort the batch, not fall through to a duplicating append."""
    from ..exceptions import ETLHelperExtractError, ETLHelperQueryError
    from ..operators.etl import execute, fetchone

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # unquoted identifiers: the ledger is user-DDL (folded to the
        # engine's canonical case), unlike the Spark-written data table
        # whose columns are quoted lowercase
        try:
            done = fetchone(
                f"SELECT batch_id FROM {ledger_table} "
                f"WHERE batch_id = {int(batch_id)}",
                conn,
            )
        except (ETLHelperExtractError, ETLHelperQueryError) as exc:
            if not _is_missing_table(exc):
                raise
            execute(
                f"CREATE TABLE {ledger_table} (batch_id BIGINT)", conn
            )
            done = None
        if done is not None:
            return  # replayed batch: already durable
        try:
            execute(
                f'DELETE FROM {table} WHERE "__batch_id" = {int(batch_id)}',
                conn,
            )
        except ETLHelperQueryError as exc:
            if not _is_missing_table(exc):
                raise  # transient failure: abort, don't duplicate
            # first batch: data table not created yet
        from pyspark.sql import functions as F

        payload = batch_df.withColumn(
            "__batch_id", F.lit(int(batch_id))
        ).coalesce(1)
        conn.write_dataframe(payload, table, mode="append")
        execute(
            f"INSERT INTO {ledger_table} VALUES ({int(batch_id)})", conn
        )

    return write_batch


def exactly_once_jdbc_sink(
    stream: DataFrame,
    conn,
    table: str,
    checkpoint_dir: str,
    ledger_table: str = "etl_batch_ledger",
) -> None:
    """Drain ``stream`` (availableNow) into a JDBC table exactly once:
    checkpoint prevents re-reading source data across restarts, the
    batch ledger prevents re-writing replayed batches within one."""
    q = (
        stream.writeStream.foreachBatch(
            idempotent_jdbc_batch_writer(conn, table, ledger_table)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
