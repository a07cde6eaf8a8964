"""Core ETL operators: extract / transform / load / copy.

Re-expresses the reference's operator inventory (SURVEY §2; reference:
etlhelper/etl.py) on Spark's execution model:

- extract: SQL string -> DataFrame (backend executes the whole query,
  exactly like reference etl.py:95 pushes it to the backing DB), then
  either a *driver-streamed* chunk iterator (`iter_chunks`, parity with
  the reference's bounded-memory generator pipeline) or the DataFrame
  itself for distributed continuation.
- transform: the reference's ``Callable[[Chunk], Chunk]`` surface
  (reference: types.py:23) runs distributed via ``mapInPandas`` (one
  Arrow batch ≙ one chunk) on the copy path, and driver-side per chunk
  on the iter_* path for exact semantics parity.
- load: Python rows are written chunk by chunk, one transaction per
  chunk (on JDBC on the driver, with Spark's own JDBC setters and no
  Spark job), with row-level error isolation (reference on_error
  semantics, etl.py:305-320,342-365); a DataFrame is written
  distributed by Spark's batch writer.
- copy: distributed read -> transform -> write; Spark turns the
  reference's sequential chunk alternation (etl.py:368-421) into
  partition-parallel pipelines on a files source. A JDBC source is
  read as ONE partition (one task on one cursor): neither
  ``dataframe(sql)`` nor ``copy_table_rows`` passes Spark's JDBC
  partition options. To split such a read, build the source with
  ``table_dataframe(table, partition_column=..., lower_bound=...,
  upper_bound=..., num_partitions=...)`` and write it with
  ``load(target, dest_conn, df)``.
"""

from __future__ import annotations

import copy as _copy
import logging
import time
from collections import namedtuple
from contextlib import ExitStack, contextmanager, nullcontext
from itertools import chain, islice, zip_longest
from typing import Any, Callable, Iterable, Iterator, Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType, _merge_type

from ..abort import clear_abort_event, raise_for_abort, _register_session
from ..connect import SparkConnection, row_converter
from ..exceptions import (
    ETLHelperError,
    ETLHelperExtractError,
    ETLHelperInsertError,
    ETLHelperQueryError,
)
from ..row_factories import dict_row_factory
from ..types import Chunk, FailedRow, Transform
from ..validation import validate_identifier

logger = logging.getLogger("etlhelper_spark")

#: default chunk size — fetch, insert and commit granularity
#: (reference: etl.py:45)
CHUNKSIZE = 5000

#: longest wait for a committed write's observed row count
_METRICS_WAIT_S = 120.0

class dataframe_transform:  # noqa: N801 - decorator-style name
    """Mark a callable as a DataFrame -> DataFrame transform (the fast
    path: stays JVM-side, participates in Catalyst optimization).

    Plain callables passed as ``transform=`` are treated as the
    reference's Chunk -> Chunk Python functions and run via
    ``mapInPandas`` when distributed.
    """

    def __init__(self, fn: Callable[[DataFrame], DataFrame]) -> None:
        self.fn = fn

    def __call__(self, df: DataFrame) -> DataFrame:
        return self.fn(df)


# ----------------------------------------------------------------------
# transform plumbing
# ----------------------------------------------------------------------
def _infer_transformed_schema(df: DataFrame, transform: Transform, sample_rows: int):
    """Run *transform* on a small driver-side sample to learn the output
    schema — the Spark analogue of the reference's first-row sniffing
    (reference: etl.py:545-556)."""
    spark = df.sparkSession
    sample = [r.asDict() for r in df.limit(sample_rows).collect()]
    transformed = transform(_copy.deepcopy(sample))
    if not transformed:
        return df.schema, [f.name for f in df.schema.fields]
    sample_df = spark.createDataFrame(transformed)  # type: ignore[arg-type]
    return sample_df.schema, list(sample_df.columns)


def apply_transform(
    df: DataFrame,
    transform: Transform | dataframe_transform | None,
    sample_rows: int = 100,
) -> DataFrame:
    """Apply a transform to a DataFrame, distributed.

    - ``None``: no-op.
    - :class:`dataframe_transform`: called directly (JVM fast path).
    - plain callable: reference Chunk->Chunk semantics over dict-shaped
      rows, executed per Arrow batch with ``mapInPandas`` (batch-in /
      batch-out, row count may change — exact match for reference
      types.py:23 / etl.py:133-135).
    """
    if transform is None:
        return df
    if isinstance(transform, dataframe_transform):
        return transform(df)

    import pandas as pd  # local import: executors re-import cheaply

    schema, out_cols = _infer_transformed_schema(df, transform, sample_rows)

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            chunk = pdf.to_dict("records")
            out = transform(chunk)
            if out:
                yield pd.DataFrame(out, columns=out_cols)

    return df.mapInPandas(run, schema)


# ----------------------------------------------------------------------
# extract operators (E1-E6)
# ----------------------------------------------------------------------
def iter_chunks(
    select_query: str,
    conn: SparkConnection,
    parameters: Sequence[Any] | Mapping[str, Any] = (),
    row_factory: Callable = dict_row_factory,
    transform: Transform | None = None,
    chunk_size: int = CHUNKSIZE,
    limit: int | None = None,
) -> Iterator[Chunk]:
    """Run *select_query* and yield driver-side chunks of rows.

    Parity with reference iter_chunks (etl.py:53-139): lazy, row_factory
    applied per row, transform per chunk, abort checked per chunk.

    - jdbc: the statement runs as given on one driver-side JDBC
      session (:meth:`SparkConnection.driver_result`), the reference's
      ``cursor.execute`` + ``fetchmany`` loop: no Spark job runs, rows
      are converted by Spark's JDBC read code (the same values and
      types as ``conn.dataframe``), and one fetch batch is resident at
      a time (the connection's ``fetchsize``, else the larger of
      *chunk_size* and 5000 rows). DML (``INSERT ... RETURNING``, a
      generated-key INSERT) commits before its first row is yielded.
      Closing the generator early closes the statement and session.
    - files: Spark SQL executes the query, distributed, and its rows
      stream back a partition at a time (``toLocalIterator``).

    ``limit`` (internal; used by fetchone) caps the result in the
    backend: ``setMaxRows`` on jdbc, a LIMIT in the plan on files (the
    bounded result arrives in one ``collect``).
    """
    clear_abort_event()
    _register_session(conn.spark)
    logger.info("Fetching rows (chunk_size=%s)", chunk_size)
    logger.debug("Fetching:\n\n%s\n\nwith parameters:\n\n%s\n\nagainst\n\n%r",
                 select_query, parameters, conn)
    sql = select_query
    if conn.kind == "jdbc":
        from ..connect import FETCH_SIZE
        from ..parameters import bind_parameters

        sql = bind_parameters(select_query, parameters)
        result = conn.driver_result(
            sql, max(chunk_size, FETCH_SIZE), max_rows=limit or 0
        )
    else:
        with _extract_errors(sql):
            df = conn.dataframe(select_query, parameters)
            if limit is not None:
                df = df.limit(limit)
                rows = iter(df.collect())
            else:
                rows = df.toLocalIterator(prefetchPartitions=True)
        result = nullcontext((df.columns, rows))

    with ExitStack() as stack:
        with _extract_errors(sql):
            columns, rows = stack.enter_context(result)
        create_row = row_factory(columns)
        first_pass = True
        n_rows = 0
        while True:
            raise_for_abort()
            with _extract_errors(sql):
                fetched = list(islice(rows, chunk_size))
            if not fetched:
                break
            chunk = [create_row(tuple(r)) for r in fetched]
            if transform:
                chunk = transform(chunk)
            if first_pass:
                logger.debug("First row: %s", chunk[0] if chunk else None)
                first_pass = False
            n_rows += len(fetched)
            yield chunk
    logger.info("%s rows returned", n_rows)


@contextmanager
def _extract_errors(sql: str):
    """Raise a fetch failure as ETLHelperExtractError, or as the abort
    when the abort event is set (the failure is then our own job-group
    cancellation)."""
    try:
        yield
    except Exception as exc:
        raise_for_abort()
        if isinstance(exc, ETLHelperError):
            raise
        raise ETLHelperExtractError(
            f"SQL query raised an error.\n\n{sql}\n\n{exc}\n"
        ) from exc


def iter_rows(
    select_query: str,
    conn: SparkConnection,
    parameters: Sequence[Any] | Mapping[str, Any] = (),
    row_factory: Callable = dict_row_factory,
    transform: Transform | None = None,
    chunk_size: int = CHUNKSIZE,
) -> Iterator[Any]:
    """Flatten iter_chunks to row-at-a-time (reference: etl.py:142-169)."""
    for chunk in iter_chunks(
        select_query,
        conn,
        parameters=parameters,
        row_factory=row_factory,
        transform=transform,
        chunk_size=chunk_size,
    ):
        yield from chunk


def fetchone(
    select_query: str,
    conn: SparkConnection,
    parameters: Sequence[Any] | Mapping[str, Any] = (),
    row_factory: Callable = dict_row_factory,
    transform: Transform | None = None,
    chunk_size: int = 1,
) -> Any | None:
    """First row or None (reference: etl.py:172-204). With no transform
    the result is capped at one row in the backend (``setMaxRows(1)``
    on the driver-side JDBC session, which runs no Spark job; a LIMIT 1
    in the plan on files); with a transform the stream is consulted
    chunk by chunk, one JDBC fetch batch resident, because a transform
    may drop rows (reference semantics). Returning closes the JDBC
    statement and session."""
    gen = iter_chunks(
        select_query,
        conn,
        parameters=parameters,
        row_factory=row_factory,
        transform=transform,
        chunk_size=chunk_size,
        limit=1 if transform is None else None,
    )
    for chunk in gen:
        if chunk:
            gen.close()
            return chunk[0]
    return None


def fetchall(
    select_query: str,
    conn: SparkConnection,
    parameters: Sequence[Any] | Mapping[str, Any] = (),
    row_factory: Callable = dict_row_factory,
    transform: Transform | None = None,
    chunk_size: int = CHUNKSIZE,
) -> list[Any]:
    """All rows materialized (reference: etl.py:207-230)."""
    return list(
        iter_rows(
            select_query,
            conn,
            parameters=parameters,
            row_factory=row_factory,
            transform=transform,
            chunk_size=chunk_size,
        )
    )


def execute(
    query: str,
    conn: SparkConnection,
    parameters: Sequence[Any] | Mapping[str, Any] = (),
) -> None:
    """Single DDL/DML statement (reference: etl.py:424-453)."""
    logger.info("Executing query")
    logger.debug("Executing:\n\n%s\n\nwith parameters:\n\n%s\n\nagainst\n\n%r",
                 query, parameters, conn)
    conn.execute_statement(query, parameters)


# ----------------------------------------------------------------------
# load operators (L1-L5)
# ----------------------------------------------------------------------
def _chunker(
    iterable: Iterable[Any], n_chunks: int
) -> Iterator[tuple[Any, ...]]:
    """Group an iterable into tuples of length *n_chunks*, padding the
    final group with None (reference: etl.py:667-681)."""
    args = [iter(iterable)] * n_chunks
    return zip_longest(*args, fillvalue=None)


def _chunk_data(chunk: list[Any], columns: list[str] | None):
    """``(data, names)`` for ``spark.createDataFrame(data, names)`` from
    reference-style InputRows (mappings, namedtuples or plain
    sequences)."""
    first = chunk[0]
    if isinstance(first, Mapping):
        return [
            {c: row.get(c) for c in columns} if columns else dict(row)
            for row in chunk
        ], None
    if hasattr(first, "_fields"):  # namedtuple
        return chunk, None
    return [tuple(r) for r in chunk], columns or None


def executemany(
    query: str,
    conn: SparkConnection,
    rows: Iterable[Any],
    transform: Transform | None = None,
    on_error: Callable[[list[FailedRow]], None] | None = None,
    commit_chunks: bool = True,
    chunk_size: int = CHUNKSIZE,
) -> tuple[int, int]:
    """Run an INSERT-shaped statement against chunks of *rows*
    (reference: etl.py:233-339).

    Semantics preserved: iterable consumed lazily in chunks of
    *chunk_size*; transform per chunk; per-chunk commit; on chunk
    failure with ``on_error`` the chunk is retried **row by row** and
    rejects are passed to ``on_error`` as FailedRow pairs; without
    ``on_error`` the first failure raises ETLHelperInsertError.
    Returns ``(processed, failed)`` where processed includes failed
    rows (reference: test_etl_load.py:63-65).

    On jdbc an INSERT's chunk is written on the driver
    (:meth:`SparkConnection.driver_write`: Spark's JDBC setters, one
    transaction, no Spark job); any other statement runs as
    PreparedStatement batches on the driver-side session
    (:meth:`SparkConnection.jdbc_executemany`). On files the chunk is
    one Spark write.
    """
    clear_abort_event()
    _register_session(conn.spark)
    logger.info("Executing many (chunk_size=%s)", chunk_size)
    logger.debug("Executing:\n\n%s\n\nagainst\n\n%r", query, conn)

    try:
        table, columns = _parse_insert(query)
        custom_sql = None
    except ETLHelperQueryError:
        if conn.kind != "jdbc":
            raise
        # non-INSERT statement (UPDATE/upsert/...): JDBC pass-through
        # via driver-side PreparedStatement batches
        from ..parameters import to_qmark

        custom_sql = to_qmark(query)
        table, columns = "", None
    processed = 0
    failed = 0
    first_pass = True

    for raw_chunk in _chunker(rows, chunk_size):
        raise_for_abort()
        chunk = [row for row in raw_chunk if row is not None]
        if transform:
            chunk = transform(chunk)
        if not chunk:
            continue
        if first_pass:
            logger.debug("First row: %s", chunk[0])
            first_pass = False

        if custom_sql is not None:
            failed_rows = _execute_custom_chunk(
                conn, custom_sql, chunk, on_error
            )
        else:
            failed_rows = _write_chunk(conn, table, columns, chunk, on_error)
        processed += len(chunk)
        failed += len(failed_rows)
        if failed_rows and on_error is not None:
            on_error(failed_rows)
        logger.info(
            "%s rows processed (%s failed)", processed, failed
        )

    logger.info("%s rows processed in total", processed)
    return processed, failed


def _row_values(row: Any, names: list[str] | None) -> list[Any]:
    if names is not None:
        return [row[n] for n in names]
    if isinstance(row, Mapping):
        return list(row.values())
    return list(row)


def _execute_custom_chunk(
    conn: SparkConnection,
    custom_sql: tuple[str, list[str] | None],
    chunk: list[Any],
    on_error,
) -> list[FailedRow]:
    """Custom-SQL chunk via JDBC PreparedStatement batch; on failure
    with on_error, retry row by row (reference _execute_by_row,
    etl.py:342-365)."""
    sql, names = custom_sql
    try:
        conn.jdbc_executemany(sql, [_row_values(r, names) for r in chunk])
        return []
    except Exception as exc:
        if on_error is None:
            raise ETLHelperInsertError(
                f"SQL statement raised an error.\n\n{sql}\n\n{exc}\n"
            ) from exc
    failed_rows: list[FailedRow] = []
    for row in chunk:
        try:
            conn.jdbc_executemany(sql, [_row_values(row, names)])
        except Exception as row_exc:
            failed_rows.append(FailedRow(row, row_exc))
    return failed_rows


def _write_chunk(
    conn: SparkConnection,
    table: str,
    columns: list[str] | None,
    chunk: list[Any],
    on_error,
) -> list[FailedRow]:
    """Write one chunk as one transaction; on failure with on_error,
    retry row-by-row and collect rejects (reference _execute_by_row,
    etl.py:342-365).

    jdbc: :meth:`SparkConnection.driver_write` writes the chunk on the
    driver with Spark's own JDBC setters, in one transaction and with
    no Spark job, so a failed write leaves nothing committed for the
    retry to write twice. files: a Spark write of the chunk as one
    local frame. The retry types each row as the write itself would
    (no frame per row) and merges the types into one schema, dropping
    the rows that cannot be typed or merged; it writes the rest with
    that schema as one transaction, and only if that fails too writes
    them one at a time, so on_error receives the genuinely failing
    rows. A row's None values take their type from the chunk."""
    try:
        _append_rows(conn, table, columns, chunk)
        return []
    except Exception as exc:
        raise_for_abort()
        if on_error is None:
            raise ETLHelperInsertError(
                f"SQL insert raised an error.\n\nTable: {table}\n\n{exc}\n"
            ) from exc
    failed_rows: list[FailedRow] = []
    ok_rows: list[Any] = []
    infer = row_converter(conn.spark).infer
    data, names = _chunk_data(chunk, columns)
    schema = None
    for row, item in zip(chunk, data):
        try:
            t = infer(item, names)
            schema = t if schema is None else _merge_type(schema, t)
            ok_rows.append(row)
        except Exception as row_exc:
            failed_rows.append(FailedRow(row, row_exc))
    if ok_rows:
        try:
            _append_rows(conn, table, columns, ok_rows, schema)
        except Exception:
            # a DB-side failure (constraint violation, overflow at the
            # DB) can be caused by ONE row
            for row in ok_rows:
                try:
                    _append_rows(conn, table, columns, [row], schema)
                except Exception as row_exc:
                    failed_rows.append(FailedRow(row, row_exc))
    return failed_rows


def _append_rows(
    conn: SparkConnection,
    table: str,
    columns: list[str] | None,
    rows: list[Any],
    schema: StructType | None = None,
) -> None:
    """Append *rows* to *table* in one transaction (jdbc) or one write
    of one file (files), typed by *schema* when given, else inferred
    from the rows."""
    data, names = _chunk_data(rows, columns)
    if conn.kind == "jdbc":
        conn.driver_write(table, data, schema or names)
        return
    df = conn.spark.createDataFrame(
        data, schema or names, verifySchema=False
    ).repartition(1)
    conn.write_dataframe(df, table, mode="append", batchsize=len(rows))


def _parse_insert(query: str) -> tuple[str, list[str] | None]:
    """Extract table and column list from an INSERT statement produced
    by generate_insert_sql (or a user's equivalent)."""
    import re

    m = re.match(
        r"\s*INSERT\s+INTO\s+([\w\.\$\"]+)\s*(?:\(([^)]*)\))?",
        query,
        re.IGNORECASE,
    )
    if not m:
        raise ETLHelperQueryError(
            "executemany on the Spark engine supports INSERT statements; "
            f"got: {query[:80]!r}. Use execute() for other statements."
        )
    table = m.group(1).strip('"')
    cols = (
        [c.strip().strip('"') for c in m.group(2).split(",")]
        if m.group(2)
        else None
    )
    return table, cols


def load(
    table: str,
    conn: SparkConnection,
    rows: Iterable[Any] | DataFrame,
    transform: Transform | None = None,
    on_error: Callable[[list[FailedRow]], None] | None = None,
    commit_chunks: bool = True,
    chunk_size: int = CHUNKSIZE,
) -> tuple[int, int]:
    """Auto-generated insert of *rows* into *table*
    (reference: etl.py:509-574).

    Columns come from the first transformed row, peeked without
    consuming the iterator (reference chain re-attach, etl.py:545-548);
    extra columns in later rows are dropped, matching the documented
    reference behavior. Empty/None input returns (0, 0). Rows are
    written by :func:`executemany`, one transaction per chunk; on jdbc
    each chunk is written on the driver with no Spark job, and a
    missing table is created from the first chunk's inferred schema,
    as Spark's JDBC writer creates it.

    A DataFrame input takes the fully-distributed path: one pass over
    the frame (see :func:`observed_write`), with ``on_error`` called
    once, after the write commits, with the rows the existing target
    rejects.
    """
    validate_identifier(table)

    if isinstance(rows, DataFrame):
        clear_abort_event()
        _register_session(conn.spark)
        df = apply_transform(rows, transform)
        return observed_write(
            df, conn, table, on_error=on_error, batchsize=chunk_size
        )

    if rows is None:
        return 0, 0
    iterator = iter(rows)
    try:
        first_row = next(iterator)
    except StopIteration:
        return 0, 0
    iterator = chain([first_row], iterator)

    # derive the column list from a deepcopy-transformed peek
    # (reference: etl.py:550-556)
    peek = _copy.deepcopy([first_row])
    if transform:
        peek = transform(peek)
    if not peek:
        columns = None
    else:
        sample = peek[0]
        if isinstance(sample, Mapping):
            columns = list(sample.keys())
        elif hasattr(sample, "_fields"):
            columns = list(sample._fields)
        else:
            columns = None

    query = generate_insert_sql(table, peek[0] if peek else first_row, conn)
    return executemany(
        query,
        conn,
        iterator,
        transform=transform,
        on_error=on_error,
        commit_chunks=commit_chunks,
        chunk_size=chunk_size,
    )


def generate_insert_sql(
    table: str, row: Any, conn: SparkConnection | Any
) -> str:
    """Build an INSERT statement with driver-correct placeholders
    (reference: etl.py:577-639).

    namedtuple rows -> positional paramstyle; mapping rows -> named
    paramstyle (error if the dialect has none, e.g. MSSQL/pyodbc,
    reference db_helpers/mssql.py:32). All identifiers validated.
    """
    dialect = getattr(getattr(conn, "db_params", None), "dialect", None)
    named = getattr(dialect, "named_paramstyle", "named")
    positional = getattr(dialect, "positional_paramstyle", "qmark")

    if hasattr(row, "_fields"):  # namedtuple
        columns = list(row._fields)
        if positional is None:
            raise ETLHelperInsertError(
                "Positional parameters not supported for this dialect"
            )
        placeholders = {
            "qmark": ["?"] * len(columns),
            "numeric": [f":{i + 1}" for i in range(len(columns))],
            "format": ["%s"] * len(columns),
        }[positional]
    elif isinstance(row, Mapping):
        columns = list(row.keys())
        if named is None:
            raise ETLHelperInsertError(
                f"Database needs named parameters, but dialect "
                f"{getattr(dialect, 'dbtype', 'generic')} does not support them"
            )
        placeholders = {
            "named": [f":{c}" for c in columns],
            "pyformat": [f"%({c})s" for c in columns],
        }[named]
    elif isinstance(row, Sequence) and not isinstance(row, (str, bytes)):
        columns = None
        if positional is None:
            raise ETLHelperInsertError(
                "Positional parameters not supported for this dialect"
            )
        placeholders = {
            "qmark": ["?"] * len(row),
            "numeric": [f":{i + 1}" for i in range(len(row))],
            "format": ["%s"] * len(row),
        }[positional]
    else:
        raise ETLHelperInsertError(
            f"Row is not a dict, namedtuple or sequence: {row!r}"
        )

    validate_identifier(table)
    if columns:
        for col in columns:
            validate_identifier(col)
        col_sql = f" ({', '.join(columns)})"
    else:
        col_sql = ""
    return f"INSERT INTO {table}{col_sql} VALUES ({', '.join(placeholders)})"


# ----------------------------------------------------------------------
# copy operators (C1-C3)
# ----------------------------------------------------------------------
def copy_rows(
    select_query: str,
    source_conn: SparkConnection,
    insert_query: str,
    dest_conn: SparkConnection,
    parameters: Sequence[Any] | Mapping[str, Any] = (),
    transform: Transform | dataframe_transform | None = None,
    on_error: Callable[[list[FailedRow]], None] | None = None,
    commit_chunks: bool = True,
    chunk_size: int = CHUNKSIZE,
) -> tuple[int, int]:
    """Copy query results between connections
    (reference: etl.py:368-421).

    Architecturally upgraded per SURVEY §3.3: instead of the
    reference's sequential driver-pumped chunk alternation, the
    DataFrame flows executor-side from source scan through transform to
    the destination batch writer, and the write is the only pass over
    the source (see :func:`observed_write`; a plain-callable transform
    adds its ≤100-row schema sample). On a files source that pipeline
    is partition-parallel end to end. On a JDBC source it is not:
    ``dataframe(sql)`` passes no partition options, so the source is
    read as one partition on one cursor; to split a large JDBC read,
    use ``source_conn.table_dataframe(table, partition_column=...,
    lower_bound=..., upper_bound=..., num_partitions=...)`` and pass
    that DataFrame to ``load(target, dest_conn, df)``.

    The (processed, failed) contract is preserved; ``on_error`` is
    called once, after the write commits, with the rows the existing
    target rejects — the reference's write-then-on_error order per
    chunk (etl.py:305-320).
    """
    clear_abort_event()
    _register_session(source_conn.spark)
    df = source_conn.dataframe(select_query, parameters)
    df = apply_transform(df, transform)
    table, columns = _parse_insert(insert_query)
    if columns:
        df = df.select(*columns)
    return observed_write(
        df, dest_conn, table, on_error=on_error, batchsize=chunk_size
    )


def observed_write(
    df: DataFrame,
    conn: SparkConnection,
    table: str,
    on_error: Callable[[list[FailedRow]], None] | None = None,
    mode: str = "append",
    batchsize: int = CHUNKSIZE,
) -> tuple[int, int]:
    """Write *df* to *table* as the ONLY action on it and return
    ``(processed, failed)``.

    The row count — and, when *on_error* is set and *table* already
    exists, the rows its schema rejects (jdbc_sink.annotate_rows: a
    failed cast or a NOT NULL violation) — ride the write through an
    ``Observation``, so the source scan and any Python transform run
    once, not once per count/collect/write. Rejects are filtered out
    of the write and passed to *on_error* as FailedRow pairs after the
    write commits; a write that raises surfaces as an ETLHelper error
    and never reaches *on_error*. A new table has nothing to validate
    against and takes every row."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from .jdbc_sink import annotate_rows

    target_schema = None
    if on_error is not None:
        try:
            target_schema = conn.target_schema(table)
        except Exception:
            pass  # new table: nothing to validate against
    metrics = [F.count(F.lit(1)).alias("processed")]
    if target_schema is not None:
        df = annotate_rows(df, target_schema)
        metrics.append(
            F.collect_list(
                F.when(F.col("__error").isNotNull(), F.struct(*df.columns))
            ).alias("rejects")
        )
    obs = Observation()
    out = df.observe(obs, *metrics)
    if target_schema is not None:
        out = out.where(F.col("__error").isNull()).drop("__error")
    try:
        conn.write_dataframe(out, table, mode=mode, batchsize=batchsize)
    except ETLHelperError:
        raise
    except Exception as exc:
        raise_for_abort()
        raise ETLHelperInsertError(
            f"SQL insert raised an error.\n\nTable: {table}\n\n{exc}\n"
        ) from exc
    # Spark posts the metrics from a listener on its event bus, usually
    # within milliseconds of the write returning; bound the wait so a
    # dropped event cannot hang the call the way Observation.get would
    metrics_posted = obs._jo.future()
    deadline = time.monotonic() + _METRICS_WAIT_S
    while not metrics_posted.isCompleted():
        if time.monotonic() > deadline:
            raise ETLHelperInsertError(
                f"Write to {table} committed, but Spark did not report "
                f"its row count within {_METRICS_WAIT_S:.0f} s"
            )
        time.sleep(0.002)
    observed = obs.get
    failed_rows = [
        FailedRow(
            {k: v for k, v in row.asDict().items() if k != "__error"},
            ETLHelperInsertError(row["__error"]),
        )
        for row in observed.get("rejects", [])
    ]
    if failed_rows:
        on_error(failed_rows)
    processed = observed["processed"]
    logger.info("%s rows processed (%s failed)", processed, len(failed_rows))
    return processed, len(failed_rows)


def copy_table_rows(
    table: str,
    source_conn: SparkConnection,
    dest_conn: SparkConnection,
    target: str | None = None,
    transform: Transform | dataframe_transform | None = None,
    on_error: Callable[[list[FailedRow]], None] | None = None,
    commit_chunks: bool = True,
    chunk_size: int = CHUNKSIZE,
) -> tuple[int, int]:
    """Whole-table copy; target defaults to the source name
    (reference: etl.py:456-506). One pass over the source, with
    ``on_error`` called after the write commits — as :func:`copy_rows`.
    The source is ``table_dataframe(table)`` with no partition options,
    so a JDBC source is read as one partition (see :func:`copy_rows`
    for the split read).
    """
    validate_identifier(table)
    target = target or table
    validate_identifier(target)
    clear_abort_event()
    _register_session(source_conn.spark)
    df = source_conn.table_dataframe(table)
    df = apply_transform(df, transform)
    return observed_write(
        df, dest_conn, target, on_error=on_error, batchsize=chunk_size
    )
