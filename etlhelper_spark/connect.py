"""Connections: the object the ETL operators run against.

The reference's operators take a PEP-249 connection
(reference: etlhelper/connect.py:7-19). Here a :class:`SparkConnection`
pairs a SparkSession with a *backend*:

- **jdbc** — a remote database described by DbParams; queries are pushed
  whole to the database via the JDBC ``query``/``dbtable`` option
  (pushdown parity with reference etl.py:95), writes go through the
  JDBC batch writer, and DDL/DML pass-through uses a driver-side
  ``java.sql.DriverManager`` statement (Spark has no JDBC DDL API).
- **files** — a directory of parquet/csv/json/orc/xml tables registered as
  temp views; queries run on Spark SQL itself. This is the backend the
  test harness and the 100 TB data-lake path use. The directory is
  listed and probed through pyarrow.fs (functions/util.py), so it may
  be any path that both pyarrow.fs and Spark open: a local path or a
  URI (``file://`` is the one tested; ``s3://``, ``gs://``,
  ``hdfs://`` take the same route).

Both backends expose the same three primitives consumed by the
operators in :mod:`etlhelper_spark.operators.etl`:
``dataframe(sql, parameters)``, ``write_dataframe(df, table, ...)`` and
``execute_statement(sql)``.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Any, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession

from .db_params import DbParams
from .exceptions import (
    ETLHelperConnectionError,
    ETLHelperExtractError,
    ETLHelperQueryError,
)
from .parameters import bind_parameters
from .validation import validate_identifier

_FILE_FORMATS = ("parquet", "csv", "json", "orc", "xml")


class SparkConnection:
    """A queryable/writable backend bound to a SparkSession."""

    def __init__(
        self,
        spark: SparkSession,
        kind: str,
        db_params: DbParams | None = None,
        path: str | None = None,
        file_format: str = "parquet",
        jdbc_options: dict[str, str] | None = None,
        password_variable: str | None = None,
    ) -> None:
        self.spark = spark
        self.kind = kind
        self.db_params = db_params
        self.path = path
        self.file_format = file_format
        self.jdbc_options = jdbc_options or {}
        # the env-var NAME, not the secret: resolved lazily at each
        # read/write so the reference's connect(db_params, 'X_PASSWORD')
        # contract holds for every later operation on this connection
        self.password_variable = password_variable
        self._registered: set[str] = set()
        if kind == "files" and path:
            self.register_tables()

    # ------------------------------------------------------------------
    # files backend
    # ------------------------------------------------------------------
    def register_tables(self) -> list[str]:
        """(Re-)register every ``<table>.<ext>`` under ``path`` as a
        temp view.

        Temp views are session-global, so two connections over
        different directories can clobber each other's names;
        ``dataframe()`` re-registers this connection's views right
        before resolving a query to keep names pointing at *its*
        files. Dot-entries are skipped, as a shell glob skips them."""
        from .functions.util import list_fileinfos

        assert self.path is not None
        _fs, infos = list_fileinfos(self.path)
        entries = sorted(
            i.base_name for i in infos if not i.base_name.startswith(".")
        )
        tables: list[str] = []
        for ext in _FILE_FORMATS:
            for base in entries:
                if not base.endswith(f".{ext}"):
                    continue
                name = base[: -len(ext) - 1]
                validate_identifier(name)
                self._load(
                    os.path.join(self.path, base), ext
                ).createOrReplaceTempView(name)
                self._registered.add(name)
                tables.append(name)
        return tables

    def table_path(self, table: str) -> str:
        assert self.path is not None
        return os.path.join(self.path, f"{table}.{self.file_format}")

    def _format_reader(self, fmt: str):
        """Reader configured with the per-format options every read
        site needs (header/schema inference for csv, the row tag for
        Spark 4's built-in XML source)."""
        reader = self.spark.read
        if fmt == "csv":
            reader = reader.option("header", "true").option(
                "inferSchema", "true"
            )
        elif fmt == "xml":
            reader = reader.option("rowTag", "row")
        return reader.format(fmt)

    def _load(self, path: str, fmt: str) -> DataFrame:
        """One table of the files backend. Parquet takes its schema from
        the footer driver-side (sources.read_parquet_table), so the read
        schedules no schema-inference job."""
        if fmt == "parquet":
            from .sources import read_parquet_table

            return read_parquet_table(self.spark, path)
        return self._format_reader(fmt).load(path)

    # ------------------------------------------------------------------
    # common primitives
    # ------------------------------------------------------------------
    def dataframe(
        self,
        select_query: str,
        parameters: Sequence[Any] | Mapping[str, Any] = (),
    ) -> DataFrame:
        """SQL string + parameters -> lazy DataFrame.

        Parity with reference iter_chunks' ``cursor.execute``
        (reference: etl.py:95): the full statement is executed by the
        backend (remote DB for jdbc, Catalyst for files)."""
        bound = bind_parameters(select_query, parameters)
        if self.kind == "files":
            self.register_tables()
        try:
            if self.kind == "jdbc":
                return (
                    self.spark.read.format("jdbc")
                    .options(**self._jdbc_options(query=bound, fetchsize="5000"))
                    .load()
                )
            return self.spark.sql(bound)
        except Exception as exc:
            msg = f"SQL query raised an error.\n\n{bound}\n\n{exc}\n"
            raise ETLHelperExtractError(msg) from exc

    def table_dataframe(
        self,
        table: str,
        partition_column: str | None = None,
        lower_bound: int | str | None = None,
        upper_bound: int | str | None = None,
        num_partitions: int | None = None,
    ) -> DataFrame:
        """Whole-table scan (reference copy_table_rows' SELECT *,
        etl.py:498) — but expressed as a table read so Catalyst can
        prune columns and push filters applied downstream.

        For JDBC sources, ``partition_column`` + bounds +
        ``num_partitions`` split the scan into parallel range queries
        (one per executor task) — the reference's single cursor becomes
        N concurrent cursors. Without them the scan is one connection,
        which on a 1000-executor cluster is the bottleneck; always set
        them for large tables (a numeric/temporal indexed column)."""
        validate_identifier(table)
        if self.kind == "jdbc":
            ranges = {}
            if partition_column is not None:
                # may arrive quoted for case-sensitive columns
                # (Spark's JDBC writer quotes names it creates)
                validate_identifier(partition_column.strip('"'))
                ranges = {
                    "partitionColumn": partition_column,
                    "lowerBound": str(lower_bound),
                    "upperBound": str(upper_bound),
                    "numPartitions": str(
                        num_partitions
                        or self.spark.sparkContext.defaultParallelism
                    ),
                }
            return (
                self.spark.read.format("jdbc")
                .options(**self._jdbc_options(dbtable=table, **ranges))
                .load()
            )
        if self.path is not None:
            from pyarrow.fs import FileType

            from .functions.util import parquet_fs

            fs, p = parquet_fs(self.table_path(table))
            if fs.get_file_info(p).type != FileType.NotFound:
                return self._load(self.table_path(table), self.file_format)
        return self.spark.table(table)

    def write_dataframe(
        self,
        df: DataFrame,
        table: str,
        mode: str = "append",
        batchsize: int = 5000,
        partition_by: list[str] | None = None,
    ) -> None:
        """Batch write. JDBC: Spark's batch INSERT writer with
        ``batchsize`` as the chunk_size analogue (reference
        executemany, etl.py:298). Files: parquet/csv/json append;
        ``partition_by`` produces hive-style partition directories so
        later reads prune partitions on those columns."""
        # validate the FULL name — checking a stripped fragment would
        # let '../' traversal reach the files path and unvalidated
        # strings reach the JDBC dbtable option. JDBC accepts
        # schema.table; the files backend maps names to file names, so
        # only a single identifier is valid there.
        parts = table.split(".")
        max_parts = 2 if self.kind == "jdbc" else 1
        if len(parts) > max_parts or "/" in table or "\\" in table:
            from .exceptions import ETLHelperBadIdentifierError

            raise ETLHelperBadIdentifierError(
                f"Invalid table name: {table!r} (expected "
                + ("'table' or 'schema.table')" if self.kind == "jdbc"
                   else "a single identifier)")
            )
        for part in parts:
            validate_identifier(part)
        if self.kind == "jdbc":
            df.write.format("jdbc").options(
                **self._jdbc_options(dbtable=table, batchsize=str(batchsize))
            ).mode(mode).save()
        else:
            writer = df.write.format(self.file_format).mode(mode)
            if self.file_format == "csv":
                writer = writer.option("header", "true")
            elif self.file_format == "xml":
                writer = writer.option("rowTag", "row").option(
                    "rootTag", "rows"
                )
            if partition_by:
                for col in partition_by:
                    validate_identifier(col)
                writer = writer.partitionBy(*partition_by)
            writer.save(self.table_path(table))
            # refresh the temp view so subsequent queries see new data
            self._load(
                self.table_path(table), self.file_format
            ).createOrReplaceTempView(table)
            self._registered.add(table)

    def execute_statement(
        self,
        query: str,
        parameters: Sequence[Any] | Mapping[str, Any] = (),
    ) -> None:
        """Single DDL/DML statement (reference execute, etl.py:424-453).

        files backend: Spark SQL (CREATE/DROP VIEW, INSERT into
        catalog tables...). jdbc backend: pass-through on a direct
        ``java.sql.DriverManager`` connection via py4j, since Spark's
        JDBC source has no DDL API (SURVEY §7)."""
        bound = bind_parameters(query, parameters)
        try:
            if self.kind == "jdbc":
                with self._jdbc_session() as conn:
                    stmt = conn.createStatement()
                    try:
                        stmt.execute(bound)
                    finally:
                        stmt.close()
            else:
                self.spark.sql(bound).collect()
        except Exception as exc:
            msg = f"SQL query raised an error.\n\n{bound}\n\n{exc}\n"
            raise ETLHelperQueryError(msg) from exc

    def _jdbc_options(self, **options: str) -> dict[str, str]:
        """Spark JDBC reader/writer options: the URL, the call's own
        *options*, then the credentials and the connection's options
        (which override both)."""
        assert self.db_params is not None
        return {
            "url": self.db_params.jdbc_url(),
            **options,
            **self.db_params.jdbc_properties(self.password_variable),
            **self.jdbc_options,
        }

    @contextmanager
    def _jdbc_session(self):
        """A driver-side ``java.sql.Connection`` (via py4j) for the
        statements Spark's JDBC source cannot run. autoCommit is off:
        the block commits once on success, rolls back on error, and the
        connection always closes. (JDBC connections open with
        autoCommit on, and pgjdbc raises on ``commit()`` then.)"""
        assert self.db_params is not None
        props = self.db_params.jdbc_properties(self.password_variable)
        conn = self.spark._jvm.java.sql.DriverManager.getConnection(
            self.db_params.jdbc_url(),
            props.get("user", ""),
            props.get("password", ""),
        )
        try:
            conn.setAutoCommit(False)
            yield conn
            conn.commit()
        except BaseException:
            try:
                conn.rollback()
            except Exception:
                pass
            raise
        finally:
            conn.close()

    def jdbc_executemany(self, sql: str, chunk: list) -> None:
        """Driver-side batched statement execution for arbitrary SQL
        (UPDATE/DELETE/upsert with ``?`` placeholders) via a direct
        java.sql PreparedStatement — the pass-through path for the
        reference's 'any statement' executemany contract
        (reference: etl.py:233-339) when the statement is not an
        INSERT the distributed writer can handle. The chunk commits as
        one transaction.

        Driver-side by design: executors run Python and cannot reach
        JVM JDBC; for bulk custom-SQL writes use
        operators.jdbc_sink.stage_and_merge (distributed staging + one
        set-based statement) instead — this method is for modest
        row-count control statements.
        """
        with self._jdbc_session() as conn:
            stmt = conn.prepareStatement(sql)
            try:
                for row in chunk:
                    values = (
                        list(row.values())
                        if hasattr(row, "values") and not isinstance(row, (list, tuple))
                        else list(row)
                    )
                    for i, value in enumerate(values):
                        stmt.setObject(i + 1, value)
                    stmt.addBatch()
                stmt.executeBatch()
            finally:
                stmt.close()

    def execute_returning(self, sql: str) -> tuple[list[str], list[tuple]]:
        """Run a DML statement driver-side and return the rows it
        produces — the ``INSERT ... RETURNING id`` round-trip
        (reference: docs/code_demos/utilities/return_autogenerated.py:5,
        via fetchone on a RETURNING statement).

        Two JDBC shapes, picked from the SQL text:

        - a ``RETURNING``/``OUTPUT`` clause (PostgreSQL, Oracle,
          MSSQL): ``Statement.execute`` yields a normal ResultSet;
        - plain INSERT on engines without RETURNING syntax (Derby):
          ``prepareStatement(sql, RETURN_GENERATED_KEYS)`` +
          ``getGeneratedKeys()`` surfaces the autogenerated ids.

        Driver-side by design — Spark's JDBC ``query`` option cannot
        run DML, and a RETURNING statement returns O(1) rows.
        """
        import re as _re

        from .validation import strip_sql_noise

        # search with comments AND string literals stripped (same
        # sanitizer as _is_dml): a `-- returning ids` comment on a
        # plain INSERT must not reroute it off the generated-keys
        # path, losing its ids
        bare = strip_sql_noise(sql)
        has_clause = _re.search(
            r"\bRETURNING\b|\bOUTPUT\b", bare, _re.IGNORECASE
        )
        plain_insert = not has_clause and _re.match(
            r"\s*INSERT\b", bare, _re.IGNORECASE
        )
        with self._jdbc_session() as conn:
            if plain_insert:
                # engines without RETURNING syntax (Derby): surface
                # the autogenerated ids via JDBC generated keys
                key_flag = self.spark._jvm.java.sql.Statement.RETURN_GENERATED_KEYS
                stmt = conn.prepareStatement(sql, key_flag)
                try:
                    stmt.executeUpdate()
                    cols, rows = self._drain_resultset(
                        stmt.getGeneratedKeys()
                    )
                    # a table with no identity column yields one all-NULL
                    # dummy key row on some engines — not a real result
                    rows = [r for r in rows if any(v is not None for v in r)]
                finally:
                    stmt.close()
            else:
                # RETURNING/OUTPUT clause, WITH-wrapped DML, or
                # UPDATE/DELETE/MERGE: generic execute — drain the
                # ResultSet if one was produced, else no rows
                stmt = conn.createStatement()
                try:
                    produced = stmt.execute(sql)
                    rs = stmt.getResultSet() if produced else None
                    cols, rows = self._drain_resultset(rs)
                finally:
                    stmt.close()
        return cols, rows

    @staticmethod
    def _drain_resultset(rs) -> tuple[list[str], list[tuple]]:
        """Materialize a java.sql.ResultSet into (labels, row tuples).
        py4j auto-converts primitive wrappers; anything else (e.g.
        BigDecimal) falls back to its string form."""
        if rs is None:
            return [], []
        md = rs.getMetaData()
        n = md.getColumnCount()
        cols = [md.getColumnLabel(i + 1) for i in range(n)]
        rows: list[tuple] = []
        while rs.next():
            vals = []
            for i in range(n):
                v = rs.getObject(i + 1)
                if v is not None and not isinstance(
                    v, (bool, int, float, str, bytes, bytearray)
                ):
                    v = str(v)
                vals.append(v)
            rows.append(tuple(vals))
        rs.close()
        return cols, rows


def connect(
    db_params: DbParams,
    password_variable: str | None = None,
    spark: SparkSession | None = None,
    **kwargs: str,
) -> SparkConnection:
    """Open a JDBC-backed connection (reference: connect.py:7-19;
    password only via environment variable, db_helper.py:75-92)."""
    from .session import get_session

    spark = spark or get_session()
    # fail fast on a missing env var, exactly like the reference's
    # connect() (db_helper.py:75-92) — but keep only the VARIABLE NAME;
    # each later read/write re-resolves so secrets never sit on the
    # connection object
    db_params.jdbc_properties(password_variable, **kwargs)
    return SparkConnection(
        spark,
        "jdbc",
        db_params=db_params,
        jdbc_options=kwargs or {},
        password_variable=password_variable,
    )


def connect_files(
    path: str,
    file_format: str = "parquet",
    spark: SparkSession | None = None,
) -> SparkConnection:
    """Open a files-backed connection over a directory of tables.
    *path* may be local or a URI that both pyarrow.fs and Spark open
    (``file://`` is tested; ``s3://``/``gs://``/``hdfs://`` take the
    same route)."""
    from .session import get_session

    from pyarrow.fs import FileType

    from .functions.util import parquet_fs

    spark = spark or get_session()
    fs, p = parquet_fs(path)
    if fs.get_file_info(p).type != FileType.Directory:
        raise ETLHelperConnectionError(f"No such directory: {path}")
    return SparkConnection(spark, "files", path=path, file_format=file_format)


def get_connection_string(db_params: DbParams, password_variable: str) -> str:
    """Native driver connection string (reference: connect.py:22-30)."""
    return db_params.get_connection_string(password_variable)


def get_sqlalchemy_connection_string(
    db_params: DbParams, password_variable: str
) -> str:
    """SQLAlchemy URL (reference: connect.py:33-43)."""
    return db_params.get_sqlalchemy_connection_string(password_variable)
