"""Connections: the object the ETL operators run against.

The reference's operators take a PEP-249 connection
(reference: etlhelper/connect.py:7-19). Here a :class:`SparkConnection`
pairs a SparkSession with a *backend*:

- **jdbc** — a remote database described by DbParams. Statements run
  whole in the database (pushdown parity with reference etl.py:95).
  Driver-bound extracts (iter_chunks, fetchone, fetchall, the DML
  ``RETURNING`` shim, catalog.table_info) read on one driver-side JDBC
  session (:meth:`SparkConnection.driver_result`), the reference's
  ``cursor.execute`` + ``fetchmany`` loop: no Spark job, rows converted
  by Spark's own JDBC read code, and one fetch batch resident in
  Python. Iterable loads (load/executemany chunks of Python rows) are
  written on the driver too (:meth:`SparkConnection.driver_write`):
  Spark's own JDBC table setup and setters (``JdbcUtils.savePartition``),
  one transaction per chunk, no Spark job. ``dataframe()`` and the
  distributed copy/load paths keep Spark's JDBC read (``query``/
  ``dbtable`` option) and batch writer, and DDL/DML pass-through runs
  on the driver-side session (Spark has no JDBC DDL API). That session
  is opened by Spark's JDBC connection factory with every connection
  option, as a Spark JDBC task opens its own.
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

import json
import os
import re
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from functools import cached_property, reduce
from types import SimpleNamespace
from typing import Any, Mapping, Sequence

from pyspark.errors import PySparkValueError
from pyspark.serializers import BatchedSerializer, CPickleSerializer
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    StructType,
    VariantVal,
    _create_converter,
    _has_nulltype,
    _infer_schema,
    _merge_type,
)
from pyspark.sql.utils import is_timestamp_ntz_preferred
from pyspark.util import _create_local_socket

from .db_params import DbParams
from .exceptions import (
    ETLHelperConnectionError,
    ETLHelperExtractError,
    ETLHelperInsertError,
    ETLHelperQueryError,
)
from .parameters import bind_parameters
from .validation import strip_sql_noise, validate_identifier

_FILE_FORMATS = ("parquet", "csv", "json", "orc", "xml")

#: rows per JDBC fetch: a Spark JDBC read's ``fetchsize`` and the
#: batch the driver-side extract path holds
FETCH_SIZE = 5000

#: the thread that prepares a driver-side result's next fetch batch
_READ_AHEAD = ThreadPoolExecutor(1, thread_name_prefix="etlhelper-read-ahead")


def _is_dml(sql: str) -> bool:
    """True when *sql* is a data-modifying statement: leading keyword
    INSERT/UPDATE/DELETE/MERGE, or a WITH query containing a
    data-modifying CTE (PostgreSQL `WITH ins AS (INSERT ... RETURNING)
    SELECT`). Comments and string literals are stripped first so
    neither a leading `-- note` nor a VALUES literal containing the
    word 'insert' can misroute the statement."""
    bare = strip_sql_noise(sql)
    if re.match(r"(INSERT|UPDATE|DELETE|MERGE)\b", bare, re.IGNORECASE):
        return True
    return bool(
        re.match(r"WITH\b", bare, re.IGNORECASE)
        and re.search(
            r"\b(INSERT|UPDATE|DELETE|MERGE)\b", bare, re.IGNORECASE
        )
    )


def row_converter(spark: SparkSession):
    """A function ``(rows, names=None) -> (schema, internal rows)``
    that converts a local list of Python rows as
    ``spark.createDataFrame(rows, names)`` converts it
    (``SparkSession._inferSchemaFromList``, then ``_createFromLocal``):
    schema inference, the field converter, then ``toInternal``. It
    raises as createDataFrame raises on rows it cannot type. *names*
    may instead be a StructType to convert to, inferred elsewhere: its
    ``infer(row, names)`` attribute is one row's schema, before the
    merge. The session's inference settings are read once, here (each
    is a JVM round trip), so converting row by row makes no JVM
    call."""
    jconf = spark._jconf
    settings = {
        "infer_dict_as_struct": jconf.inferDictAsStruct(),
        "infer_array_from_first_element":
            jconf.legacyInferArrayTypeFromFirstElement(),
        "infer_map_from_first_pair":
            jconf.legacyInferMapStructTypeFromFirstItem(),
        "prefer_timestamp_ntz": is_timestamp_ntz_preferred(),
    }

    def infer(row, names: list[str] | None = None) -> StructType:
        return _infer_schema(row, names, **settings)

    def convert(
        rows: list, names: list[str] | StructType | None = None
    ) -> tuple[StructType, list[tuple]]:
        if any(isinstance(r, VariantVal) for r in rows):
            raise PySparkValueError("Rows cannot be of type VariantVal")
        if not rows:
            raise PySparkValueError(
                errorClass="CANNOT_INFER_EMPTY_SCHEMA", messageParameters={}
            )
        if isinstance(names, StructType):
            struct, names = names, None
        else:
            struct = reduce(_merge_type, (infer(r, names) for r in rows))
        if _has_nulltype(struct):
            raise PySparkValueError(
                errorClass="CANNOT_DETERMINE_TYPE", messageParameters={}
            )
        converter = _create_converter(struct)
        for i, name in enumerate(names or ()):
            struct.fields[i].name = name
            struct.names[i] = name
        return struct, [struct.toInternal(converter(r)) for r in rows]

    convert.infer = infer
    return convert


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
                    .options(**self._jdbc_options(
                        query=bound, fetchsize=str(FETCH_SIZE)
                    ))
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
        self._validate_target(table)
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

    def _validate_target(self, table: str) -> None:
        """Validate the FULL name of a write's target table — checking
        a stripped fragment would let '../' traversal reach the files
        path and unvalidated strings reach the JDBC dbtable option.
        JDBC accepts schema.table; the files backend maps names to file
        names, so only a single identifier is valid there."""
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

    def driver_write(
        self,
        table: str,
        rows: list,
        names: list[str] | StructType | None = None,
    ) -> None:
        """Append *rows* to the JDBC *table* on the driver, as one
        transaction and with no Spark job: the iterable-load path of
        executemany/load (reference executemany + commit per chunk,
        etl.py:233-339).

        *rows* and *names* are what ``spark.createDataFrame(rows,
        names)`` takes, and are converted as it converts them
        (:func:`row_converter`, then on the JVM the conversion
        ``applySchemaToPythonRDD`` applies). Table and rows then take
        the Append branch of Spark's JDBC writer: the table is created
        from the rows' schema when missing, the INSERT matches the
        existing table's columns by name, and ``JdbcUtils.savePartition``
        binds and commits the rows with Spark's own setters, batch size
        = the chunk. It runs here under an empty TaskContext, set only
        around the call. Column types Spark's JDBC writer refuses raise
        before the table is touched."""
        self._validate_target(table)
        struct, internal = row_converter(self.spark)(rows, names)
        jvm = self._jdbc_jvm
        jvm.init_unpickler()
        schema = jvm.parse_type(struct.json())
        # the check DataSource.planForWriting makes before a JDBC write
        if not jvm.jdbc_writer.supportsDataType(schema):
            raise ETLHelperInsertError(
                "Spark's JDBC writer does not support a column type of "
                f"{struct.simpleString()}"
            )
        rows_type = jvm.array_type(schema, True)
        java_rows = jvm.unpickler().loads(CPickleSerializer().dumps(internal))
        scala_rows = jvm.to_scala(
            jvm.from_java(rows_type).apply(java_rows), rows_type
        )
        opts = jvm.JdbcOptionsInWrite(jvm.scala_map(self._jdbc_options(
            dbtable=table, batchsize=str(len(internal))
        )))
        dialect = jvm.dialect(opts.url())
        case_sensitive = jvm.conf.caseSensitiveAnalysis()
        conn = dialect.createConnectionFactory(opts).apply(-1)
        try:
            if jvm.table_exists(conn, opts):
                table_schema = jvm.schema_option(conn, opts)
            else:
                jvm.create_table(conn, opts.table(), schema, case_sensitive, opts)
                table_schema = jvm.some(schema)
        finally:
            conn.close()
        insert = jvm.insert_statement(
            opts.table(), schema, table_schema, case_sensitive, dialect
        )
        # savePartition records its output metrics on TaskContext.get()
        jvm.task_context.setTaskContext(jvm.task_context.empty())
        try:
            jvm.save_partition(
                opts.table(), scala_rows.iterator(), schema, insert,
                opts.batchSize(), dialect, opts.isolationLevel(), opts,
            )
        finally:
            jvm.task_context.unset()

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
                with self._jdbc_session(query=bound) as (conn, _opts, _dialect):
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

    @cached_property
    def _jdbc_jvm(self) -> SimpleNamespace:
        """The JVM entry points of the driver-side JDBC path, looked up
        once per connection: each step of a py4j class or member lookup
        is a round trip to the JVM. Several are Spark-internal members
        (``private[spark]``/``private[sql]`` in Scala, public in the
        bytecode); tests/test_spark_entry_points.py pins each one."""
        jvm = self.spark._jvm
        spark = jvm.org.apache.spark
        jdbc = spark.sql.execution.datasources.jdbc
        utils = jdbc.JdbcUtils
        python = spark.api.python
        evaluate = spark.sql.execution.python.EvaluatePython
        converters = spark.sql.catalyst.CatalystTypeConverters
        session = self.spark._jsparkSession
        result_set = jvm.java.sql.ResultSet
        return SimpleNamespace(
            scala_map=python.PythonUtils.toScalaMap,
            JDBCOptions=jdbc.JDBCOptions,
            JdbcOptionsInWrite=jdbc.JdbcOptionsInWrite,
            dialect=spark.sql.jdbc.JdbcDialects.get,
            get_schema=utils.getSchema,
            custom_schema=utils.getCustomSchema,
            jdbc_rows=getattr(
                getattr(jdbc, "JdbcUtils$"), "MODULE$"
            ).resultSetToSparkInternalRows,
            input_metrics=spark.executor.InputMetrics,
            no_metric=jvm.scala.Option.empty(),
            resolve_table=jdbc.JDBCRDD.resolveTable,
            table_exists=utils.tableExists,
            schema_option=utils.getSchemaOption,
            create_table=utils.createTable,
            insert_statement=utils.getInsertStatement,
            save_partition=utils.savePartition,
            jdbc_writer=jdbc.JdbcRelationProvider(),
            conf=session.sessionState().conf(),
            parse_type=session.parseDataType,
            array_type=spark.sql.types.ArrayType,
            some=jvm.scala.Some,
            to_external=converters.createToScalaConverter,
            to_catalyst=converters.createToCatalystConverter,
            to_scala=converters.convertToScala,
            to_java=evaluate.toJava,
            from_java=evaluate.makeFromJava,
            register_picklers=evaluate.registerPicklers,
            pickler=getattr(python, "SerDeUtil$AutoBatchedPickler"),
            serve=python.PythonRDD.serveIterator,
            scala_iterator=jvm.scala.collection.JavaConverters.asScalaIterator,
            init_unpickler=python.SerDeUtil.initialize,
            unpickler=jvm.net.razorvine.pickle.Unpickler,
            task_context=getattr(getattr(spark, "TaskContext$"), "MODULE$"),
            forward_only=result_set.TYPE_FORWARD_ONLY,
            read_only=result_set.CONCUR_READ_ONLY,
            generated_keys=jvm.java.sql.Statement.RETURN_GENERATED_KEYS,
        )

    @contextmanager
    def _jdbc_session(self, **options: str):
        """A driver-side JDBC session (via py4j), set up as a Spark JDBC
        read task sets up its own (``JDBCRDD.compute``): the connection
        comes from the dialect's connection factory with every option
        of :meth:`_jdbc_options` (driver properties, credentials,
        ``connect(**kwargs)``), ``beforeFetch`` runs, then the
        ``sessionInitStatement``. Yields ``(java.sql.Connection,
        JDBCOptions, JdbcDialect)``; *options* must name the
        ``query`` or ``dbtable`` that JDBCOptions requires.

        autoCommit is off: the block commits once on success, rolls
        back on error, and the connection always closes. (JDBC
        connections open with autoCommit on, and pgjdbc raises on
        ``commit()`` then.)"""
        jvm = self._jdbc_jvm
        params = jvm.scala_map(self._jdbc_options(**options))
        opts = jvm.JDBCOptions(params)
        dialect = jvm.dialect(opts.url())
        conn = dialect.createConnectionFactory(opts).apply(-1)
        try:
            conn.setAutoCommit(False)
            dialect.beforeFetch(conn, params)
            init = opts.sessionInitStatement()
            if init.isDefined():
                stmt = conn.prepareStatement(init.get())
                try:
                    stmt.setQueryTimeout(opts.queryTimeout())
                    stmt.execute()
                finally:
                    stmt.close()
            yield conn, opts, dialect
            conn.commit()
        except BaseException:
            try:
                conn.rollback()
            except Exception:
                pass
            raise
        finally:
            conn.close()

    @contextmanager
    def driver_result(
        self, sql: str, fetch_size: int = FETCH_SIZE, max_rows: int = 0
    ):
        """Run *sql* as given on one :meth:`_jdbc_session` and yield
        ``(columns, rows)``, *rows* an iterator of ``pyspark.sql.Row``.

        The JDBC extract path of iter_chunks/fetchone/fetchall and of
        ``catalog.table_info``: rows are converted by the code Spark's
        JDBC read task runs (``JdbcUtils.getSchema``, then the getters
        of ``resultSetToSparkInternalRows``), so values, types and NULLs
        are those of :meth:`dataframe`, ``customSchema`` and
        ``preferTimestampNTZ`` included. Each fetch batch of
        *fetch_size* rows (the connection's ``fetchsize`` option wins)
        reaches Python through the conversion and socket ``collect()``
        uses, with no Dataset around it: no Spark job runs or is
        planned, Python holds one batch at a time, and the JVM reads
        the next one ahead. *max_rows* > 0 caps the result
        database-side (``setMaxRows``). Leaving the block closes the
        statement and the session.

        DML (see :func:`_is_dml`) is the ``INSERT ... RETURNING``
        round-trip (reference:
        docs/code_demos/utilities/return_autogenerated.py:5): a
        ``RETURNING``/``OUTPUT`` clause or an UPDATE/DELETE/MERGE runs
        via ``Statement.execute`` and yields its ResultSet, if any; a
        plain INSERT on an engine without RETURNING syntax (Derby)
        yields its generated keys. Its rows are read whole and the
        session commits before the first one is yielded."""
        if _is_dml(sql):
            with self._jdbc_session(query=sql) as session:
                columns, rows = self._dml_rows(session, sql)
            yield columns, iter(rows)
            return
        with self._jdbc_session(
            query=sql, fetchsize=str(fetch_size)
        ) as session:
            conn, opts, _dialect = session
            jvm = self._jdbc_jvm
            stmt = conn.prepareStatement(sql, jvm.forward_only, jvm.read_only)
            rows = None
            try:
                stmt.setFetchSize(opts.fetchSize())
                stmt.setQueryTimeout(opts.queryTimeout())
                stmt.setMaxRows(max_rows)
                columns, rows = self._result_rows(session, stmt.executeQuery())
                yield columns, rows
            finally:
                if rows is not None:
                    rows.close()  # waits for a batch being read ahead
                stmt.close()

    def _dml_rows(self, session, sql: str) -> tuple[list[str], list]:
        """Execute DML on *session*; ``(columns, rows)`` it returned."""
        conn = session[0]
        # search with comments AND string literals stripped: a
        # `-- returning ids` comment on a plain INSERT must not reroute
        # it off the generated-keys path, losing its ids
        bare = strip_sql_noise(sql)
        generated_keys = not re.search(
            r"\bRETURNING\b|\bOUTPUT\b", bare, re.IGNORECASE
        ) and re.match(r"\s*INSERT\b", bare, re.IGNORECASE)
        if generated_keys:
            stmt = conn.prepareStatement(sql, self._jdbc_jvm.generated_keys)
        else:
            stmt = conn.createStatement()
        try:
            if generated_keys:
                stmt.executeUpdate()
                rs = stmt.getGeneratedKeys()
            else:
                rs = stmt.getResultSet() if stmt.execute(sql) else None
            if rs is None:
                return [], []
            columns, rows = self._result_rows(session, rs)
            if generated_keys:
                # a table with no identity column yields one all-NULL
                # dummy key row on some engines: not a real result
                return columns, [r for r in rows if any(v is not None for v in r)]
            return columns, list(rows)
        finally:
            stmt.close()

    def _custom_schema(self, opts, schema):
        """*schema* with the connection's ``customSchema`` option
        applied, as JDBCRelation applies it to a read."""
        custom = opts.customSchema()
        if not custom.isDefined():
            return schema
        return self._jdbc_jvm.custom_schema(
            schema, custom.get(), self._jdbc_jvm.conf.resolver()
        )

    def _result_rows(self, session, rs):
        """``(columns, rows)`` of a java.sql.ResultSet read on
        *session*, converted as Spark's JDBC read converts it (see
        :meth:`driver_result`).

        Each fetch batch of Spark's JDBC rows goes to Python through
        what ``Dataset.collectToPython`` runs on a collected result:
        the schema's Catalyst converter, ``EvaluatePython.toJava``, the
        batched pickler and a local socket, read as
        ``DataFrame.collect`` reads it. No Dataset is built or planned.
        Python holds one fetch batch; while it reads that batch, the
        JVM fetches and converts the next one, driven from one shared
        read-ahead thread."""
        conn, opts, dialect = session
        jvm = self._jdbc_jvm
        # nullable and NTZ as JDBCRDD.resolveTable reads a schema
        schema = self._custom_schema(opts, jvm.get_schema(
            conn, rs, dialect, True, opts.preferTimestampNTZ()
        ))
        # Spark's JDBC getters, as a JDBC read task runs them; they fill
        # one reused row, so each row is copied out as an external Row
        rows = jvm.jdbc_rows(
            rs, dialect, schema, jvm.input_metrics(), jvm.no_metric
        ).map(jvm.to_external(schema))
        batches = rows.grouped(opts.fetchSize() or FETCH_SIZE)
        # one batch is one array of rows: a single call converts it
        batch_type = jvm.array_type(schema, True)
        to_catalyst = jvm.to_catalyst(batch_type)
        binary_as_bytes = jvm.conf.pysparkBinaryAsBytes()
        jvm.register_picklers()
        serializer = BatchedSerializer(CPickleSerializer())

        def serve_next():
            if not batches.hasNext():
                return None
            java_rows = jvm.to_java(
                to_catalyst.apply(batches.next()), batch_type, binary_as_bytes
            )
            pickled = jvm.pickler(jvm.scala_iterator(java_rows.iterator()))
            return _create_local_socket(jvm.serve(pickled, "serve-DataFrame"))

        def rows():
            pending = None
            try:
                served = serve_next()
                while served is not None:
                    pending = _READ_AHEAD.submit(serve_next)
                    yield from list(serializer.load_stream(served))
                    served, pending = pending.result(), None
            finally:
                # a batch served ahead and never read: let its writer
                # finish before the statement closes
                if pending is not None and pending.exception() is None:
                    if pending.result() is not None:
                        pending.result().read()

        names = [f["name"] for f in json.loads(schema.json())["fields"]]
        return names, rows()

    def target_schema(self, table: str):
        """The schema a write into the existing *table* is validated
        against: the table's Spark schema, with the columns the
        database declares NOT NULL marked non-nullable on jdbc (Spark
        reads every JDBC column as nullable). Read on one
        :meth:`_jdbc_session` from ``DatabaseMetaData.getColumns``: no
        Spark job. Raises when *table* does not exist."""
        if self.kind != "jdbc":
            return self.table_dataframe(table).schema
        from pyspark.sql.types import (
            StructField,
            StructType,
            _parse_datatype_json_string,
        )

        for part in table.split("."):
            validate_identifier(part)
        with self._jdbc_session(dbtable=table) as (conn, opts, _dialect):
            schema = self._custom_schema(
                opts, self._jdbc_jvm.resolve_table(opts, conn)
            )
            not_null = self._not_null_columns(conn, table)
        return StructType([
            StructField(f.name, f.dataType, f.nullable and f.name not in not_null, f.metadata)
            for f in _parse_datatype_json_string(schema.json()).fields
        ])

    @staticmethod
    def _not_null_columns(conn, table: str) -> set[str]:
        """Columns of *table* whose ``IS_NULLABLE`` is ``NO``. An
        unquoted name is stored upper- or lower-cased by the database,
        so each spelling is tried; the schema defaults to the
        session's."""
        schema, _, name = table.rpartition(".")
        schema = schema or conn.getSchema()
        md = conn.getMetaData()
        for case in (str, str.upper, str.lower):
            found, not_null = False, set()
            rs = md.getColumns(None, schema and case(schema), case(name), None)
            try:
                while rs.next():
                    # the name is a LIKE pattern: '_' matches any char
                    if rs.getString("TABLE_NAME") != case(name):
                        continue
                    found = True
                    if rs.getString("IS_NULLABLE") == "NO":
                        not_null.add(rs.getString("COLUMN_NAME"))
            finally:
                rs.close()
            if found:
                return not_null
        return set()

    def jdbc_executemany(self, sql: str, chunk: list) -> None:
        """Driver-side batched statement execution for arbitrary SQL
        (UPDATE/DELETE/upsert with ``?`` placeholders) via a direct
        java.sql PreparedStatement — the pass-through path for the
        reference's 'any statement' executemany contract
        (reference: etl.py:233-339) when the statement is not an
        INSERT :meth:`driver_write` can handle. It runs on
        :meth:`_jdbc_session`, so the ``sessionInitStatement`` applies
        (``savePartition`` opens its own connection without it). The
        chunk commits as one transaction.

        Driver-side by design: executors run Python and cannot reach
        JVM JDBC; for bulk custom-SQL writes use
        operators.jdbc_sink.stage_and_merge (distributed staging + one
        set-based statement) instead — this method is for modest
        row-count control statements.
        """
        with self._jdbc_session(query=sql) as (conn, _opts, _dialect):
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
        """Run a DML statement driver-side and return
        ``(columns, row tuples)`` it produced: the rows of a
        ``RETURNING``/``OUTPUT`` clause, or a plain INSERT's generated
        keys. The DML branch of :meth:`driver_result`, read whole: its
        rows are typed as a SELECT's rows are."""
        with self.driver_result(sql) as (columns, rows):
            return columns, [tuple(r) for r in rows]


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
