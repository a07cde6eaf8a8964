"""Schema introspection (reference: etlhelper/utils.py:14-40)."""

from __future__ import annotations

from collections import namedtuple

from .connect import SparkConnection
from .exceptions import ETLHelperQueryError
from .validation import validate_identifier

Column = namedtuple("Column", ["name", "type", "not_null", "has_default"])


def table_info(
    table: str, conn: SparkConnection, schema: str | None = None
) -> list[Column]:
    """Return Column(name, type, not_null, has_default) for *table*.

    jdbc backend: runs the dialect's catalog query (the same four
    catalog queries the reference uses — pg_catalog, all_tab_columns,
    INFORMATION_SCHEMA, pragma_table_info) on one driver-side JDBC
    session (``SparkConnection.driver_result``: no Spark job, one
    fetch batch resident). files backend: derives from
    the parquet/csv schema (has_default is always False — file tables
    have no defaults). Raises if the table does not exist
    (reference: utils.py:29-32) or is ambiguous across schemas
    (reference: utils.py:35-38).
    """
    validate_identifier(table)
    if schema:
        validate_identifier(schema)

    if conn.kind == "jdbc":
        assert conn.db_params is not None
        query = conn.db_params.dialect.table_info_query.format(
            table=table, schema=schema or ".*"
        )
        with conn.driver_result(query) as (_names, rows):
            columns = [
                Column(r[0], r[1], bool(r[2]), bool(r[3])) for r in rows
            ]
        if not columns:
            schema_table = f"{schema}.{table}" if schema else table
            raise ETLHelperQueryError(f"Table name {schema_table} not found.")
        return columns

    try:
        df = conn.table_dataframe(table)
    except Exception as exc:
        raise ETLHelperQueryError(f"Table name {table} not found.") from exc
    return [
        Column(f.name, f.dataType.simpleString(), not f.nullable, False)
        for f in df.schema.fields
    ]
