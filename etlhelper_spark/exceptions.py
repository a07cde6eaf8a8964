"""Typed exception taxonomy for etlhelper_spark.

Mirrors the reference hierarchy (reference: etlhelper/exceptions.py:7-43)
so that callers of the reference library can switch without changing
their ``except`` clauses. Spark-side errors (AnalysisException,
Py4JJavaError) are wrapped into these types at the operator boundary.
"""

from __future__ import annotations


class ETLHelperError(Exception):
    """Base class for all errors raised by etlhelper_spark."""


class ETLHelperConnectionError(ETLHelperError):
    """Raised when a connection (JDBC/session) cannot be established."""


class ETLHelperQueryError(ETLHelperError):
    """Raised when a DDL/DML statement fails (reference: etl.py:447-453)."""


class ETLHelperDbParamsError(ETLHelperError):
    """Raised on invalid DbParams (reference: db_params.py:54-83)."""


class ETLHelperExtractError(ETLHelperError):
    """Raised when a SELECT/read fails (reference: etl.py:96-102)."""


class ETLHelperInsertError(ETLHelperError):
    """Raised when a batch insert fails without on_error
    (reference: etl.py:321-324)."""


class ETLHelperAbortError(ETLHelperError):
    """Raised when an ETL run is aborted (reference: abort.py:24-28)."""


class ETLHelperHelperError(ETLHelperError):
    """Raised when no dialect matches a dbtype/connection
    (reference: db_helper_factory.py)."""


class ETLHelperAtomicSwapError(ETLHelperError):
    """Raised when a table swap (operators.maintenance.replace_table)
    targets a filesystem without an atomic directory rename: an object
    store moves a directory by copy-then-delete."""


class ETLHelperBadIdentifierError(ETLHelperError):
    """Raised for invalid SQL identifiers (reference: etl.py:642-664)."""
