"""Driver-side JDBC statements (execute, executemany pass-through,
RETURNING) run on one java.sql session with autoCommit off: commit on
success, rollback on error, always close. Pinned with a stub py4j
gateway whose connection behaves like pgjdbc: it opens with autoCommit
on and raises on ``commit()`` while autoCommit is on."""

from types import SimpleNamespace

import pytest

from etlhelper_spark.connect import SparkConnection
from etlhelper_spark.db_params import DbParams


class _Statement:
    def __init__(self, log, fail):
        self.log, self.fail = log, fail

    def execute(self, sql):
        self.log.append("execute")
        if self.fail:
            raise RuntimeError("statement failed")
        return False

    def getResultSet(self):
        return None

    def setObject(self, i, value):
        pass

    def addBatch(self):
        pass

    def executeBatch(self):
        self.log.append("executeBatch")
        if self.fail:
            raise RuntimeError("batch failed")

    def close(self):
        pass


class _PgLikeConnection:
    def __init__(self, log, fail):
        self.log, self.fail = log, fail
        self.auto_commit = True

    def setAutoCommit(self, on):
        self.auto_commit = on

    def createStatement(self):
        return _Statement(self.log, self.fail)

    def prepareStatement(self, sql, *flags):
        return _Statement(self.log, self.fail)

    def commit(self):
        if self.auto_commit:
            raise RuntimeError("Cannot commit when autoCommit is enabled.")
        self.log.append("commit")

    def rollback(self):
        self.log.append("rollback")

    def close(self):
        self.log.append("close")


def _conn(monkeypatch, fail=False):
    monkeypatch.setenv("STUB_PG_PASSWORD", "x")
    log = []
    manager = SimpleNamespace(
        getConnection=lambda *args: _PgLikeConnection(log, fail)
    )
    spark = SimpleNamespace(
        _jvm=SimpleNamespace(java=SimpleNamespace(sql=SimpleNamespace(
            DriverManager=manager,
            Statement=SimpleNamespace(RETURN_GENERATED_KEYS=1),
        )))
    )
    params = DbParams(
        dbtype="PG", host="localhost", port=5432, dbname="etl", user="u"
    )
    conn = SparkConnection(
        spark, "jdbc", db_params=params, password_variable="STUB_PG_PASSWORD"
    )
    return conn, log


def test_statements_commit_once_with_autocommit_off(monkeypatch):
    conn, log = _conn(monkeypatch)
    conn.execute_statement("CREATE TABLE t (a INT)")
    assert log == ["execute", "commit", "close"]
    log.clear()
    conn.jdbc_executemany("UPDATE t SET a = ?", [(1,), (2,)])
    assert log == ["executeBatch", "commit", "close"]
    log.clear()
    assert conn.execute_returning("UPDATE t SET a = 1 RETURNING a") == ([], [])
    assert log == ["execute", "commit", "close"]


def test_failed_statement_rolls_back_and_closes(monkeypatch):
    from etlhelper_spark.exceptions import ETLHelperQueryError

    conn, log = _conn(monkeypatch, fail=True)
    with pytest.raises(ETLHelperQueryError):
        conn.execute_statement("DROP TABLE t")
    assert log == ["execute", "rollback", "close"]
    log.clear()
    with pytest.raises(RuntimeError, match="batch failed"):
        conn.jdbc_executemany("UPDATE t SET a = ?", [(1,)])
    assert log == ["executeBatch", "rollback", "close"]
