"""Driver-side JDBC statements (execute, executemany pass-through,
RETURNING) run on one java.sql session with autoCommit off: commit on
success, rollback on error, always close. The session is opened by
Spark's JDBC connection factory with every connection option, and runs
the ``sessionInitStatement`` before the caller's statement. Pinned with
a stub py4j gateway whose connection behaves like pgjdbc: it opens with
autoCommit on and raises on ``commit()`` while autoCommit is on."""

from types import SimpleNamespace

import pytest

from etlhelper_spark.connect import SparkConnection
from etlhelper_spark.db_params import DbParams


class _Statement:
    def __init__(self, log, fail, sql=None):
        self.log, self.fail, self.sql = log, fail, sql

    def execute(self, sql=None):
        # a prepared statement (the session's init statement) logs its text
        self.log.append("execute" if sql else f"execute {self.sql}")
        if self.fail and sql:
            raise RuntimeError("statement failed")
        return False

    def setQueryTimeout(self, seconds):
        pass

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
        return _Statement(self.log, self.fail, sql)

    def commit(self):
        if self.auto_commit:
            raise RuntimeError("Cannot commit when autoCommit is enabled.")
        self.log.append("commit")

    def rollback(self):
        self.log.append("rollback")

    def close(self):
        self.log.append("close")


class _Unused:
    """JVM entry points the stubbed statements never call."""

    def __getattr__(self, name):
        return _Unused()

    def __call__(self, *args):
        return _Unused()


class _Stub(SimpleNamespace):
    """A stub namespace: the members not given are :class:`_Unused`."""

    def __getattr__(self, name):
        return _Unused()


class _Option:
    def __init__(self, value):
        self.value = value

    def isDefined(self):
        return self.value is not None

    def get(self):
        return self.value


class _JDBCOptions:
    """Spark's JDBCOptions over the option map, as far as the session
    reads it."""

    def __init__(self, params):
        self.params = params

    def url(self):
        return self.params["url"]

    def sessionInitStatement(self):
        return _Option(self.params.get("sessionInitStatement"))

    def queryTimeout(self):
        return 0


def _conn(monkeypatch, fail=False, **kwargs):
    """A jdbc SparkConnection over the stub gateway, and the log its
    statements write. ``opened`` in the returned namespace holds the
    option map each session was opened with."""
    monkeypatch.setenv("STUB_PG_PASSWORD", "x")
    log = []
    opened = []

    def factory(opts):
        def apply(_partition):
            opened.append(opts.params)
            return _PgLikeConnection(log, fail)
        return SimpleNamespace(apply=apply)

    dialect = SimpleNamespace(
        createConnectionFactory=factory,
        beforeFetch=lambda conn, params: None,
    )
    jvm = _Stub(
        java=_Stub(sql=_Stub(
            Statement=_Stub(RETURN_GENERATED_KEYS=1),
        )),
        org=_Stub(apache=_Stub(spark=_Stub(
            api=_Stub(python=_Stub(
                PythonUtils=_Stub(toScalaMap=dict),
            )),
            sql=_Stub(
                jdbc=_Stub(
                    JdbcDialects=_Stub(get=lambda url: dialect),
                ),
                execution=_Stub(datasources=_Stub(
                    jdbc=_Stub(
                        JDBCOptions=_JDBCOptions,
                    ),
                )),
            ),
        ))),
    )
    params = DbParams(
        dbtype="PG", host="localhost", port=5432, dbname="etl", user="u"
    )
    conn = SparkConnection(
        _Stub(_jvm=jvm), "jdbc", db_params=params,
        jdbc_options=kwargs, password_variable="STUB_PG_PASSWORD",
    )
    conn.opened = opened
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


def test_session_gets_every_option_and_runs_init_first(monkeypatch):
    """The driver-side session sees what Spark's reads and writes of the
    connection see: the dialect's driver properties, the credentials
    and every ``connect(**kwargs)`` option; the init statement runs
    before the caller's statement."""
    conn, log = _conn(
        monkeypatch, ApplicationName="etl",
        sessionInitStatement="SET search_path TO etl",
    )
    conn.execute_statement("CREATE TABLE t (a INT)")
    assert log == [
        "execute SET search_path TO etl", "execute", "commit", "close"
    ]
    (options,) = conn.opened
    assert options["url"] == "jdbc:postgresql://localhost:5432/etl"
    assert options["query"] == "CREATE TABLE t (a INT)"
    assert options["reWriteBatchedInserts"] == "true"  # the pg dialect's
    assert options["ApplicationName"] == "etl"
    assert (options["user"], options["password"]) == ("u", "x")
