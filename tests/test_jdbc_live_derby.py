"""LIVE JDBC integration tests against embedded Apache Derby.

Every other dialect's JDBC coverage is golden-string only (no server
in the container); Derby ships inside the Spark distribution, so these
tests drive the REAL paths end-to-end: Spark JDBC reader (query +
dbtable), batch writer, DriverManager DDL pass-through, catalog
table_info, parameter binding, and a cross-backend copy.

Identifier note: Spark's JDBC writer quotes column names, so tables it
creates have case-sensitive lowercase columns — queries here quote
them the same way. Reference parity: SURVEY §2.1/§2.2/§2.5 operators
on a real database rather than the files backend.
"""

from __future__ import annotations

import datetime
import glob
import os
import shutil
import tempfile

import pytest

from etlhelper_spark import connect, connect_files
from etlhelper_spark.db_params import DbParams
from etlhelper_spark.exceptions import ETLHelperExtractError
from etlhelper_spark.operators import (
    copy_rows,
    copy_table_rows,
    execute,
    executemany,
    fetchall,
    fetchone,
    iter_rows,
    load,
)

pytestmark = pytest.mark.skipif(
    not glob.glob("/opt/spark/jars/derby-*.jar"),
    reason="Derby jars not on the Spark classpath",
)


@pytest.fixture(scope="module")
def derby_conn(spark):
    d = tempfile.mkdtemp(prefix="ehs_derby_")
    db_params = DbParams(dbtype="derby", filename=os.path.join(d, "db"))
    conn = connect(db_params, spark=spark)
    yield conn
    shutil.rmtree(d, ignore_errors=True)


def test_load_and_fetch_roundtrip(derby_conn):
    rows = [{"id": i, "name": f"n{i}"} for i in range(10)]
    processed, failed = load("people", derby_conn, rows)
    assert (processed, failed) == (10, 0)
    got = fetchall(
        'SELECT "id", "name" FROM people WHERE "id" >= ? ORDER BY "id"',
        derby_conn,
        parameters=(7,),
    )
    assert got == [
        {"id": 7, "name": "n7"},
        {"id": 8, "name": "n8"},
        {"id": 9, "name": "n9"},
    ]
    assert fetchone('SELECT count(*) AS "n" FROM people', derby_conn)["n"] == 10


def test_executemany_against_live_table(derby_conn):
    load("em_tbl", derby_conn, [{"id": 0, "name": "seed"}])
    processed, failed = executemany(
        "INSERT INTO em_tbl (id, name) VALUES (?, ?)",
        derby_conn,
        [(1, "a"), (2, "b"), (3, "c")],
    )
    assert (processed, failed) == (3, 0)
    assert (
        fetchone('SELECT count(*) AS "n" FROM em_tbl', derby_conn)["n"] == 4
    )


def test_execute_ddl_and_error_wrapping(derby_conn):
    # DriverManager pass-through: Spark's JDBC source has no DDL API
    execute(
        'CREATE TABLE ddl_made ("x" INT NOT NULL, "y" VARCHAR(5))',
        derby_conn,
    )
    load("ddl_made", derby_conn, [{"x": 1, "y": "ok"}])
    assert fetchall('SELECT "x", "y" FROM ddl_made', derby_conn) == [
        {"x": 1, "y": "ok"}
    ]
    with pytest.raises(ETLHelperExtractError):
        fetchall("SELECT nope FROM does_not_exist", derby_conn)


def test_table_info_live_catalog(derby_conn):
    from etlhelper_spark.catalog import table_info

    execute(
        'CREATE TABLE cat_tbl ("a" INT NOT NULL, "b" VARCHAR(9))',
        derby_conn,
    )
    cols = table_info("cat_tbl", derby_conn)
    by_name = {c.name: c for c in cols}
    assert set(by_name) == {"a", "b"}
    assert str(by_name["a"].not_null) in ("1", "True", "true")


def test_iter_rows_streams_chunks(derby_conn):
    load("stream_tbl", derby_conn, [{"id": i} for i in range(100)])
    seen = [
        r["id"]
        for r in iter_rows(
            'SELECT "id" FROM stream_tbl', derby_conn, chunk_size=17
        )
    ]
    assert sorted(seen) == list(range(100))


def test_copy_table_rows_jdbc_to_files(spark, derby_conn):
    load("copy_src", derby_conn, [{"id": i, "v": i * 1.5} for i in range(20)])
    dest_dir = tempfile.mkdtemp(prefix="ehs_derby_copy_")
    try:
        dest = connect_files(dest_dir, spark=spark)
        copy_table_rows("copy_src", derby_conn, dest)
        out = dest.table_dataframe("copy_src")
        assert out.count() == 20
        assert {r["id"] for r in out.collect()} == set(range(20))
    finally:
        shutil.rmtree(dest_dir, ignore_errors=True)


def test_parallel_partitioned_scan(spark, derby_conn):
    load("par_tbl", derby_conn, [{"id": i, "v": i % 7} for i in range(200)])
    df = derby_conn.table_dataframe(
        "par_tbl",
        partition_column='"id"',
        lower_bound=0,
        upper_bound=200,
        num_partitions=4,
    )
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 200


def test_insert_returning_autogenerated_id(derby_conn):
    """The reference's return-autogenerated-ID round-trip
    (docs/code_demos/utilities/return_autogenerated.py:5): fetchone on
    an INSERT surfaces the key the database generated. Derby has no
    RETURNING syntax, so the shim requests generated keys instead —
    same operator surface, dialect-appropriate JDBC shape."""
    execute(
        "CREATE TABLE autoid_tbl ("
        "  id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,"
        "  name VARCHAR(32)"
        ")",
        derby_conn,
    )
    first = fetchone(
        "INSERT INTO autoid_tbl (name) VALUES (?)",
        derby_conn,
        parameters=("alice",),
    )
    second = fetchone(
        "INSERT INTO autoid_tbl (name) VALUES ('bob')", derby_conn
    )
    (gen1,) = first.values()
    (gen2,) = second.values()
    assert int(gen1) == 1 and int(gen2) == 2
    assert fetchall(
        'SELECT "ID", "NAME" FROM autoid_tbl ORDER BY "ID"', derby_conn
    ) == [{"ID": 1, "NAME": "alice"}, {"ID": 2, "NAME": "bob"}]


def test_update_returning_shape_runs_rowcountless(derby_conn):
    """UPDATE routed through the DML shim returns no rows on engines
    without RETURNING — but must execute (visible via a follow-up
    SELECT), not raise."""
    execute("CREATE TABLE upd_tbl (k INT, v VARCHAR(8))", derby_conn)
    execute("INSERT INTO upd_tbl VALUES (1, 'a')", derby_conn)
    assert fetchone("UPDATE upd_tbl SET v = 'z' WHERE k = 1", derby_conn) is None
    assert fetchall("SELECT v FROM upd_tbl", derby_conn) == [{"V": "z"}]


def test_insert_with_output_in_literal_still_returns_key(derby_conn):
    """A VALUES literal containing the word 'output'/'returning' must
    not reroute the plain INSERT off the generated-keys path."""
    execute(
        "CREATE TABLE lit_tbl ("
        "  id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,"
        "  note VARCHAR(64)"
        ")",
        derby_conn,
    )
    row = fetchone(
        "INSERT INTO lit_tbl (note) VALUES ('output returning pending')",
        derby_conn,
    )
    (gen,) = row.values()
    assert int(gen) == 1


def test_streaming_exactly_once_into_derby(spark, derby_conn, tmp_path):
    """End-to-end: Structured Streaming drains the events table into a
    LIVE Derby database through the batch-ledger exactly-once sink.
    A second drain on the same checkpoint must add nothing, and a
    manual replay of an already-committed batch must be a no-op."""
    from etlhelper_spark.streaming.exactly_once import (
        exactly_once_jdbc_sink,
        idempotent_jdbc_batch_writer,
    )
    from etlhelper_spark.streaming.windows import read_events_stream

    execute("CREATE TABLE eo_ledger (batch_id BIGINT PRIMARY KEY)", derby_conn)
    sf = "/root/testdata/sf0.001"
    n_src = spark.read.parquet(f"{sf}/events.parquet").count()

    src_dir = str(tmp_path / "src")

    def drain(ckpt):
        stream = read_events_stream(spark, sf, stream_dir=src_dir).select(
            "event_id", "user_id", "event_type"
        )
        exactly_once_jdbc_sink(
            stream, derby_conn, "eo_events", ckpt, ledger_table="eo_ledger"
        )

    ckpt = str(tmp_path / "ckpt")
    drain(ckpt)
    count_sql = 'SELECT count(*) AS "n" FROM eo_events'
    assert fetchone(count_sql, derby_conn)["n"] == n_src
    # restart on the SAME checkpoint: nothing new to read, no new rows
    drain(ckpt)
    assert fetchone(count_sql, derby_conn)["n"] == n_src
    # crash-replay simulation: re-deliver an already-committed batch
    writer = idempotent_jdbc_batch_writer(
        derby_conn, "eo_events", "eo_ledger"
    )
    batch = spark.read.parquet(f"{sf}/events.parquet").select(
        "event_id", "user_id", "event_type"
    )
    writer(batch, 0)  # batch 0 is in the ledger -> must be a no-op
    assert fetchone(count_sql, derby_conn)["n"] == n_src


# ----------------------------------------------------------------------
# one pass per write: counts and on_error rejects ride the write
# ----------------------------------------------------------------------
NATION_QTY = (
    "SELECT n_nationkey AS id, n_name AS name, "
    "CASE WHEN n_nationkey % 5 = 0 THEN 'n/a' "
    "ELSE CAST(n_regionkey AS STRING) END AS qty FROM nation"
)


def _typed_table(derby_conn, table, key="NOT NULL"):
    execute(
        f'CREATE TABLE {table} ("id" BIGINT {key}, '
        '"name" VARCHAR(32), "qty" INT)',
        derby_conn,
    )


def test_copy_table_rows_into_derby_runs_one_job(src_conn, derby_conn, call_jobs):
    assert copy_table_rows(
        "nation", src_conn, derby_conn, target="nation_one_job"
    ) == (25, 0)
    assert call_jobs() == 1  # the write; its row count rides it
    assert fetchone(
        'SELECT count(*) AS "n" FROM nation_one_job', derby_conn
    ) == {"n": 25}


def test_fetchone_runs_one_job(derby_conn, call_jobs):
    """(The name predates the driver-side extract path.) A JDBC
    fetchone reads on a driver-side session: no Spark job at all."""
    load("fetch_one_tbl", derby_conn, [{"id": i} for i in range(50)])
    row = fetchone(
        'SELECT "id" FROM fetch_one_tbl WHERE "id" = ?', derby_conn,
        parameters=(7,),
    )
    assert row == {"id": 7}
    assert call_jobs() == 0


def test_copy_rows_on_error_gets_exactly_the_cast_rejects(
    src_conn, derby_conn, call_jobs
):
    _typed_table(derby_conn, "nation_checked")
    rejects = []

    def upper(chunk):
        return [{**r, "name": r["name"].upper()} for r in chunk]

    result = copy_rows(
        NATION_QTY, src_conn,
        "INSERT INTO nation_checked (id, name, qty) VALUES (?, ?, ?)",
        derby_conn, transform=upper, on_error=rejects.extend,
    )
    bad = {k for k in range(25) if k % 5 == 0}
    assert result == (25, len(bad))
    assert {f.row["id"]: str(f.exception) for f in rejects} == {
        k: "cannot cast qty to int" for k in bad
    }
    assert call_jobs() == 2  # transform schema sample, write
    landed = fetchall('SELECT "id" FROM nation_checked', derby_conn)
    assert {r["id"] for r in landed} == set(range(25)) - bad


@pytest.mark.parametrize(
    "suffix", [" WHERE 1=0", " LIMIT 0"], ids=["where_false", "limit_0"]
)
def test_empty_query_copies_zero_rows(src_conn, derby_conn, suffix):
    table = "empty_" + suffix.split()[0].lower()
    _typed_table(derby_conn, table)
    calls = []
    assert copy_rows(
        NATION_QTY + suffix, src_conn,
        f"INSERT INTO {table} (id, name, qty) VALUES (?, ?, ?)",
        derby_conn, on_error=calls.append,
    ) == (0, 0)
    assert calls == []


def test_empty_frame_loads_zero_rows(spark, derby_conn):
    _typed_table(derby_conn, "empty_frame")
    calls = []
    empty = spark.createDataFrame([], "id long, name string, qty string")
    assert load("empty_frame", derby_conn, empty, on_error=calls.append) == (0, 0)
    assert calls == []


def test_rejected_write_raises_and_skips_on_error(src_conn, derby_conn):
    from etlhelper_spark.exceptions import ETLHelperInsertError

    _typed_table(derby_conn, "nation_pk", key="PRIMARY KEY")
    execute(
        "INSERT INTO nation_pk VALUES (3, 'TAKEN', 0)", derby_conn
    )
    calls = []
    with pytest.raises(ETLHelperInsertError):
        copy_rows(
            NATION_QTY, src_conn,
            "INSERT INTO nation_pk (id, name, qty) VALUES (?, ?, ?)",
            derby_conn, on_error=calls.append,
        )
    # key 3 collides inside the database; the cast rejects are never
    # reported for a write that did not commit
    assert calls == []


def test_stage_and_merge_counts_from_its_staging_write(spark, derby_conn):
    from etlhelper_spark.operators import stage_and_merge

    execute('CREATE TABLE merged ("id" BIGINT, "v" BIGINT)', derby_conn)
    tracker = spark._jsc.sc().statusStore()
    before = tracker.jobsList(None).size()
    n = stage_and_merge(
        spark.range(40).selectExpr("id", "id * 2 AS v"), derby_conn,
        "INSERT INTO merged SELECT * FROM {staging}",
    )
    assert n == 40
    assert tracker.jobsList(None).size() - before == 1  # the staging write
    assert fetchone('SELECT count(*) AS "n" FROM merged', derby_conn) == {"n": 40}


# ----------------------------------------------------------------------
# driver-side extracts: one JDBC session, Spark's own row conversion
# ----------------------------------------------------------------------
TYPED_COLUMNS = (
    '"b" BIGINT, "v" VARCHAR(20), "d" DOUBLE, "p" DECIMAL(10,2), '
    '"ts" TIMESTAMP, "dt" DATE, "bo" BOOLEAN, "c" CLOB, "s" SMALLINT, '
    '"r" REAL, "ch" CHAR(5), "tm" TIME, "vb" VARCHAR(8) FOR BIT DATA'
)


@pytest.fixture(scope="module")
def typed_table(derby_conn):
    execute(f"CREATE TABLE typed_tbl ({TYPED_COLUMNS})", derby_conn)
    execute(
        "INSERT INTO typed_tbl VALUES (9007199254740993, 'x', 1.5, 1.25, "
        "TIMESTAMP('2024-01-02 03:04:05.123456'), DATE('2024-01-02'), TRUE, "
        "'clob', 3, 2.5, 'ab', TIME('03:04:05'), X'0102')",
        derby_conn,
    )
    execute(
        "INSERT INTO typed_tbl VALUES (NULL, NULL, NULL, NULL, NULL, NULL, "
        "NULL, NULL, NULL, NULL, NULL, NULL, NULL)",
        derby_conn,
    )
    execute(
        "INSERT INTO typed_tbl VALUES (-1, '', -0.0, -99.99, "
        "TIMESTAMP('1969-12-31 23:59:59'), DATE('1900-03-01'), FALSE, "
        "'', -32768, -1.0E-3, '', TIME('00:00:00'), X'')",
        derby_conn,
    )
    return "SELECT * FROM typed_tbl"


@pytest.mark.parametrize(
    "options", [{}, {"customSchema": "b STRING, p DOUBLE, s LONG"}],
    ids=["spark_types", "custom_schema"],
)
def test_driver_rows_equal_spark_jdbc_rows(spark, derby_conn, typed_table, options):
    from etlhelper_spark.row_factories import tuple_row_factory

    conn = connect(derby_conn.db_params, spark=spark, **options)
    spark_df = conn.dataframe(typed_table)
    with conn.driver_result(typed_table) as (columns, rows):
        got = [tuple(r) for r in rows]
    assert columns == spark_df.columns
    assert got == [tuple(r) for r in spark_df.collect()]
    assert fetchall(typed_table, conn, row_factory=tuple_row_factory) == got
    if options:
        assert {type(v) for v in got[0][:4]} == {str, float}


def test_returning_rows_are_typed_like_select_rows(derby_conn):
    from datetime import datetime
    from decimal import Decimal

    execute(
        "CREATE TABLE ret_typed (id INT GENERATED ALWAYS AS IDENTITY, "
        "name VARCHAR(8), p DECIMAL(10,2), ts TIMESTAMP)",
        derby_conn,
    )
    (key,) = fetchone(
        "INSERT INTO ret_typed (name, p, ts) VALUES "
        "('a', 1.25, TIMESTAMP('2024-01-02 03:04:05'))",
        derby_conn,
    ).values()
    assert key == 1 and not isinstance(key, str)
    expected = (Decimal("1.25"), datetime(2024, 1, 2, 3, 4, 5))
    assert derby_conn.execute_returning("SELECT p, ts FROM ret_typed") == (
        ["P", "TS"], [expected]
    )
    assert tuple(fetchone("SELECT p, ts FROM ret_typed", derby_conn).values()) == expected


def test_driver_extracts_run_no_spark_job(spark, derby_conn, call_jobs):
    from etlhelper_spark.catalog import table_info
    from etlhelper_spark.operators import iter_chunks

    load("zero_job_tbl", derby_conn, [{"id": i} for i in range(30)])
    execute(
        "CREATE TABLE zero_job_ids (id INT GENERATED ALWAYS AS IDENTITY, "
        "name VARCHAR(8))",
        derby_conn,
    )
    sql = 'SELECT "id" FROM zero_job_tbl'
    assert fetchone(sql + ' WHERE "id" = 3', derby_conn) == {"id": 3}
    assert call_jobs() == 0
    assert len(fetchall(sql, derby_conn)) == 30
    assert call_jobs() == 0
    assert sum(map(len, iter_chunks(sql, derby_conn, chunk_size=7))) == 30
    assert call_jobs() == 0
    assert fetchone(
        "INSERT INTO zero_job_ids (name) VALUES ('a')", derby_conn
    ) is not None
    assert call_jobs() == 0
    # table_info starts no job group of its own: count every job
    jobs = spark._jsc.sc().statusStore()
    before = jobs.jobsList(None).size()
    assert [c.name for c in table_info("zero_job_tbl", derby_conn)] == ["id"]
    assert jobs.jobsList(None).size() == before


def test_closing_iter_chunks_early_closes_statement_and_session(
    derby_conn, monkeypatch
):
    from etlhelper_spark.operators import iter_chunks

    load("early_close_tbl", derby_conn, [{"id": i} for i in range(40)])
    opened = {}
    result_rows = derby_conn._result_rows

    def spy(session, rs):
        opened["session"], opened["statement"] = session[0], rs.getStatement()
        return result_rows(session, rs)

    monkeypatch.setattr(derby_conn, "_result_rows", spy)
    gen = iter_chunks('SELECT "id" FROM early_close_tbl', derby_conn, chunk_size=10)
    assert len(next(gen)) == 10
    assert not opened["statement"].isClosed()
    assert not opened["session"].isClosed()
    gen.close()
    assert opened["statement"].isClosed()
    assert opened["session"].isClosed()


def test_error_mid_query_raises_extract_error(spark, derby_conn):
    from etlhelper_spark.operators import iter_chunks

    load("midq_tbl", derby_conn, [{"id": i} for i in range(100)])
    # fetch batches of 10 rows: row 50 divides by zero in a later batch
    conn = connect(derby_conn.db_params, spark=spark, fetchsize="10")
    gen = iter_chunks(
        'SELECT 100 / ("id" - 50) AS "q" FROM midq_tbl', conn, chunk_size=10
    )
    assert len(next(gen)) == 10
    with pytest.raises(ETLHelperExtractError, match="divide by zero"):
        list(gen)


def test_abort_between_chunks(derby_conn):
    from etlhelper_spark import abort_etlhelper_threads
    from etlhelper_spark.exceptions import ETLHelperAbortError
    from etlhelper_spark.operators import iter_chunks

    load("abort_tbl", derby_conn, [{"id": i} for i in range(30)])
    gen = iter_chunks('SELECT "id" FROM abort_tbl', derby_conn, chunk_size=10)
    assert len(next(gen)) == 10
    abort_etlhelper_threads()
    with pytest.raises(ETLHelperAbortError):
        next(gen)
    # the next ETL call clears the event
    assert len(fetchall('SELECT "id" FROM abort_tbl', derby_conn)) == 30


def test_on_error_sees_jdbc_not_null_columns(spark, derby_conn, call_jobs):
    """A NULL into a NOT NULL column of a Derby target reaches on_error
    and the other rows commit (the whole write failed when every JDBC
    column read as nullable)."""
    execute(
        'CREATE TABLE nn_target ("id" BIGINT NOT NULL, "name" VARCHAR(16))',
        derby_conn,
    )
    rows = spark.createDataFrame(
        [(1, "a"), (None, "b"), (3, "c")], "id long, name string"
    )
    rejects = []
    assert load("nn_target", derby_conn, rows, on_error=rejects.extend) == (3, 1)
    assert call_jobs() == 1  # the write
    assert [(f.row, str(f.exception)) for f in rejects] == [
        ({"id": None, "name": "b"}, "id violates NOT NULL")
    ]
    assert fetchall('SELECT "id" FROM nn_target ORDER BY "id"', derby_conn) == [
        {"id": 1}, {"id": 3}
    ]


# ----------------------------------------------------------------------
# driver-side iterable loads: Spark's JDBC setters, one transaction
# ----------------------------------------------------------------------
def test_on_error_retry_keeps_primary_key_rows_once(derby_conn):
    """A chunk whose write fails on one key: on_error gets that row
    alone, and no committed row is written twice (a multi-task retry
    committed some rows, then wrote them again)."""
    execute('CREATE TABLE pk_t ("id" BIGINT PRIMARY KEY)', derby_conn)
    execute("INSERT INTO pk_t VALUES (5)", derby_conn)
    rejects = []
    rows = [{"id": i} for i in range(20)]
    assert load("pk_t", derby_conn, rows, on_error=rejects.extend) == (20, 1)
    assert [f.row for f in rejects] == [{"id": 5}]
    got = fetchall('SELECT "id" FROM pk_t ORDER BY "id"', derby_conn)
    assert [r["id"] for r in got] == list(range(20))


def test_on_error_retry_writes_each_row_once(derby_conn):
    execute('CREATE TABLE short_t ("id" BIGINT, "s" VARCHAR(4))', derby_conn)
    rows = [{"id": i, "s": "too long" if i == 13 else "ok"} for i in range(20)]
    rejects = []
    assert load("short_t", derby_conn, rows, on_error=rejects.extend) == (20, 1)
    assert [f.row["id"] for f in rejects] == [13]
    got = fetchall('SELECT "id" FROM short_t ORDER BY "id"', derby_conn)
    assert [r["id"] for r in got] == [i for i in range(20) if i != 13]


def test_on_error_retry_types_none_values_by_their_chunk(derby_conn):
    """After the chunk fails on a duplicate key, a row holding a None
    is checked and written with the schema typed over the whole chunk,
    so only the duplicate reaches on_error."""
    execute(
        'CREATE TABLE pk_none_t ("id" BIGINT PRIMARY KEY, "v" DOUBLE)',
        derby_conn,
    )
    execute("INSERT INTO pk_none_t VALUES (1, 0.5)", derby_conn)
    rows = [{"id": 1, "v": 1.0}, {"id": 2, "v": None}, {"id": 3, "v": 3.0}]
    rejects = []
    assert load("pk_none_t", derby_conn, rows, on_error=rejects.extend) == (
        3, 1
    )
    assert [f.row["id"] for f in rejects] == [1]
    got = fetchall('SELECT "id", "v" FROM pk_none_t ORDER BY "id"', derby_conn)
    assert got == [
        {"id": 1, "v": 0.5}, {"id": 2, "v": None}, {"id": 3, "v": 3.0}
    ]


@pytest.fixture()
def new_york_time():
    """The process's local zone set to a non-UTC zone (naive datetimes
    convert through it), restored afterwards."""
    import time

    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    yield
    if old is None:
        del os.environ["TZ"]
    else:
        os.environ["TZ"] = old
    time.tzset()


def _spark_written(spark, conn, table, rows, names=None):
    """*rows* appended to *table* by Spark's JDBC writer, one task."""
    df = spark.createDataFrame(rows, names).repartition(1)
    conn.write_dataframe(df, table, mode="append", batchsize=len(rows))


def _read_back(conn, table):
    return conn.target_schema(table), fetchall(
        f'SELECT * FROM {table} ORDER BY "i"', conn
    )


def test_driver_write_equals_spark_writer_new_table(
    spark, derby_conn, new_york_time
):
    from datetime import date, datetime, timedelta, timezone
    from decimal import Decimal

    # every scalar type Python inference yields that a JDBC table holds
    rows = [
        {"i": 1, "b": True, "f": 1.5, "s": "x", "by": b"\x01\x02",
         "ba": bytearray(b"\x03"), "d": Decimal("12345.678901234567890123"),
         "dt": date(1900, 3, 1), "ts": datetime(2024, 7, 1, 12, 0, 0, 123456),
         "tz": datetime(2024, 1, 2, 3, 4, 5, tzinfo=timezone(timedelta(hours=5)))},
        {"i": 2, "b": None, "f": None, "s": None, "by": None, "ba": None,
         "d": None, "dt": None, "ts": None, "tz": None},
        {"i": -(2**53) - 1, "b": False, "f": -0.0, "s": "", "by": b"",
         "ba": bytearray(), "d": Decimal("-1"), "dt": date(2024, 2, 29),
         "ts": datetime(1969, 12, 31, 23, 59, 59), "tz": None},
    ]
    assert load("typed_driver", derby_conn, rows) == (3, 0)
    _spark_written(spark, derby_conn, "typed_spark", rows)
    schema, got = _read_back(derby_conn, "typed_driver")
    assert (schema, got) == _read_back(derby_conn, "typed_spark")
    assert len(got) == 3 and set(got[-1].values()) == {2, None}


@pytest.mark.parametrize(
    "value",
    [datetime.time(3, 4, 5), datetime.timedelta(days=1), [1, 2], {"k": 1}],
    ids=["time", "interval", "array", "map"],
)
def test_unwritable_types_raise_on_both_routes(spark, derby_conn, value):
    from etlhelper_spark.exceptions import ETLHelperInsertError
    from etlhelper_spark.operators import load as load_rows

    rows = [{"i": 1, "v": value}]
    with pytest.raises(Exception):
        _spark_written(spark, derby_conn, "unwritable_spark", rows)
    with pytest.raises(ETLHelperInsertError):
        load_rows("unwritable_driver", derby_conn, rows)
    with pytest.raises(ETLHelperExtractError):
        fetchall("SELECT * FROM unwritable_driver", derby_conn)


def test_driver_write_equals_spark_writer_existing_table(spark, derby_conn):
    """The INSERT matches the table's columns by name, whatever their
    order in the rows; tuple rows take the statement's column list."""
    for table in ("order_driver", "order_spark"):
        execute(
            f'CREATE TABLE {table} ("s" VARCHAR(8), "f" DOUBLE, '
            '"i" BIGINT NOT NULL, "x" INT)',
            derby_conn,
        )
    # (a NULL string into a Derby VARCHAR fails on both routes: Spark's
    # Derby dialect binds it as a CLOB)
    rows = [(1, 0.5, "a"), (2, None, "b"), (3, -2.0, "c")]
    assert executemany(
        'INSERT INTO order_driver ("i", "f", "s") VALUES (?, ?, ?)',
        derby_conn, rows,
    ) == (3, 0)
    _spark_written(spark, derby_conn, "order_spark", rows, ["i", "f", "s"])
    driver = _read_back(derby_conn, "order_driver")
    assert driver == _read_back(derby_conn, "order_spark")
    assert driver[1][0] == {"s": "a", "f": 0.5, "i": 1, "x": None}


def test_iterable_loads_run_no_spark_job(derby_conn, call_jobs):
    assert load("no_job_t", derby_conn, [{"id": i} for i in range(30)],
                chunk_size=10) == (30, 0)
    assert call_jobs() == 0
    assert executemany(
        'INSERT INTO no_job_t ("id") VALUES (?)', derby_conn, [(30,), (31,)]
    ) == (2, 0)
    assert call_jobs() == 0
    assert fetchone('SELECT count(*) AS "n" FROM no_job_t', derby_conn) == {"n": 32}


def test_driver_write_leaves_no_task_context(spark, derby_conn):
    from etlhelper_spark.exceptions import ETLHelperInsertError

    task_context = spark._jvm.org.apache.spark.TaskContext
    execute('CREATE TABLE tc_t ("id" BIGINT PRIMARY KEY)', derby_conn)
    load("tc_t", derby_conn, [{"id": 1}])
    assert task_context.get() is None
    with pytest.raises(ETLHelperInsertError):
        load("tc_t", derby_conn, [{"id": 1}])  # duplicate key
    assert task_context.get() is None
