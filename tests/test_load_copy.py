"""Load/copy semantics (reference: test/integration/etl/test_etl_load.py
and test_etl_transform.py — round-trips, chunk sweeps, on_error counts,
empty input, golden INSERT SQL, transform styles)."""

import pytest

from etlhelper_spark import (
    DbParams,
    ETLHelperInsertError,
    copy_rows,
    copy_table_rows,
    dataframe_transform,
    executemany,
    fetchall,
    fetchone,
    generate_insert_sql,
    load,
)


def region_rows(src_conn):
    return fetchall("SELECT * FROM region ORDER BY r_regionkey", src_conn)


def test_load_roundtrip(src_conn, dest_conn):
    rows = region_rows(src_conn)
    processed, failed = load("region_copy", dest_conn, rows)
    assert (processed, failed) == (5, 0)
    out = fetchall("SELECT * FROM region_copy ORDER BY r_regionkey", dest_conn)
    assert out == rows


@pytest.mark.parametrize("chunk_size", [1, 2, 3, 4])
def test_load_chunk_sizes(src_conn, dest_conn, chunk_size):
    rows = region_rows(src_conn)
    processed, failed = load("t", dest_conn, rows, chunk_size=chunk_size)
    assert (processed, failed) == (5, 0)
    assert len(fetchall("SELECT * FROM t", dest_conn)) == 5


def test_load_empty_and_none(dest_conn):
    assert load("t", dest_conn, []) == (0, 0)
    assert load("t", dest_conn, None) == (0, 0)


def test_load_generator_input(src_conn, dest_conn):
    gen = (r for r in region_rows(src_conn))
    processed, failed = load("t", dest_conn, gen)
    assert (processed, failed) == (5, 0)


def test_load_transform_applied(src_conn, dest_conn):
    def transform(chunk):
        return [{**r, "r_name": r["r_name"].title()} for r in chunk]

    load("t", dest_conn, region_rows(src_conn), transform=transform)
    out = fetchall("SELECT r_name FROM t ORDER BY r_name", dest_conn)
    assert out[0]["r_name"] == "Africa"


def test_load_on_error_collects_failed_rows(src_conn, dest_conn):
    # establish schema with a first chunk, then feed rows whose types
    # can't coerce -> those rows are dead-lettered, not fatal
    load("t", dest_conn, [{"id": 1, "value": 1.5}])
    errors = []
    rows = [
        {"id": 2, "value": 2.5},
        {"id": 3, "value": object()},  # unserializable
    ]
    processed, failed = executemany(
        "INSERT INTO t (id, value) VALUES (:id, :value)",
        dest_conn,
        rows,
        on_error=errors.extend,
        chunk_size=10,
    )
    assert processed == 2  # processed includes failed (reference contract)
    assert failed == 1
    assert len(errors) == 1
    assert errors[0].row["id"] == 3


def test_executemany_without_on_error_raises(dest_conn):
    load("t", dest_conn, [{"id": 1, "value": 1.5}])
    with pytest.raises(ETLHelperInsertError):
        executemany(
            "INSERT INTO t (id, value) VALUES (:id, :value)",
            dest_conn,
            [{"id": 2, "value": object()}],
        )


def test_copy_table_rows(src_conn, dest_conn):
    processed, failed = copy_table_rows("nation", src_conn, dest_conn)
    assert (processed, failed) == (25, 0)
    assert len(fetchall("SELECT * FROM nation", dest_conn)) == 25


def test_copy_table_rows_target_rename(src_conn, dest_conn):
    copy_table_rows("nation", src_conn, dest_conn, target="nation2")
    assert len(fetchall("SELECT * FROM nation2", dest_conn)) == 25


def test_copy_rows_with_query_and_df_transform(src_conn, dest_conn):
    @dataframe_transform
    def double_price(df):
        from pyspark.sql import functions as F

        return df.withColumn("o_totalprice", F.col("o_totalprice") * 2)

    processed, failed = copy_rows(
        "SELECT * FROM orders WHERE o_totalprice > 400000",
        src_conn,
        "INSERT INTO big_orders VALUES",
        dest_conn,
        transform=double_price,
    )
    assert failed == 0
    out = fetchall("SELECT min(o_totalprice) AS m FROM big_orders", dest_conn)
    assert out[0]["m"] > 800000


def test_copy_rows_chunk_transform(src_conn, dest_conn):
    def transform(chunk):
        return [
            {"n_name": r["n_name"].lower(), "n_regionkey": r["n_regionkey"]}
            for r in chunk
        ]

    processed, failed = copy_rows(
        "SELECT * FROM nation",
        src_conn,
        "INSERT INTO nation_lower VALUES",
        dest_conn,
        transform=transform,
    )
    assert processed == 25
    out = fetchall(
        "SELECT n_name FROM nation_lower ORDER BY n_name LIMIT 1", dest_conn
    )
    assert out[0]["n_name"] == out[0]["n_name"].lower()


# -- generate_insert_sql golden strings (reference:
#    test/integration/etl/test_etl_load.py:221-253) --------------------
class _FakeConn:
    def __init__(self, dbtype, **kw):
        self.db_params = DbParams(dbtype=dbtype, **kw)


PG = _FakeConn("POSTGRES", host="h", port=1, dbname="d", user="u")
SQLITE = _FakeConn("SQLITE", filename="/tmp/x.db")
MSSQL = _FakeConn(
    "MSSQL", host="h", port=1, dbname="d", user="u", odbc_driver="x"
)


def test_generate_insert_sql_dict_pg():
    assert generate_insert_sql("my_table", {"id": 1, "value": 1.0}, PG) == (
        "INSERT INTO my_table (id, value) VALUES (%(id)s, %(value)s)"
    )


def test_generate_insert_sql_namedtuple_pg():
    from collections import namedtuple

    Row = namedtuple("Row", ["id", "value"])
    assert generate_insert_sql("my_table", Row(1, 1.0), PG) == (
        "INSERT INTO my_table (id, value) VALUES (%s, %s)"
    )


def test_generate_insert_sql_dict_sqlite_named():
    assert generate_insert_sql("t", {"id": 1}, SQLITE) == (
        "INSERT INTO t (id) VALUES (:id)"
    )


def test_generate_insert_sql_dict_mssql_raises():
    with pytest.raises(ETLHelperInsertError, match="named parameters"):
        generate_insert_sql("t", {"id": 1}, MSSQL)


def test_generate_insert_sql_bad_table():
    from etlhelper_spark import ETLHelperBadIdentifierError

    with pytest.raises(ETLHelperBadIdentifierError):
        generate_insert_sql("bad; DROP", {"id": 1}, PG)


# ----------------------------------------------------------------------
# one pass per write: counts and on_error rejects ride the write
# ----------------------------------------------------------------------
def _typed_target(spark, dest_conn):
    """An existing files-backend target ``sink`` to validate rows against."""
    dest_conn.write_dataframe(
        spark.createDataFrame([], "id long, code int, name string"), "sink"
    )


NATION_CODES = (
    "SELECT n_nationkey AS id, CASE WHEN n_nationkey % 5 = 0 "
    "THEN concat('x', n_nationkey) ELSE CAST(n_regionkey AS STRING) END "
    "AS code, n_name AS name FROM nation"
)


def test_copy_table_rows_runs_one_job(src_conn, dest_conn, call_jobs):
    assert copy_table_rows("nation", src_conn, dest_conn) == (25, 0)
    # the files write; its row count and the view refresh add no job
    assert call_jobs() == 1


def test_fetchone_runs_one_job(src_conn, call_jobs):
    row = fetchone(
        "SELECT n_name FROM nation WHERE n_nationkey = 3", src_conn
    )
    assert row == {"n_name": "NATION_3"}
    assert call_jobs() == 1


def test_python_transform_sees_each_row_once(spark, src_conn, dest_conn, call_jobs):
    seen = spark.sparkContext.accumulator(0)

    def transform(chunk):
        seen.add(len(chunk))
        return [{"id": r["o_orderkey"], "code": 1, "name": r["o_orderstatus"]}
                for r in chunk]

    _typed_target(spark, dest_conn)
    rejects = []
    result = copy_rows(
        "SELECT o_orderkey, o_orderstatus FROM orders", src_conn,
        "INSERT INTO sink (id, code, name) VALUES (?, ?, ?)", dest_conn,
        transform=transform, on_error=rejects.extend,
    )
    assert result == (1500, 0) and rejects == []
    # the write's pass plus the driver-side schema sample of 100 rows
    assert seen.value == 1500 + 100
    assert call_jobs() == 2  # schema sample, write


def test_on_error_gets_exactly_the_rows_failing_the_cast(spark, src_conn, dest_conn):
    _typed_target(spark, dest_conn)
    rejects = []
    result = copy_rows(
        NATION_CODES, src_conn,
        "INSERT INTO sink (id, code, name) VALUES (?, ?, ?)", dest_conn,
        on_error=rejects.extend,
    )
    bad = {k for k in range(25) if k % 5 == 0}
    assert result == (25, len(bad))
    assert {f.row["id"]: str(f.exception) for f in rejects} == {
        k: "cannot cast code to int" for k in bad
    }
    assert all(f.row["code"] is None for f in rejects)  # the failed cast
    landed = fetchall("SELECT id, code FROM sink", dest_conn)
    assert {r["id"] for r in landed} == set(range(25)) - bad


def test_on_error_gets_exactly_the_not_null_and_cast_rejects(spark, src_conn, dest_conn):
    # parquet and JDBC targets report every column nullable; a catalog
    # view is a target whose schema carries NOT NULL
    spark.range(0).selectExpr(
        "id", "CAST(NULL AS INT) AS code", "CAST(NULL AS STRING) AS name"
    ).createOrReplaceTempView("strict_sink")
    rejects = []
    result = load(
        "strict_sink", dest_conn,
        src_conn.dataframe(NATION_CODES).selectExpr(
            "CASE WHEN id % 10 = 1 THEN NULL ELSE id END AS id", "code", "name"
        ),
        on_error=rejects.extend,
    )
    cast_bad = {k for k in range(25) if k % 5 == 0}
    null_bad = {k for k in range(25) if k % 10 == 1}
    assert result == (25, len(cast_bad | null_bad))
    assert {f.row["name"]: str(f.exception) for f in rejects} == {
        **{f"NATION_{k}": "cannot cast code to int" for k in cast_bad},
        **{f"NATION_{k}": "id violates NOT NULL" for k in null_bad},
    }
    landed = fetchall("SELECT id FROM strict_sink", dest_conn)
    assert {r["id"] for r in landed} == set(range(25)) - cast_bad - null_bad


@pytest.mark.parametrize(
    "suffix", [" WHERE 1=0", " LIMIT 0"], ids=["where_false", "limit_0"]
)
def test_empty_query_copies_zero_rows(spark, src_conn, dest_conn, suffix):
    _typed_target(spark, dest_conn)
    calls = []
    assert copy_rows(
        NATION_CODES + suffix, src_conn,
        "INSERT INTO sink (id, code, name) VALUES (?, ?, ?)", dest_conn,
        on_error=calls.append,
    ) == (0, 0)
    assert calls == []


def test_empty_frame_loads_zero_rows(spark, src_conn, dest_conn):
    _typed_target(spark, dest_conn)
    calls = []
    empty = src_conn.dataframe(NATION_CODES).limit(0)
    assert load("sink", dest_conn, empty, on_error=calls.append) == (0, 0)
    assert calls == []


def test_failed_write_raises_and_skips_on_error(spark, src_conn, dest_conn):
    from pyspark.sql import functions as F

    @dataframe_transform
    def explode_on_row_7(df):
        return df.withColumn(
            "name",
            F.when(F.col("id") == 7, F.raise_error(F.lit("boom")))
            .otherwise(F.col("name")),
        )

    _typed_target(spark, dest_conn)
    calls = []
    with pytest.raises(ETLHelperInsertError, match="boom"):
        copy_rows(
            NATION_CODES, src_conn,
            "INSERT INTO sink (id, code, name) VALUES (?, ?, ?)", dest_conn,
            transform=explode_on_row_7, on_error=calls.append,
        )
    # rows 0, 5, ... fail the cast, but nothing was committed
    assert calls == []
