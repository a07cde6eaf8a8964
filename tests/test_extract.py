"""Extract semantics against the files backend (reference:
test/integration/etl/test_etl_extract.py — chunk-size sweep, bind
variables both styles, transforms, all four row factories, empty
result, error raising)."""

import pytest

from etlhelper_spark import (
    ETLHelperExtractError,
    dict_row_factory,
    fetchall,
    fetchone,
    iter_chunks,
    iter_rows,
    list_row_factory,
    namedtuple_row_factory,
    tuple_row_factory,
)


@pytest.mark.parametrize("chunk_size", [1, 2, 5000])
def test_iter_chunks_boundaries(src_conn, chunk_size):
    chunks = list(
        iter_chunks(
            "SELECT * FROM region ORDER BY r_regionkey",
            src_conn,
            chunk_size=chunk_size,
        )
    )
    sizes = [len(c) for c in chunks]
    assert sum(sizes) == 5
    assert all(s == chunk_size for s in sizes[:-1])
    assert sizes[-1] <= chunk_size


def test_iter_rows_order_and_shape(src_conn):
    rows = list(
        iter_rows("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey", src_conn)
    )
    assert rows[0] == {"r_regionkey": 0, "r_name": "AFRICA"}
    assert [r["r_regionkey"] for r in rows] == [0, 1, 2, 3, 4]


def test_bind_positional(src_conn):
    row = fetchone(
        "SELECT count(*) AS n FROM nation WHERE n_regionkey = ?",
        src_conn,
        parameters=(2,),
    )
    assert row["n"] == 5


def test_bind_named(src_conn):
    row = fetchone(
        "SELECT count(*) AS n FROM nation WHERE n_regionkey = :rk",
        src_conn,
        parameters={"rk": 2},
    )
    assert row["n"] == 5


@pytest.mark.parametrize(
    "factory,expected",
    [
        (dict_row_factory, {"r_regionkey": 0, "r_name": "AFRICA"}),
        (tuple_row_factory, (0, "AFRICA")),
        (list_row_factory, [0, "AFRICA"]),
    ],
)
def test_row_factories(src_conn, factory, expected):
    row = fetchone(
        "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
        src_conn,
        row_factory=factory,
    )
    assert row == expected


def test_namedtuple_row_factory(src_conn):
    row = fetchone(
        "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
        src_conn,
        row_factory=namedtuple_row_factory,
    )
    assert row.r_regionkey == 0
    assert row.r_name == "AFRICA"


def test_transform_chunk(src_conn):
    def transform(chunk):
        return [
            {**r, "r_name": r["r_name"].lower()}
            for r in chunk
            if r["r_regionkey"] < 2
        ]

    rows = fetchall(
        "SELECT * FROM region ORDER BY r_regionkey", src_conn, transform=transform
    )
    assert [r["r_name"] for r in rows] == ["africa", "america"]


def test_empty_result_fetchone_none(src_conn):
    assert fetchone("SELECT * FROM region WHERE r_regionkey = -1", src_conn) is None


def test_empty_result_fetchall_empty(src_conn):
    assert fetchall("SELECT * FROM region WHERE r_regionkey = -1", src_conn) == []


def test_bad_query_raises_extract_error(src_conn):
    with pytest.raises(ETLHelperExtractError):
        fetchall("SELECT missing_col FROM region", src_conn)


def test_bad_table_raises_extract_error(src_conn):
    with pytest.raises(ETLHelperExtractError):
        fetchall("SELECT * FROM no_such_table", src_conn)


def test_is_dml_routing_edge_cases():
    """DML-shim routing: keyword detection must survive comments,
    literals, and WITH-wrapped data-modifying CTEs — and must NOT
    trigger on SELECTs whose string data mentions DML words."""
    from etlhelper_spark.connect import _is_dml

    assert _is_dml("INSERT INTO t VALUES (1)")
    assert _is_dml("  update t set x = 1")
    assert _is_dml("-- audit note\nINSERT INTO t VALUES (1) RETURNING id")
    assert _is_dml("/* hint */ DELETE FROM t WHERE x = 1")
    assert _is_dml("WITH ins AS (INSERT INTO t VALUES (1) RETURNING id) SELECT * FROM ins")
    assert not _is_dml("SELECT 'insert me' AS s FROM t")
    assert not _is_dml("WITH c AS (SELECT 'update' AS w FROM t) SELECT * FROM c")
    assert not _is_dml("-- insert?\nSELECT 1")
    assert not _is_dml("SELECT * FROM inserted_rows")
