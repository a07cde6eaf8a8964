"""Object-store readiness of the driver-side artifact readers
(VERDICT r12 #4): the pyarrow footer/sidecar fast paths must resolve
paths through pyarrow.fs so they keep working when the persisted
store lives on object storage. ``file://`` URIs stand in for the
remote filesystems here — pyarrow routes them through the same
FileSystem.from_uri machinery s3/gs/hdfs take, while bare local paths
keep the LocalFileSystem fallback.
"""

from __future__ import annotations

import os
import pathlib

import pyarrow as pa
import pyarrow.parquet as pq

from etlhelper_spark.functions.util import (
    count_parquet_rows,
    list_fileinfos,
    parquet_schema_names,
    read_sidecar_table,
)
from etlhelper_spark.operators.packing_state import _read_meta
from etlhelper_spark.state.store import newest_epochs, scan_versions


def _mk_index(tmp_path) -> str:
    d = str(tmp_path / "idx")
    os.makedirs(os.path.join(d, "_pivots"))
    pq.write_table(
        pa.table({"list_id": [1, 2], "pivot": [[1.0, 2.0], [3.0, 4.0]]}),
        os.path.join(d, "_pivots", "part-0.parquet"),
    )
    os.makedirs(os.path.join(d, "list_id=1"))
    pq.write_table(
        pa.table({"vec_id": [1, 2, 3], "codes": [[1], [2], [3]]}),
        os.path.join(d, "list_id=1", "part-0.parquet"),
    )
    return d


def test_sidecar_and_counts_over_file_uri(tmp_path):
    d = _mk_index(tmp_path)
    uri = "file://" + d
    for p in (d, uri):
        t = read_sidecar_table(p + "/_pivots")
        assert t is not None and t.num_rows == 2
        assert count_parquet_rows(p) == 3  # _pivots invisible
        assert parquet_schema_names(p) == ["vec_id", "codes"]
    # missing directories behave like empty globs, not errors
    assert read_sidecar_table(uri + "/nope") is None
    assert count_parquet_rows(uri + "/nope") == 0
    assert parquet_schema_names(uri + "/nope") is None
    _fs, infos = list_fileinfos(uri + "/nope")
    assert infos == []


def test_scan_versions_over_file_uri(tmp_path):
    base = str(tmp_path / "store" / "cursor")
    for v, complete in [("v1", True), ("v2", False), ("v2.e1", True)]:
        p = os.path.join(base, v)
        os.makedirs(p)
        pq.write_table(
            pa.table({"a": [1]}), os.path.join(p, "part-0.parquet")
        )
        if complete:
            pathlib.Path(p, "_SUCCESS").touch()
    local = scan_versions(base)
    assert [ke for ke, _p in local] == [(1, 0), (2, 1)]
    via_uri = scan_versions("file://" + base)
    assert [ke for ke, _p in via_uri] == [(1, 0), (2, 1)]
    # URI scans return spark.read-able URIs (scheme preserved)
    assert all(p.startswith("file:///") for _ke, p in via_uri)
    assert scan_versions(base + "_missing") == []


def test_assign_versions_and_meta_over_file_uri(tmp_path):
    d = str(tmp_path / "packstate")
    for v, complete in [("v1", True), ("v1.e2", True), ("v3", False)]:
        p = os.path.join(d, "assign", v)
        os.makedirs(p)
        if complete:
            pathlib.Path(p, "_SUCCESS").touch()
    os.makedirs(os.path.join(d, "meta"))
    pq.write_table(
        pa.table(
            {
                "budget": [256],
                "n_shards": [8],
                "oversize": ["error"],
                "id_col": ["doc_id"],
            }
        ),
        os.path.join(d, "meta", "part-0.parquet"),
    )
    for p in (d, "file://" + d):
        vs = newest_epochs(os.path.join(p, "assign"))
        assert set(vs) == {1} and vs[1][0] == 2  # newest epoch wins
        m = _read_meta(p)
        assert m == {
            "budget": 256,
            "n_shards": 8,
            "oversize": "error",
            "id_col": "doc_id",
        }
    assert _read_meta(str(tmp_path / "empty")) is None


# -- per-layout round trips: a file:// state dir must behave exactly
# like the bare path, and purged dirs must really be gone


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_append_store_round_trip_over_file_uri(spark, tmp_path):
    from etlhelper_spark.operators.dedup_state import (
        compact_dedup_state,
        dedup_exact_incremental,
        forget_from_dedup_state,
    )
    from etlhelper_spark.state.store import read_live

    batches = [[(10, "alpha"), (11, "beta")], [(1, "ALPHA"), (2, "gamma")]]

    def run(root):
        out = [
            _rows(
                dedup_exact_incremental(
                    spark.createDataFrame(rows, ["doc_id", "text"]), root, i
                )
            )
            for i, rows in enumerate(batches)
        ]
        out.append(compact_dedup_state(spark, root, "exact"))
        out.append(forget_from_dedup_state(spark, root, [10]))
        out.append(_rows(read_live(spark, root + "/exact")[0]))
        return out

    want = run(str(tmp_path / "bare"))
    assert want[1][0][2] == 10  # batch 1 saw batch 0's survivor
    assert run("file://" + str(tmp_path / "uri")) == want
    assert os.listdir(tmp_path / "uri" / "exact") == ["base_v2"]


def test_rewrite_store_round_trip_over_file_uri(spark, tmp_path):
    from etlhelper_spark.operators.dedup_state import (
        duplicate_clusters_incremental,
        prune_state_versions,
    )
    from etlhelper_spark.operators.erasure import forget_from_clusters_state
    from etlhelper_spark.state.store import read_latest

    def pairs(rows):
        return spark.createDataFrame(rows, ["id_a", "id_b"])

    def run(root):
        out = [
            _rows(duplicate_clusters_incremental(pairs(rows), root, i))
            for i, rows in enumerate([[(1, 2)], [(3, 4)], [(2, 3)]])
        ]
        # at-least-once replay of the latest batch
        out.append(
            _rows(duplicate_clusters_incremental(pairs([(2, 3)]), root, 2))
        )
        out.append(forget_from_clusters_state(spark, root, [1]))
        out.append(_rows(read_latest(spark, root + "/clusters")))
        duplicate_clusters_incremental(pairs([(5, 6)]), root, 3)
        out.append(prune_state_versions(root, "clusters", keep=1))
        return out

    want = run(str(tmp_path / "bare"))
    assert want[4] == 1 and want[6] == 1
    assert run("file://" + str(tmp_path / "uri")) == want
    assert os.listdir(tmp_path / "uri" / "clusters") == ["v3"]


def test_packing_assign_erase_over_file_uri(spark, tmp_path):
    from etlhelper_spark.operators.packing_state import (
        forget_from_pack_state,
        pack_incremental,
        read_pack_assignments,
    )

    def run(root):
        for b in range(2):
            pack_incremental(
                spark.createDataFrame(
                    [(b * 10 + i, 30 + i) for i in range(6)],
                    "doc_id long, n long",
                ),
                root,
                batch_id=b,
                budget=100,
                tokens_col="n",
                n_shards=2,
            )
        n = forget_from_pack_state(spark, root, [0, 11])
        return n, _rows(read_pack_assignments(spark, root))

    want = run(str(tmp_path / "bare"))
    assert want[0] == 2
    assert run("file://" + str(tmp_path / "uri")) == want
    # the outranked raw versions physically held the erased rows
    assert sorted(os.listdir(tmp_path / "uri" / "assign")) == [
        "v0.e1",
        "v1.e1",
    ]


def test_ivfpq_compact_and_forget_over_file_uri(spark, tmp_path):
    from pyspark.sql import functions as F

    from etlhelper_spark.functions.ivfpq import (
        append_ivfpq_index,
        build_ivfpq_index,
        compact_ivfpq_ingest,
        ivfpq_ingest_watermark,
        read_ivfpq_rows,
    )
    from etlhelper_spark.operators.erasure import forget_from_ivfpq_index
    # deterministic synthetic 8-d vectors
    vecs = spark.range(240).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.sin(F.col("id") * (j + 1.0)) for j in range(8)]).alias(
            "embedding"
        ),
    )

    def part(k):
        return vecs.where(F.pmod("vec_id", F.lit(3)) == k)

    def run(root):
        build_ivfpq_index(
            part(0), root, nlist=4, m_sub=4, k_codes=8, iterations=2,
        )
        for b in (1, 2):
            append_ivfpq_index(part(b), root, batch_id=b)
        folded = compact_ivfpq_ingest(spark, root, watermark=1)
        w = ivfpq_ingest_watermark(root)
        both = part(1).union(part(2)).orderBy("vec_id")
        doomed = [r["vec_id"] for r in both.limit(4).collect()]
        n = forget_from_ivfpq_index(spark, root, doomed)
        rows = {
            (r["vec_id"], r["list_id"], tuple(r["codes"]))
            for r in read_ivfpq_rows(spark, root).collect()
        }
        return folded, w, n, rows

    want = run(str(tmp_path / "bare"))
    assert want[0] > 0 and want[1] == 1 and want[2] == 4
    uri_dir = tmp_path / "uri"
    assert run("file://" + str(uri_dir)) == want
    cells = [
        c
        for lst in os.listdir(uri_dir)
        if lst.startswith("list_id=")
        for c in os.listdir(uri_dir / lst)
    ]
    # folded cells swept; only batch 2's live cells remain
    assert cells and set(cells) == {"ingest_batch=2"}


def test_connect_files_round_trip_over_file_uri(spark, tmp_path):
    """connect_files on a ``file://`` URI: register, query, write a
    table, re-read it — the files backend lists and probes its
    directory through pyarrow.fs like the state stores."""
    from etlhelper_spark import connect_files, fetchall

    d = tmp_path / "lake"
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string").write.parquet(
        str(d / "t.parquet")
    )
    # a swap's sibling staging dir and a dot-entry are not tables
    (d / "t.parquet.__merge_0123abcd").mkdir()
    (d / ".hidden.parquet").mkdir()
    conn = connect_files("file://" + str(d), spark=spark)
    assert conn.register_tables() == ["t"]
    assert fetchall("SELECT id, s FROM t ORDER BY id", conn) == [
        {"id": 1, "s": "a"},
        {"id": 2, "s": "b"},
    ]
    conn.write_dataframe(spark.createDataFrame([(3,)], "id long"), "u")
    assert os.path.isdir(d / "u.parquet")
    assert fetchall("SELECT id FROM u", conn) == [{"id": 3}]
    assert sorted(r["id"] for r in fetchall("SELECT id FROM t", conn)) == [1, 2]
    assert conn.table_dataframe("u").count() == 1
