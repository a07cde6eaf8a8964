"""foreach_batch_sink: distributed custom sink with (processed, failed)
accounting. The 'API' is a local directory each executor writes to."""

import json
import os

from etlhelper_spark.operators.foreach_sink import foreach_batch_sink


def test_foreach_batch_sink_delivers_everything(spark, src_conn, tmp_path):
    df = src_conn.table_dataframe("nation")
    out_dir = str(tmp_path)

    def send(batch):
        # stand-in for an HTTP POST: one file per batch
        import uuid

        path = os.path.join(out_dir, f"{uuid.uuid4().hex}.json")
        with open(path, "w") as fh:
            json.dump(batch, fh)

    processed, failed = foreach_batch_sink(df, send, batch_size=7)
    assert processed == 25
    assert failed == 0
    rows = []
    for name in os.listdir(out_dir):
        with open(os.path.join(out_dir, name)) as fh:
            rows.extend(json.load(fh))
    assert len(rows) == 25
    assert {r["n_nationkey"] for r in rows} == set(range(25))


def test_foreach_batch_sink_skip_counts_failures(spark, src_conn):
    df = src_conn.table_dataframe("nation")

    def flaky_send(batch):
        if any(r["n_nationkey"] == 3 for r in batch):
            raise RuntimeError("boom")

    processed, failed = foreach_batch_sink(
        df, flaky_send, batch_size=1, on_error="skip"
    )
    assert processed == 24
    assert failed == 1
