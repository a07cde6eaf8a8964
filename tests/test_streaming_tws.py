"""transformWithStateInPandas (PySpark 4.x StatefulProcessor) gate.

The operator's runtime needs google.protobuf (state-server protocol),
which this container lacks — so the equivalence test self-skips there
and the gate's guidance path is what's asserted. On an env with
protobuf the equivalence test runs for real.
"""

from __future__ import annotations

import tempfile

import pytest

from etlhelper_spark.streaming import (
    running_user_totals_tws,
    transform_with_state_available,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.skipif(
    transform_with_state_available(),
    reason="protobuf present - guidance path unreachable",
)
def test_missing_protobuf_raises_with_guidance(spark, tmp_path):
    with pytest.raises(ImportError, match="running_user_totals"):
        running_user_totals_tws(spark, SF_DIR, str(tmp_path))


@pytest.mark.skipif(
    not transform_with_state_available(),
    reason="google.protobuf not installed in this container",
)
def test_tws_equals_batch_aggregate(spark, tmp_path):
    from pyspark.sql import functions as F

    out = running_user_totals_tws(spark, SF_DIR, str(tmp_path))
    batch = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy("user_id")
        .agg(
            F.round(F.sum("value"), 2).alias("total_value"),
            F.count("*").alias("n_events"),
        )
    )
    got = sorted(tuple(r) for r in out.collect())
    want = sorted(tuple(r) for r in batch.collect())
    assert got == want


def test_events_stream_reuses_one_link_dir(spark, tmp_path, monkeypatch):
    """read_events_stream without a stream_dir links the single events
    file from one dir per events file, reused across calls, so repeated
    calls leak nothing and a checkpointed stream keeps its path."""
    import os

    from etlhelper_spark.streaming.windows import read_events_stream

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for _ in range(3):
        read_events_stream(spark, SF_DIR)
    (link_dir,) = os.listdir(tmp_path)
    assert link_dir.startswith("ehs_stream_")
    assert os.listdir(tmp_path / link_dir) == ["events.parquet"]
    assert os.path.samefile(
        tmp_path / link_dir / "events.parquet",
        os.path.join(SF_DIR, "events.parquet"),
    )
