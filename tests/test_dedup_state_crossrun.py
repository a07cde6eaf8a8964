"""The 'cross-RUN' in cross-run dedup, taken literally: batch 2 is
applied by a SEPARATE Python process with its own SparkSession against
the state batch 1 left on disk. Everything else in the suite shares
one session; this pins that nothing about the state store depends on
in-session artifacts (caches, checkpoints, catalog entries).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_WORKER = """
import json, sys
sys.path.insert(0, {repo!r})
from etlhelper_spark.session import get_session
from etlhelper_spark.operators.dedup_state import dedup_exact_incremental

spark = get_session("crossrun_b{batch}", master="local[2]",
                    shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
batch = spark.createDataFrame({rows!r}, ["doc_id", "text"])
out = dedup_exact_incremental(batch, {state!r}, {batch})
print("VERDICT:" + json.dumps(sorted(
    [r["id"], r["survivor_id"], r["kept"]] for r in out.collect()
)))
spark.stop()
"""


def _run(batch_id: int, rows, state: str) -> list:
    script = _WORKER.format(
        repo=REPO, rows=rows, state=state, batch=batch_id
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("VERDICT:")]
    assert line, proc.stdout[-2000:]
    return json.loads(line[0][len("VERDICT:"):])


def test_state_survives_process_boundary(tmp_path):
    state = str(tmp_path)
    v0 = _run(0, [(10, "same text"), (11, "other")], state)
    assert v0 == [[10, 10, True], [11, 11, True]]
    # fresh process, fresh JVM: doc 1 must still resolve to doc 10,
    # first-seen in the PREVIOUS run
    v1 = _run(1, [(1, "same  text"), (2, "third")], state)
    assert v1 == [[1, 10, False], [2, 2, True]]
