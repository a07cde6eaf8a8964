"""Every state and index module does its path I/O through
etlhelper_spark/state/store.py (pyarrow.fs), so the object-storage
claim holds on every state path. This AST gate fails on a local-only
call — ``glob.*``, ``os.rename``, ``os.listdir``, ``os.walk``,
``os.path.exists``/``isdir``, builtin ``open``, ``shutil.rmtree`` — in
state/ or in the state/index modules of operators/ and functions/.
Those calls return nothing (or silently do nothing) on a ``file://``,
``s3://`` or ``gs://`` URI."""

from __future__ import annotations

import ast
import glob
import os

import etlhelper_spark

PKG = os.path.dirname(etlhelper_spark.__file__)

# every module that reads or writes a versioned state store or index
STATE_MODULES = [
    "state/store.py",
    "operators/bpe_state.py",
    "operators/cdc.py",
    "operators/dedup_state.py",
    "operators/drift_state.py",
    "operators/erasure.py",
    "operators/frequency_state.py",
    "operators/index_state.py",
    "operators/ivm.py",
    "operators/linkage_state.py",
    "operators/packing_state.py",
    "operators/quantile_state.py",
    "operators/sample_state.py",
    "operators/survivorship_state.py",
    "functions/ann_index.py",
    "functions/ivfpq.py",
]

# modules of operators/ and functions/ outside the gate, with the reason
EXCLUDED = {
    "operators/maintenance.py": (
        "table compaction swaps a whole parquet table with os.rename "
        "and rolls back on failure; moving table swaps onto pyarrow.fs "
        "is a separate decision (object stores have no atomic rename)"
    ),
    "operators/merge.py": "the same table swap as maintenance.py",
}

BANNED_ATTRS = {
    ("os", "rename"),
    ("os", "listdir"),
    ("os", "walk"),
    ("shutil", "rmtree"),
    ("path", "exists"),
    ("path", "isdir"),
}


def _violations(path: str) -> list[str]:
    with open(path) as f:
        tree = ast.parse(f.read())
    out = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        fn = node.func
        if isinstance(fn, ast.Name) and fn.id == "open":
            out.append(f"{path}:{node.lineno}: open()")
        elif isinstance(fn, ast.Attribute):
            base = fn.value
            name = (
                base.id
                if isinstance(base, ast.Name)
                else base.attr
                if isinstance(base, ast.Attribute)
                else None
            )
            if name in ("glob", "_glob") or (name, fn.attr) in BANNED_ATTRS:
                out.append(f"{path}:{node.lineno}: {name}.{fn.attr}()")
    return out


def test_state_modules_do_io_through_the_store():
    bad = []
    for rel in STATE_MODULES:
        bad += _violations(os.path.join(PKG, rel))
    assert not bad, (
        "local-only path I/O in a state module — use "
        "etlhelper_spark/state/store.py instead:\n" + "\n".join(bad)
    )


def test_gate_covers_every_module_doing_path_io():
    """A module of operators/ or functions/ that does local path I/O
    must be gated or excluded with a reason, so a new state module
    cannot land outside the gate."""
    known = set(STATE_MODULES) | set(EXCLUDED)
    for sub in ("operators", "functions", "state"):
        for path in sorted(glob.glob(os.path.join(PKG, sub, "*.py"))):
            rel = os.path.relpath(path, PKG)
            if rel not in known:
                assert not _violations(path), (
                    f"{rel} does local path I/O: add it to STATE_MODULES "
                    "(and move the I/O to state/store.py) or to "
                    "EXCLUDED with its reason"
                )
    for rel, reason in EXCLUDED.items():
        assert os.path.exists(os.path.join(PKG, rel)) and len(reason) > 20
