"""Every module does its path I/O through the pyarrow.fs helpers of
etlhelper_spark/functions/util.py (``parquet_fs``, ``list_fileinfos``,
``parquet_data_files``) — the state and index modules through
etlhelper_spark/state/store.py, which sits on them — so the
object-storage claim holds on every path. This AST gate fails on a
local-only call — ``glob.*``, ``os.rename``, ``os.listdir``,
``os.walk``, ``os.path.exists``/``isdir``, builtin ``open``,
``shutil.rmtree`` — anywhere in the package except the query bodies
of plans/queries.py. Those calls return nothing (or silently do
nothing) on a ``file://``, ``s3://`` or ``gs://`` URI."""

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

# functions outside the gate (``<module>::<function>``), each with its
# reason; none today
EXCLUDED: dict[str, str] = {}

# query bodies, swept with the split of plans/queries.py
UNGATED_MODULES = {"plans/queries.py"}

BANNED_ATTRS = {
    ("os", "rename"),
    ("os", "listdir"),
    ("os", "walk"),
    ("shutil", "rmtree"),
    ("path", "exists"),
    ("path", "isdir"),
}


def _excluded_functions(path: str) -> set[str]:
    rel = os.path.relpath(path, PKG)
    return {
        key.split("::")[1] for key in EXCLUDED if key.split("::")[0] == rel
    }


def _calls(tree: ast.AST, skip: set[str]):
    """Every call in *tree* outside the functions named in *skip*."""
    for node in ast.iter_child_nodes(tree):
        if (
            isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            and node.name in skip
        ):
            continue
        if isinstance(node, ast.Call):
            yield node
        yield from _calls(node, skip)


def _violations(path: str) -> list[str]:
    with open(path) as f:
        tree = ast.parse(f.read())
    out = []
    for node in _calls(tree, _excluded_functions(path)):
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
    for key, reason in EXCLUDED.items():
        rel, fn = key.split("::")
        with open(os.path.join(PKG, rel)) as f:
            defined = {
                n.name
                for n in ast.walk(ast.parse(f.read()))
                if isinstance(n, ast.FunctionDef)
            }
        assert fn in defined and len(reason) > 20


def test_every_module_does_io_through_the_fs_layer():
    """The package-wide gate: every module of etlhelper_spark/ (not
    only the state modules) except UNGATED_MODULES."""
    bad = []
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        if os.path.relpath(path, PKG) not in UNGATED_MODULES:
            bad += _violations(path)
    assert not bad, (
        "local-only path I/O — use the pyarrow.fs helpers of "
        "etlhelper_spark/functions/util.py (parquet_fs, list_fileinfos, "
        "parquet_data_files) instead:\n" + "\n".join(bad)
    )
