"""Every module does its path I/O through the pyarrow.fs helpers of
etlhelper_spark/functions/util.py (``parquet_fs``, ``list_fileinfos``,
``parquet_data_files``) — the state and index modules through
etlhelper_spark/state/store.py, which sits on them — so the
object-storage claim holds on every path. This AST gate fails on a
local-only call — ``glob.*``, ``os.rename``, ``os.listdir``,
``os.walk``, ``os.path.exists``/``isdir``, builtin ``open``,
``shutil.rmtree`` — anywhere in the package, the query bodies of
plans/queries.py included, under whatever name the module imported
them (``import shutil as _s``, ``from glob import glob``,
``__import__("glob")``). Those calls return nothing (or silently do
nothing) on a ``file://``, ``s3://`` or ``gs://`` URI.

A second gate keeps every rewrite-store version on the one commit
path: outside state/store.py no writer (``.parquet(...)``,
``write_sidecar_table``) may receive a ``version_path(...)`` result,
so every version is written by ``store.commit_version``, which runs
the replay guard first. ``.parquet`` also names Spark's reader, so a
bare ``spark.read.parquet`` of a version trips the gate too: a version
reads back through ``read_parquet_state``, with its footer schema."""

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

# functions outside the gates (``<module>::<function>``), each with its
# reason
EXCLUDED: dict[str, str] = {
    "operators/packing_state.py::_write_cursor_version": (
        "the pack cursor (at most n_shards rows) is written driver-side "
        "by pyarrow, not by a Spark job; it runs after the assignments' "
        "commit_version in the same apply, so that commit's replay guard "
        "covers it"
    ),
}

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


def _aliases(tree: ast.AST) -> dict[str, str]:
    """Each name the module's imports bind, mapped to the dotted name
    it stands for: ``import shutil as _s`` binds ``_s`` to ``shutil``,
    ``from os import path as p`` binds ``p`` to ``os.path``."""
    out = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    out[a.asname] = a.name
        elif isinstance(node, ast.ImportFrom) and node.module:
            for a in node.names:
                out[a.asname or a.name] = f"{node.module}.{a.name}"
    return out


def _dotted(node: ast.AST, aliases: dict[str, str]) -> str:
    """The dotted name *node* refers to, import aliases resolved;
    ``__import__("glob")`` is ``glob``, any other expression ``?``."""
    if isinstance(node, ast.Name):
        return aliases.get(node.id, node.id)
    if isinstance(node, ast.Attribute):
        return f"{_dotted(node.value, aliases)}.{node.attr}"
    if (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "__import__"
        and node.args
        and isinstance(node.args[0], ast.Constant)
    ):
        return str(node.args[0].value)
    return "?"


def _source_violations(source: str, label: str, skip=()) -> list[str]:
    tree = ast.parse(source)
    aliases = _aliases(tree)
    out = []
    for node in _calls(tree, set(skip)):
        fn = node.func
        if isinstance(fn, ast.Name) and fn.id == "open":
            out.append(f"{label}:{node.lineno}: open()")
            continue
        parts = _dotted(fn, aliases).split(".")
        if len(parts) > 1 and (
            parts[-2] == "glob" or tuple(parts[-2:]) in BANNED_ATTRS
        ):
            out.append(f"{label}:{node.lineno}: {'.'.join(parts)}()")
    return out


def _violations(path: str) -> list[str]:
    with open(path) as f:
        return _source_violations(f.read(), path, _excluded_functions(path))


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
    """The package-wide gate: every module of etlhelper_spark/, not
    only the state modules."""
    bad = []
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        bad += _violations(path)
    assert not bad, (
        "local-only path I/O — use the pyarrow.fs helpers of "
        "etlhelper_spark/functions/util.py (parquet_fs, list_fileinfos, "
        "parquet_data_files) instead:\n" + "\n".join(bad)
    )


def test_io_gate_resolves_import_aliases():
    """The gate is not fooled by a renamed import: an aliased module,
    a name imported from the module, ``__import__`` and ``os.path``
    under another name all trip it, as does ``path.isdir`` on any
    expression, and the fs-layer calls do not."""
    src = (
        "import glob\n"
        "import glob as _g\n"
        "import shutil as _shutil\n"
        "from glob import glob as find\n"
        "from os import path as osp\n"
        "from shutil import rmtree\n"
        "def body(d):\n"
        "    glob.glob(d)\n"
        "    _g.glob(d)\n"
        "    _shutil.rmtree(d)\n"
        "    find(d)\n"
        "    osp.exists(d)\n"
        "    dirs[0].path.isdir(d)\n"
        "    rmtree(d)\n"
        "    __import__('glob').iglob(d)\n"
        "    open(d)\n"
        "    list_fileinfos(d)\n"
        "    store.remove(d)\n"
        "    osp.join(d, 'x')\n"
    )
    assert [
        int(v.split(":")[1]) for v in _source_violations(src, "m")
    ] == list(range(8, 17))


# -- rewrite-store versions are written only by store.commit_version --

WRITERS = {"parquet", "write_sidecar_table"}


def _call_name(node: ast.Call):
    return getattr(node.func, "attr", getattr(node.func, "id", None))


def _holds_version_path(node: ast.AST, names: set[str]) -> bool:
    if isinstance(node, ast.Call):
        return _call_name(node) == "version_path"
    return isinstance(node, ast.Name) and node.id in names


def _version_path_writes(source: str, label: str, skip=()) -> list[str]:
    """Writer calls that receive a ``version_path(...)`` result: the
    call itself, a local name bound to it, or a parameter of a module
    function that some call in the module passes one to."""
    funcs = [
        n
        for n in ast.walk(ast.parse(source))
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    params = {f.name: [a.arg for a in f.args.args] for f in funcs}
    held: dict[str, set[str]] = {f.name: set() for f in funcs}
    changed = True
    while changed:
        changed = False
        for f in funcs:
            for node in ast.walk(f):
                new: list[tuple[str, str]] = []
                if isinstance(node, ast.Assign) and _holds_version_path(
                    node.value, held[f.name]
                ):
                    new = [
                        (f.name, t.id)
                        for t in node.targets
                        if isinstance(t, ast.Name)
                    ]
                elif isinstance(node, ast.Call) and _call_name(node) in params:
                    callee = _call_name(node)
                    new = [
                        (callee, p)
                        for p, a in zip(params[callee], node.args)
                        if _holds_version_path(a, held[f.name])
                    ]
                for fn, name in new:
                    if name not in held[fn]:
                        held[fn].add(name)
                        changed = True
    out = set()
    for f in funcs:
        if f.name in skip:
            continue
        for node in ast.walk(f):
            if (
                isinstance(node, ast.Call)
                and _call_name(node) in WRITERS
                and any(
                    _holds_version_path(a, held[f.name])
                    for a in [*node.args, *(k.value for k in node.keywords)]
                )
            ):
                out.add(f"{label}:{node.lineno}: {_call_name(node)}()")
    return sorted(out)


def test_only_the_store_writes_a_version_path():
    bad = []
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, PKG)
        if rel == "state/store.py":
            continue
        with open(path) as f:
            bad += _version_path_writes(
                f.read(), rel, _excluded_functions(path)
            )
    assert not bad, (
        "a rewrite-store version written outside state/store.py — "
        "commit it with store.commit_version(df, subdir, batch_id):\n"
        + "\n".join(bad)
    )


def test_version_path_gate_sees_every_route():
    """The gate is not vacuous: a direct write, a write through a local
    name and a write inside a helper handed the path all trip it, and
    so does the excluded cursor write once its exclusion is lifted."""
    src = (
        "def direct(df, d):\n"
        "    df.write.parquet(version_path(d, 1))\n"
        "def named(df, d):\n"
        "    out = store.version_path(d, 1)\n"
        "    df.write.mode('overwrite').parquet(out)\n"
        "def helper(target, t):\n"
        "    write_sidecar_table(target, t)\n"
        "def caller(d, t):\n"
        "    helper(version_path(d, 1), t)\n"
        "def fine(df, d):\n"
        "    df.write.parquet(append_path(d, 1))\n"
    )
    assert [line.split(":")[1] for line in _version_path_writes(src, "m")] == [
        "2", "5", "7"
    ]
    with open(os.path.join(PKG, "operators", "packing_state.py")) as f:
        hits = _version_path_writes(f.read(), "packing_state")
    assert len(hits) == 1 and len(EXCLUDED) == 1
