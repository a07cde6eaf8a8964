"""The standing store-coverage gate (VERDICT r10 #2): two consecutive
rounds found a PII-bearing persisted store outside forget_everywhere
(r9: golden; r10: the sample reservoir and the MG frequency state).
This test makes that a structural failure instead of a per-round
finding — it AST-scans every module in etlhelper_spark/operators and
etlhelper_spark/functions for parquet stores addressed as
``os.path.join(state_dir, <store>)`` and asserts each one appears in
operators/erasure.py::STATE_STORE_REGISTRY, either mapped to an
erasure callable that really exists or explicitly WAIVED with a
stated reason it holds no row-level input values. A future store that
lands without a registry row fails here the day it is born."""

from __future__ import annotations

import ast
import glob
import os

from etlhelper_spark.operators import erasure
from etlhelper_spark.operators.erasure import STATE_STORE_REGISTRY

PKG = os.path.join(os.path.dirname(erasure.__file__), "..")
SCAN_DIRS = [
    os.path.join(PKG, "operators"),
    os.path.join(PKG, "functions"),
]
# the erasure module itself reads/writes stores as the erasure path
EXCLUDE_MODULES = {"erasure"}
# state/store.py calls that name a store dir, and that dir's argument
STORE_DIR_ARG = {"version_path": 0, "append_path": 0, "commit_version": 1}


def _module_constants(tree: ast.Module) -> dict[str, str]:
    """Module-level ``NAME = "literal"`` assignments (bpe_state's
    ``_MERGES = "merges"`` convention)."""
    out: dict[str, str] = {}
    for node in tree.body:
        if (
            isinstance(node, ast.Assign)
            and len(node.targets) == 1
            and isinstance(node.targets[0], ast.Name)
            and isinstance(node.value, ast.Constant)
            and isinstance(node.value.value, str)
        ):
            out[node.targets[0].id] = node.value.value
    return out


def _scan_module(path: str) -> set[str]:
    """Store names a module addresses as os.path.join(state_dir, X):
    X a string literal, a module-level constant, or an f-string
    (recorded as '<versioned>' — the ivm v<batch> convention)."""
    with open(path) as f:
        tree = ast.parse(f.read())
    consts = _module_constants(tree)
    stores: set[str] = set()
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        fn = node.func
        fname = getattr(fn, "attr", getattr(fn, "id", None))
        pos = STORE_DIR_ARG.get(fname)
        if (
            pos is not None
            and len(node.args) > pos
            and isinstance(node.args[pos], ast.Name)
            and node.args[pos].id == "state_dir"
        ):
            # a store rooted at the state dir (the ivm v<batch> convention)
            stores.add("<versioned>")
            continue
        if not (isinstance(fn, ast.Attribute) and fn.attr == "join"):
            continue
        if not node.args or len(node.args) < 2:
            continue
        first = node.args[0]
        if not (isinstance(first, ast.Name) and first.id == "state_dir"):
            continue
        second = node.args[1]
        if isinstance(second, ast.Constant) and isinstance(
            second.value, str
        ):
            # "v*" globs address the same version dirs the f-string
            # writers create — one store, the versioned root
            stores.add(
                "<versioned>" if second.value == "v*" else second.value
            )
        elif isinstance(second, ast.Name) and second.id in consts:
            stores.add(consts[second.id])
        elif isinstance(second, ast.Name) and second.id == "store":
            # caller-parameterized maintenance helpers (compact_state,
            # prune_state_versions) operate on stores OTHER functions
            # declare — they define no store of their own
            continue
        elif isinstance(second, ast.JoinedStr):
            stores.add("<versioned>")
        else:
            raise AssertionError(
                f"{path}: os.path.join(state_dir, <unresolvable>) — "
                "use a string literal, module constant, or f-string "
                "so the store registry scan can see it"
            )
    return stores


def _found_stores() -> dict[str, set[str]]:
    found: dict[str, set[str]] = {}
    for d in SCAN_DIRS:
        for path in sorted(glob.glob(os.path.join(d, "*.py"))):
            mod = os.path.splitext(os.path.basename(path))[0]
            if mod in EXCLUDE_MODULES or mod == "__init__":
                continue
            stores = _scan_module(path)
            if stores:
                found[mod] = stores
    return found


def test_every_persisted_store_is_registered():
    found = _found_stores()
    missing = [
        (mod, store)
        for mod, stores in found.items()
        for store in stores
        if store not in STATE_STORE_REGISTRY.get(mod, {})
    ]
    assert not missing, (
        f"persisted state stores with NO registry row: {missing} — "
        "add each to operators/erasure.py::STATE_STORE_REGISTRY, "
        "either mapped to an erasure callable (and wire it into "
        "forget_everywhere) or WAIVED with the reason it holds no "
        "row-level input values"
    )


def test_registry_has_no_stale_rows():
    found = _found_stores()
    stale = [
        (mod, store)
        for mod, stores in STATE_STORE_REGISTRY.items()
        for store in stores
        if store not in found.get(mod, set())
    ]
    assert not stale, (
        f"registry rows with no matching store in the code: {stale} — "
        "the registry must describe reality, remove or fix them"
    )


def test_registered_erasure_callables_exist():
    import etlhelper_spark.operators as ops

    for mod, stores in STATE_STORE_REGISTRY.items():
        for store, cover in stores.items():
            if cover.startswith("WAIVED:"):
                assert len(cover) > 30, (
                    f"{mod}.{store}: a waiver needs a real reason"
                )
                continue
            fn = getattr(erasure, cover, None) or getattr(
                ops, cover, None
            )
            assert callable(fn), (
                f"{mod}.{store}: registered erasure callable "
                f"{cover!r} does not exist in operators.erasure or "
                "the operators namespace"
            )


def test_forget_everywhere_reaches_every_covered_store():
    """Every NON-waived registry callable must be reachable from the
    forget_everywhere orchestrator — a per-store function nobody
    orchestrates is the compliance hole the registry exists to
    prevent."""
    import inspect

    src = inspect.getsource(erasure.forget_everywhere)
    for mod, stores in STATE_STORE_REGISTRY.items():
        for store, cover in stores.items():
            if cover.startswith("WAIVED:"):
                continue
            assert cover in src, (
                f"{mod}.{store}: {cover} is not called by "
                "forget_everywhere"
            )
