"""Ratchet: no package top-level def or class is reachable only from tests.

A def counts as reached when its name occurs outside ``tests/``: in the
package, ``bench.py``, ``__spark_entry__.py``, ``tools/`` or
``perfbench/``, as a ``Name``, an ``Attribute``, an import alias or a
string constant that is not a docstring.  The defs nothing reaches must
equal :data:`UNREACHED`, each kept for a stated reason.  A new def with
no non-test caller fails this test: give it a caller or delete it.  A
listed def that gains a caller leaves the list.

References are matched by bare name, so a test-only def hides behind a
reached def of the same name in another module.  The second ratchet
closes that gap: a public top-level name is defined in one package
module only, unless :data:`SHARED_NAMES` lists it with a reason.

The third ratchet catches dead imports: every name a package module
imports must occur in that module as a ``Name`` (string annotations
are parsed), unless :data:`REEXPORTS` lists it as a deliberate
re-export.
"""

from __future__ import annotations

import ast
import pathlib

PKG = "prometheus_anomaly_detection_lstm_spark"

#: qualified def -> why it stays without a non-test caller.
UNREACHED = {
    "streaming.exporter.start_http_server": (
        "the live detector's /metrics endpoint (ROADMAP item 1)"
    ),
    "streaming.detector.run_detector_on_batch": (
        "the foreachBatch sink cli detect will call (ROADMAP item 1)"
    ),
    "plans.reports.save_histogram_png": (
        "the reference's MSE histogram artifact (ROADMAP item 6)"
    ),
    "plans.reports.save_loss_curve_png": (
        "the reference's loss-curve artifact (ROADMAP item 6)"
    ),
    "plans.png.decode_ihdr": (
        "reads back the PNG header the report writers emit (ROADMAP item 6)"
    ),
    "ml.keras_bridge.load_keras_archive": (
        "loads the reference's trained .keras model"
    ),
    "ml.joblib_lite.scaler_params_from_joblib": (
        "loads the reference's fitted scaler.joblib"
    ),
    "ml.autoencoder.build_lstm_autoencoder": (
        "the reference's Keras model builder, gated on TensorFlow"
    ),
    "operators.windows.sequence_windows": (
        "oracle twin of sequence_windows_scalable"
    ),
    "operators.windows.sliding_mean": (
        "oracle twin of the windowed mean"
    ),
    "sql_session.open_sql_session": "documented SQL-session API",
    "sources.prometheus.parse_response_df": (
        "documented Prometheus response parser"
    ),
    "operators.promql.holt_smoothing": "documented PromQL holt_winters",
    "operators.multimodal.decode_png_batch": (
        "documented multimodal PNG decoder"
    ),
}


#: public name -> why more than one package module defines it.
SHARED_NAMES = {
    "quality_checks": (
        "two unrelated reached defs: plans.wave5's table constraint "
        "report and operators.text's document rule set"
    ),
}


#: "module.name" -> why the module imports a name it does not use.
REEXPORTS: dict[str, str] = {}


def _root() -> pathlib.Path:
    root = pathlib.Path.cwd().resolve()
    if not (root / PKG).exists():  # running from another cwd
        root = pathlib.Path(__file__).resolve().parents[1]
    return root


def _sources(root: pathlib.Path):
    yield from (root / PKG).rglob("*.py")
    yield root / "bench.py"
    yield root / "__spark_entry__.py"
    yield from (root / "tools").rglob("*.py")
    yield from (root / "perfbench").rglob("*.py")


def _docstrings(tree: ast.AST) -> set[int]:
    doc_nodes = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, doc_nodes) and node.body:
            first = node.body[0]
            if isinstance(first, ast.Expr) and isinstance(
                first.value, ast.Constant
            ):
                out.add(id(first.value))
    return out


def _scan() -> tuple[dict[str, list[str]], set[str]]:
    """(top-level def name -> defining package modules, every name a
    non-test source references)."""
    root = _root()
    defs: dict[str, list[str]] = {}
    refs: set[str] = set()
    for path in _sources(root):
        if "__pycache__" in path.parts:
            continue
        tree = ast.parse(path.read_text())
        if (root / PKG) in path.parents:
            mod = ".".join(path.relative_to(root / PKG).with_suffix("").parts)
            for node in tree.body:
                if isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                ):
                    defs.setdefault(node.name, []).append(mod)
        docs = _docstrings(tree)
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                refs.add(node.id)
            elif isinstance(node, ast.Attribute):
                refs.add(node.attr)
            elif isinstance(node, ast.alias):
                refs.add(node.name.rsplit(".", 1)[-1])
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in docs
            ):
                refs.add(node.value)
    return defs, refs


def unreached() -> set[str]:
    """Qualified package defs whose name no non-test source references."""
    defs, refs = _scan()
    return {
        f"{mod}.{name}"
        for name, mods in defs.items()
        if name not in refs
        for mod in mods
    }


def test_only_listed_defs_lack_a_non_test_caller():
    found = unreached()
    new = sorted(found - UNREACHED.keys())
    gone = sorted(UNREACHED.keys() - found)
    assert not new, f"defs only tests reach (add a caller or delete): {new}"
    assert not gone, f"listed defs that now have a caller (unlist): {gone}"


def test_public_names_are_defined_once():
    defs, _ = _scan()
    shared = {
        name: sorted(mods)
        for name, mods in defs.items()
        if len(mods) > 1 and not name.startswith("_")
    }
    new = {n: m for n, m in shared.items() if n not in SHARED_NAMES}
    gone = sorted(SHARED_NAMES.keys() - shared.keys())
    assert not new, f"public names defined in more than one module: {new}"
    assert not gone, f"listed names now defined once (unlist): {gone}"


def _annotation_names(tree: ast.AST) -> set[str]:
    """Names inside string annotations (``x: "Iterator"``)."""
    notes = []
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            args = node.args
            notes += [
                a.annotation
                for a in (*args.posonlyargs, *args.args, *args.kwonlyargs,
                          args.vararg, args.kwarg)
                if a is not None
            ]
            notes.append(node.returns)
        elif isinstance(node, ast.AnnAssign):
            notes.append(node.annotation)
    out = set()
    for note in notes:
        if isinstance(note, ast.Constant) and isinstance(note.value, str):
            out |= {
                n.id
                for n in ast.walk(ast.parse(note.value, mode="eval"))
                if isinstance(n, ast.Name)
            }
    return out


def unused_imports() -> set[str]:
    """``module.name`` for every name a package module imports but
    never references."""
    root = _root()
    found = set()
    for path in (root / PKG).rglob("*.py"):
        if "__pycache__" in path.parts:
            continue
        tree = ast.parse(path.read_text())
        imported = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                imported |= {
                    a.asname or a.name.split(".")[0] for a in node.names
                }
            elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
                imported |= {a.asname or a.name for a in node.names}
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        used |= _annotation_names(tree)
        mod = ".".join(path.relative_to(root / PKG).with_suffix("").parts)
        found |= {f"{mod}.{name}" for name in imported - used}
    return found


def test_package_modules_have_no_unused_imports():
    found = unused_imports()
    new = sorted(found - REEXPORTS.keys())
    gone = sorted(REEXPORTS.keys() - found)
    assert not new, f"unused imports (delete, or list as a re-export): {new}"
    assert not gone, f"listed re-exports now used or gone (unlist): {gone}"
