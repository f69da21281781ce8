"""No switches in the linkage package: resolve() has one code path, so
no module under pseudopeople_spark/linkage/ may read the process
environment and ResolveConfig carries no option that picks a path. The
one environment exception is PP_FUSED_LOOKUP_DIR, a deployment path
(where the scratch lookup table is written), not a behaviour switch."""

from __future__ import annotations

import ast
import dataclasses
import pathlib

import pseudopeople_spark.linkage as linkage
from pseudopeople_spark.linkage.pipeline import ResolveConfig

ALLOWED = {"PP_FUSED_LOOKUP_DIR"}


def _environ_reads(tree):
    """(line, key) of every os.environ / os.getenv use; key is the
    string literal read, or None when there is none."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            getenv = isinstance(f, ast.Attribute) and f.attr == "getenv"
            environ_get = (
                isinstance(f, ast.Attribute)
                and isinstance(f.value, ast.Attribute)
                and f.value.attr == "environ"
            )
            if getenv or environ_get:
                key = node.args[0] if node.args else None
                yield node.lineno, key.value if isinstance(key, ast.Constant) else None
        elif isinstance(node, ast.Subscript) and isinstance(node.value, ast.Attribute):
            if node.value.attr == "environ":
                key = node.slice
                yield node.lineno, key.value if isinstance(key, ast.Constant) else None
        elif isinstance(node, ast.Name) and node.id in ("environ", "getenv"):
            yield node.lineno, None  # `from os import environ` and the like


def test_linkage_modules_read_no_environment_switch():
    root = pathlib.Path(linkage.__file__).parent
    modules = sorted(root.rglob("*.py"))
    assert any(m.name == "scoring.py" for m in modules)
    found = [
        (str(m.relative_to(root)), line, key)
        for m in modules
        for line, key in _environ_reads(ast.parse(m.read_text()))
        if key not in ALLOWED
    ]
    assert found == []


def test_resolve_config_has_only_threshold_and_checkpoint_dir():
    """resolve() runs one fixed pipeline: the match threshold and where
    stage checkpoints go are its only settings."""
    assert [f.name for f in dataclasses.fields(ResolveConfig)] == ["threshold", "checkpoint_dir"]
