"""Layout guard for the workload registry: workloads live in family
modules (tpch, aggregation, stats, text, ...), never in modules named for
the change that added them, and `load_all` discovers the modules itself
instead of listing them."""

from __future__ import annotations

import ast
import pathlib
import re

from sample_data_pipeline_project_spark import workloads
from sample_data_pipeline_project_spark.workloads import load_all

_PKG = pathlib.Path(workloads.__file__).parent
_MODULES = sorted(p.stem for p in _PKG.glob("*.py") if p.stem != "__init__")


def test_no_round_named_workload_module():
    bad = [m for m in _MODULES if re.search(r"round|extra|\d", m)]
    assert bad == [], bad


def test_load_all_registers_every_workload():
    assert len(load_all()) == 358


def test_registry_names_no_module():
    """`workloads/__init__.py` code mentions no workload module: no import
    of one and no name or string equal to one (its docstring may)."""
    tree = ast.parse((_PKG / "__init__.py").read_text())
    body = tree.body[1:] if ast.get_docstring(tree) else tree.body
    named = set()
    for node in (n for stmt in body for n in ast.walk(stmt)):
        if isinstance(node, ast.ImportFrom) and node.module:
            named.add(node.module.rsplit(".", 1)[-1])
            named.update(a.name for a in node.names)
        elif isinstance(node, ast.Name):
            named.add(node.id)
        elif isinstance(node, ast.Attribute):
            named.add(node.attr)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            named.add(node.value)
    assert named.isdisjoint(_MODULES), sorted(named & set(_MODULES))
