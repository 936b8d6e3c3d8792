"""Profiles come from inside the bench's UI-less session (status
tracker, planning tracker, event log, ``recentProgress``): no harness
turns the Spark UI on or reads it, and nothing opens an HTTP
connection. Scans the package, ``scripts/`` and ``bench.py``.
Spark-free."""

from __future__ import annotations

import ast
import pathlib

import automotive_big_data_analysis_spark as pkg

REPO = pathlib.Path(pkg.__file__).parent.parent
# HTTP clients (``urllib.parse``, which only splits strings, stays allowed)
_NETWORK_MODULES = ("urllib.request", "http.client", "requests")


def _files():
    yield from sorted((REPO / "automotive_big_data_analysis_spark").rglob("*.py"))
    yield from sorted((REPO / "scripts").glob("*.py"))
    yield REPO / "bench.py"


def _imports_network(name: str) -> bool:
    return any(name == m or name.startswith(m + ".") for m in _NETWORK_MODULES)


def _turns_ui_on(key: ast.AST | None, value: ast.AST) -> bool:
    return (
        isinstance(key, ast.Constant)
        and key.value == "spark.ui.enabled"
        and isinstance(value, ast.Constant)
        and str(value.value).lower() == "true"
    )


def _hits(tree: ast.AST):
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            yield from (
                f"import {a.name}" for a in node.names if _imports_network(a.name)
            )
        elif isinstance(node, ast.ImportFrom) and not node.level:
            mod = node.module or ""
            names = [mod, *(f"{mod}.{a.name}" for a in node.names)]
            if any(map(_imports_network, names)):
                yield f"from {mod}"
        elif isinstance(node, ast.Attribute) and node.attr == "uiWebUrl":
            yield "uiWebUrl"
        elif isinstance(node, ast.Dict):
            if any(map(_turns_ui_on, node.keys, node.values)):
                yield "spark.ui.enabled = true"
        elif isinstance(node, ast.Call) and len(node.args) >= 2:
            if _turns_ui_on(*node.args[:2]):
                yield "spark.ui.enabled = true"


def test_no_harness_reads_the_ui_or_the_network():
    hits = [
        f"{path.relative_to(REPO)}:{what}"
        for path in _files()
        for what in _hits(ast.parse(path.read_text()))
    ]
    assert hits == [], "UI or network use:\n" + "\n".join(hits)


def test_the_guard_sees_each_pattern():
    src = """
import urllib.request
from http.client import HTTPConnection
import requests
from urllib import request
base = spark.sparkContext.uiWebUrl
get_spark(extra_conf={"spark.ui.enabled": "true"})
SparkConf().set("spark.ui.enabled", True)
from urllib.parse import urlparse
SparkConf().set("spark.ui.enabled", "false")
"""
    assert list(_hits(ast.parse(src))) == [
        "import urllib.request",
        "from http.client",
        "import requests",
        "from urllib",
        "uiWebUrl",
        "spark.ui.enabled = true",
        "spark.ui.enabled = true",
    ]
