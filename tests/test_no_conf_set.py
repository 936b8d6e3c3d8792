"""The engine shares one SparkSession across driver threads (pooled index
builds, streaming gates), so no operator may change session-global conf:
a set/restore pair is a race with every query planned meanwhile. Session
conf is written only by ``get_spark``'s builder."""

from __future__ import annotations

import pathlib

import automotive_big_data_analysis_spark as pkg


def test_no_module_calls_conf_set():
    root = pathlib.Path(pkg.__file__).parent
    hits = [
        f"{path.relative_to(root)}:{lineno}: {line.strip()}"
        for path in sorted(root.rglob("*.py"))
        for lineno, line in enumerate(path.read_text().splitlines(), 1)
        if "conf.set(" in line
    ]
    assert hits == [], "session conf mutated at:\n" + "\n".join(hits)
