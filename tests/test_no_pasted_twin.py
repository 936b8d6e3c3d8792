"""Every kernel shared by a Spark query and its DuckDB oracle is spelled
once, in ``functions/``, next to its Spark form (the ``*_sql`` twins);
oracles call the twin. A pasted copy of the tokenizer, the md5 bucket or
the cosine outside ``functions/`` is a second spelling that can drift from
the Spark kernel without any test noticing."""

from __future__ import annotations

import pathlib

import automotive_big_data_analysis_spark as pkg

PASTED = [r"'\S+'", "substr(md5(", "(sqrt(list_dot_product("]


def test_no_twin_spelled_outside_functions():
    root = pathlib.Path(pkg.__file__).parent
    hits = [
        f"{path.relative_to(root)}: {spelling}"
        for path in sorted(root.rglob("*.py"))
        if path.parent.name != "functions"
        for spelling in PASTED
        if spelling in path.read_text()
    ]
    assert hits == [], "kernel twin spelled outside functions/:\n" + "\n".join(hits)
