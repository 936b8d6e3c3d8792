"""The stored-artifact build path has one concurrency mechanism and one
list of store roots.

Build sites overlap independent chains through ``stored.overlap``, the
only place the package starts driver threads, so the pool width and the
failure rule live in one function. Every derived store is rooted at a
module-level ``*_LOCATION`` constant named in ``stored.STORE_ROOTS``,
the list harnesses iterate to wipe or redirect the stores. Spark-free."""

from __future__ import annotations

import ast
import pathlib
import threading
import time

import pytest

import automotive_big_data_analysis_spark as pkg
from automotive_big_data_analysis_spark.sources import stored

_THREAD_MODULES = {"concurrent", "threading", "_thread", "multiprocessing"}
_THREAD_CALLS = {
    "ThreadPoolExecutor",
    "ProcessPoolExecutor",
    "Thread",
    "InheritableThread",
    "start_new_thread",
}


def _modules():
    root = pathlib.Path(pkg.__file__).parent
    for path in sorted(root.rglob("*.py")):
        name = ".".join(path.relative_to(root).with_suffix("").parts)
        yield name, ast.parse(path.read_text())


def _thread_uses(tree: ast.AST):
    """(node, what) for every thread-module import and thread start."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            names = [node.module or ""]
        elif isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", "")
            if name in _THREAD_CALLS:
                yield node, f"{name}(...)"
            continue
        else:
            continue
        for n in names:
            if n.split(".")[0] in _THREAD_MODULES:
                yield node, f"import {n}"


def test_no_module_starts_driver_threads_outside_overlap():
    modules = dict(_modules())
    helper = [
        node
        for node in modules["sources.stored"].body
        if isinstance(node, ast.FunctionDef) and node.name == "overlap"
    ]
    inside = {id(node) for h in helper for node in ast.walk(h)}
    hits = [
        f"{name}:{node.lineno}: {what}"
        for name, tree in modules.items()
        for node, what in _thread_uses(tree)
        if id(node) not in inside
    ]
    assert hits == [], "driver threads outside stored.overlap:\n" + "\n".join(hits)
    assert len(helper) == 1 and any(True for _ in _thread_uses(helper[0]))


def test_every_store_root_is_listed():
    roots = set()
    for name, tree in _modules():
        for node in tree.body:
            if (
                isinstance(node, ast.Assign)
                and isinstance(node.value, ast.Constant)
                and isinstance(node.value.value, str)
            ):
                roots |= {
                    (name, t.id)
                    for t in node.targets
                    if isinstance(t, ast.Name) and t.id.endswith("_LOCATION")
                }
    assert roots == set(stored.STORE_ROOTS)
    assert len(stored.STORE_ROOTS) == len(roots)


def test_perfbench_redirects_every_store_root():
    """perfbench keeps its own list of the roots it points under its
    wiped work tree; a root missing there would be written outside it.
    The list is read from the source, so no perfbench code runs."""
    path = pathlib.Path(pkg.__file__).parent.parent / "perfbench" / "common.py"
    (listed,) = [
        ast.literal_eval(node.value)
        for node in ast.parse(path.read_text()).body
        if isinstance(node, ast.Assign)
        and [getattr(t, "id", None) for t in node.targets] == ["STORE_ROOTS"]
    ]
    assert {tuple(r) for r in listed} == set(stored.STORE_ROOTS)


def test_overlap_runs_each_chain_in_order_and_the_chains_at_once():
    barrier = threading.Barrier(2, timeout=10)
    log: list[tuple[str, int]] = []

    def chain(name: str):
        def run():
            log.append((name, 1))
            barrier.wait()  # returns only while the other chain is in flight
            log.append((name, 2))
            log.append((name, 3))

        return run

    stored.overlap(chain("a"), chain("b"))
    for name in "ab":
        assert [step for n, step in log if n == name] == [1, 2, 3]


def test_overlap_runs_at_most_pool_width_callables_at_once():
    width = stored.POOL_WIDTH
    barrier = threading.Barrier(width, timeout=10)
    lock = threading.Lock()
    active = peak = 0

    def step(i: int):
        def run():
            nonlocal active, peak
            with lock:
                active += 1
                peak = max(peak, active)
            if i < width:
                barrier.wait()
            time.sleep(0.05)
            with lock:
                active -= 1

        return run

    stored.overlap(*[step(i) for i in range(width + 2)])
    assert peak == width


@pytest.mark.parametrize("at", [0, 2])
def test_overlap_propagates_a_failure(at):
    ran: list[int] = []

    def boom():
        raise RuntimeError("boom")

    fns = [lambda: ran.append(1), lambda: ran.append(2)]
    fns.insert(at, boom)
    with pytest.raises(RuntimeError, match="boom"):
        stored.overlap(*fns)
    assert sorted(ran) == [1, 2]  # the other callables still ran
