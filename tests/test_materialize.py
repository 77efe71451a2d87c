"""The one way the package holds an intermediate (materialize.py):
scoped release, release through derived frames, and a source guard
that keeps every other mechanism out of the package."""

from __future__ import annotations

import ast
import os
import warnings

import pytest

from pdf_ocr_comparison_tool_spark import materialize as M

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "pdf_ocr_comparison_tool_spark",
)


def _persisted_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _materialize_new(spark, df):
    """(checkpoint frame, the one RDD id it persisted)."""
    before = _persisted_ids(spark)
    ck = M.materialize(df)
    (rid,) = _persisted_ids(spark) - before
    return ck, rid


def test_scope_releases_on_exception(spark):
    with pytest.raises(RuntimeError, match="boom"):
        with M.scope():
            _, rid = _materialize_new(spark, spark.range(10))
            assert rid in _persisted_ids(spark)
            raise RuntimeError("boom")
    assert rid not in _persisted_ids(spark)


def test_nested_scopes_release_their_own(spark):
    with M.scope():
        outer, outer_id = _materialize_new(spark, spark.range(5))
        with M.scope():
            _, inner_id = _materialize_new(spark, spark.range(7))
        assert inner_id not in _persisted_ids(spark)
        assert outer_id in _persisted_ids(spark)
        assert outer.count() == 5  # the outer checkpoint is still readable
    assert outer_id not in _persisted_ids(spark)


def test_release_through_a_derived_frame(spark):
    """``release`` handed a projection/filter/join over a checkpoint
    frees the checkpoint's blocks. Any warning is an error here: if a
    Spark upgrade moves the plan accessors, this test fails instead of
    the release degrading to a once-only warning and a silent leak."""
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        with M.scope():
            ck, rid = _materialize_new(spark, spark.range(100))
            derived = (
                ck.selectExpr("id * 2 AS x")
                .filter("x > 10")
                .join(spark.range(50).withColumnRenamed("id", "x"), "x")
            )
            M.release(derived)
            assert rid not in _persisted_ids(spark)
            # an unrelated checkpoint in the same scope is untouched
            other, other_id = _materialize_new(spark, spark.range(3))
            M.release(spark.range(4))
            assert other_id in _persisted_ids(spark)
            assert other.count() == 3


def _source_trees():
    for d, _, names in os.walk(PKG):
        for n in names:
            if n.endswith(".py"):
                path = os.path.join(d, n)
                with open(path, encoding="utf-8") as fh:
                    yield os.path.relpath(path, PKG), ast.parse(fh.read())


def test_one_materialization_mechanism():
    """Source guard over the package: eager checkpoints only inside
    materialize.py, lazy ``.cache()`` only at match_pages' two
    documented sites, and none of the retired mechanisms by name."""
    retired = {"cache_registry", "_release_local_checkpoint", "_RELEASE_WARNED"}
    checkpoints, caches, names = [], [], []
    for rel, tree in _source_trees():
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                if node.func.attr == "localCheckpoint":
                    checkpoints.append(rel)
                elif node.func.attr == "cache" and not node.args:
                    caches.append(rel)
            ident = (
                getattr(node, "id", None)
                or getattr(node, "attr", None)
                or getattr(node, "arg", None)
                or getattr(node, "name", None)
            )
            if ident in retired:
                names.append((rel, ident))
    assert checkpoints == ["materialize.py"]
    assert caches == [os.path.join("operators", "matching.py")] * 2
    assert names == []


# the oracle side: SQL generators, not operators
_ORACLE_SIDE = {"oracles.py", "sqlgen.py", "pagesgen.py", "htmlgen.py"}


def _caller_trees():
    """Every file that calls into the package: the package itself, the
    tests, perfbench and the root scripts."""
    root = os.path.dirname(PKG)
    for d in (PKG, os.path.join(root, "tests"), os.path.join(root, "perfbench")):
        for dirpath, _, names in os.walk(d):
            for n in names:
                if n.endswith(".py"):
                    yield os.path.join(dirpath, n)
    for n in ("bench.py", "__spark_entry__.py"):
        if os.path.exists(os.path.join(root, n)):
            yield os.path.join(root, n)


def test_every_defaulted_parameter_is_passed():
    """Source guard: each defaulted parameter of a module-level package
    function is passed by some call, so a spec constant is read from
    its module constant in the body instead of hiding behind a knob no
    caller turns (the oracle reads the same constant). Calls resolve by
    function name; an argument that only forwards the caller's own
    unset parameter does not count, iterated to a fixed point."""
    trees = {}
    for path in _caller_trees():
        with open(path, encoding="utf-8") as fh:
            trees[path] = ast.parse(fh.read())
    defaulted = {}  # name -> [(param, positional index or None)]
    for path, tree in trees.items():
        rel = os.path.relpath(path, PKG)
        if rel.startswith("..") or rel in _ORACLE_SIDE:
            continue
        for fn in tree.body:
            if isinstance(fn, ast.FunctionDef):
                a = fn.args
                pos = a.posonlyargs + a.args
                first = len(pos) - len(a.defaults)
                params = [(p.arg, i) for i, p in enumerate(pos) if i >= first]
                params += [
                    (p.arg, None)
                    for p, d in zip(a.kwonlyargs, a.kw_defaults)
                    if d is not None
                ]
                if params:
                    defaulted[fn.name] = params
    calls = []  # (enclosing module-level function, callee, call node)
    for tree in trees.values():
        for top in tree.body:
            encl = top.name if isinstance(top, ast.FunctionDef) else None
            for node in ast.walk(top):
                if isinstance(node, ast.Call):
                    f = node.func
                    name = getattr(f, "id", None) or getattr(f, "attr", None)
                    if name in defaulted:
                        calls.append((encl, name, node))
    unset = {(n, p) for n, ps in defaulted.items() for p, _ in ps}
    while True:
        passed = set()
        for encl, name, call in calls:
            kw = {k.arg: k.value for k in call.keywords}
            spread = None in kw or any(
                isinstance(x, ast.Starred) for x in call.args
            )
            for p, i in defaulted[name]:
                arg = kw.get(p)
                if arg is None and i is not None and i < len(call.args):
                    arg = call.args[i]
                forwarded = isinstance(arg, ast.Name) and (encl, arg.id) in unset
                if spread or (arg is not None and not forwarded):
                    passed.add((name, p))
        still = unset - passed
        if still == unset:
            break
        unset = still
    assert sorted(unset) == []
