"""Guards for the scripts in tools/ and the benchmark harness in
perfbench/: every engine or tools name a script imports still exists
and every keyword it passes to an engine function is still accepted
(no JVM needed), and tools/ab.py's end-to-end contract and mismatch
verdict."""

from __future__ import annotations

import ast
import glob
import importlib
import inspect
import json
import os
import subprocess
import sys
import types

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))
PERFBENCH = sorted(glob.glob(os.path.join(REPO, "perfbench", "*.py")))
ROOTS = ("etl_project_spark", "tools", "tests")


def _resolve(module: str, name: str):
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    return importlib.import_module(f"{module}.{name}")


def _dict_keys(tree: ast.Module) -> dict[str, list[str]]:
    """Module-level ``NAME = {"kw": ...}`` literals, for ``**NAME``."""
    out = {}
    for node in tree.body:
        if (
            isinstance(node, ast.Assign)
            and isinstance(node.value, ast.Dict)
            and all(isinstance(k, ast.Constant) for k in node.value.keys)
        ):
            for target in node.targets:
                if isinstance(target, ast.Name):
                    out[target.id] = [k.value for k in node.value.keys]
    return out


def _check_engine_names(path: str) -> None:
    """Each ``from <root>… import name`` (at any depth) resolves, each
    ``X.attr`` on a module alias bound that way exists, and each call
    to a function imported that way passes only keywords its
    signature accepts (``**NAME`` of a module-level dict literal
    included)."""
    tree = ast.parse(open(path).read(), filename=path)
    modules: dict[str, types.ModuleType] = {}
    funcs: dict[str, object] = {}
    for node in ast.walk(tree):
        if not isinstance(node, ast.ImportFrom) or not node.module:
            continue
        if node.module.split(".")[0] not in ROOTS:
            continue
        for alias in node.names:
            try:
                obj = _resolve(node.module, alias.name)
            except ImportError:
                pytest.fail(f"line {node.lineno}: {node.module}.{alias.name} is gone")
            if isinstance(obj, types.ModuleType):
                modules[alias.asname or alias.name] = obj
            elif inspect.isfunction(obj):
                funcs[alias.asname or alias.name] = obj
    kwargs = _dict_keys(tree)
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
        ):
            assert hasattr(modules[node.value.id], node.attr), (
                f"line {node.lineno}: {node.value.id}.{node.attr} is gone"
            )
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Name) and f.id in funcs:
            fn = funcs[f.id]
        elif (
            isinstance(f, ast.Attribute)
            and isinstance(f.value, ast.Name)
            and f.value.id in modules
            and inspect.isfunction(getattr(modules[f.value.id], f.attr, None))
        ):
            fn = getattr(modules[f.value.id], f.attr)
        else:
            continue
        params = inspect.signature(fn).parameters
        if any(p.kind is p.VAR_KEYWORD for p in params.values()):
            continue
        passed = [kw.arg for kw in node.keywords if kw.arg]
        for kw in node.keywords:
            if kw.arg is None and isinstance(kw.value, ast.Name):
                passed += kwargs.get(kw.value.id, [])
        missing = [k for k in passed if k not in params]
        assert not missing, (
            f"line {node.lineno}: {fn.__name__} no longer takes {missing}"
        )


@pytest.mark.parametrize("path", TOOLS, ids=os.path.basename)
def test_tool_imports_resolve(path):
    _check_engine_names(path)


@pytest.mark.parametrize("path", PERFBENCH, ids=os.path.basename)
def test_perfbench_engine_calls_resolve(path):
    _check_engine_names(path)


def test_frame_digest_agrees_with_frames_match():
    from decimal import Decimal as D

    import pandas as pd

    from tools.compare_frames import canon, frame_digest, frames_match

    def frame(x, s, d):
        return canon(pd.DataFrame({"x": x, "s": s, "d": d}))

    a = frame([1.0, 0.0, None], ["a", None, "b"], [D("1.5"), D("0"), None])
    same = frame([1.0, -0.0, None], ["a", None, "b"], [D("1.50"), D("0.00"), None])
    assert frames_match(a, same)
    for b in (
        same,
        frame([1.0, 0.0, 2.0], ["a", None, "b"], [D("1.5"), D("0"), None]),
        frame([1.0, 0.0, None], ["a", "x", "b"], [D("1.5"), D("0"), None]),
        frame([1.0, 0.0, None], ["a", None, "b"], [D("1.51"), D("0"), None]),
    ):
        assert (frame_digest(a) == frame_digest(b)) == frames_match(a, b)


class _FakeArm:
    def __init__(self, ref: str, digest: str) -> None:
        self.ref, self.digest = ref, digest

    def call(self, op: str, **_req) -> dict:
        if op == "warm":
            return {"digest": self.digest, "jobs": 1, "exchanges": 0, "joins": 0}
        return {"s": 0.1}


def test_ab_digest_mismatch_fails(capsys):
    from tools.ab import compare

    arms = {"A": _FakeArm("x", "d1"), "B": _FakeArm("y", "d2")}
    assert compare(arms, ["q"], None) == 1
    line = json.loads(capsys.readouterr().out)
    assert line["verdict"] == "mismatch"
    assert "reps_s" not in line["A"]

    arms["B"].digest = "d1"
    assert compare(arms, ["q"], None) == 0
    line = json.loads(capsys.readouterr().out)
    assert line["verdict"] == "equal"
    assert len(line["A"]["reps_s"]) == len(line["B"]["reps_s"]) == 3


def test_ab_end_to_end_same_checkout(tmp_path):
    from tests.conftest import SF_SMOKE

    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=SF_SMOKE,
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "ab.py"),
         "--plans", str(tmp_path), ".", ".", "q03_shipping_priority"],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.splitlines()
    assert len(lines) == 1
    line = json.loads(lines[0])
    assert line["verdict"] == "equal"
    assert line["A"]["digest"] == line["B"]["digest"]
    for arm in ("A", "B"):
        assert line[arm]["median_s"] > 0
        assert len(line[arm]["reps_s"]) == 3
        assert line[arm]["jobs"] > 0 and line[arm]["exchanges"] > 0
        assert (tmp_path / f"q03_shipping_priority_{arm}.txt").exists()
