"""Source lint: build-once state lives only in ``artifacts.py``.

A maintained artifact (a table or frame several queries share) goes through
``@artifact`` / ``@saved_table``, whose key includes the identity of the
input files. A module that keeps its own memo dict, or its own
``tableExists`` → ``saveAsTable`` check, can serve a result built from a
fixture that has since been rewritten. Like the fixture-read lint, this
parses without executing: every module under ``operators/`` and
``sources/`` is checked for

- a call to ``saveAsTable`` or ``tableExists``;
- a dict bound at module level that a function stores into (subscript
  assignment, ``setdefault`` or ``update``): the hand-rolled memo.
"""

from __future__ import annotations

import ast
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "serverless_mapreduce_spark")

#: Module-level dicts a function may write: telemetry that nothing reads
#: back to skip work, so it is not a memo.
NOT_MEMOS = {("operators/graph.py", "LAST_CC_ROUNDS")}

_DICT_CALLS = {"dict", "defaultdict", "OrderedDict"}


def _sources() -> list[str]:
    out = []
    for sub in ("operators", "sources"):
        for d, dirs, files in os.walk(os.path.join(PACKAGE, sub)):
            dirs.sort()
            out += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    return out


def _is_dict(value: ast.AST | None) -> bool:
    if isinstance(value, (ast.Dict, ast.DictComp)):
        return True
    if isinstance(value, ast.Call):
        f = value.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        return name in _DICT_CALLS
    return False


def _module_dicts(tree: ast.Module) -> set[str]:
    names = set()
    for node in tree.body:
        if isinstance(node, ast.Assign) and _is_dict(node.value):
            names |= {t.id for t in node.targets if isinstance(t, ast.Name)}
        elif isinstance(node, ast.AnnAssign) and _is_dict(node.value):
            if isinstance(node.target, ast.Name):
                names.add(node.target.id)
    return names


def offences(source: str, exempt: frozenset[str] = frozenset()) -> list[tuple[int, str]]:
    """(line, what) for each build-once pattern in ``source``."""
    tree = ast.parse(source)
    dicts = _module_dicts(tree) - exempt
    hits = []
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        for node in ast.walk(fn):
            targets = []
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, (ast.AugAssign, ast.AnnAssign)):
                targets = [node.target]
            for t in targets:
                if (
                    isinstance(t, ast.Subscript)
                    and isinstance(t.value, ast.Name)
                    and t.value.id in dicts
                ):
                    hits.append((node.lineno, f"stores into {t.value.id}"))
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                owner = node.func.value
                if (
                    node.func.attr in ("setdefault", "update")
                    and isinstance(owner, ast.Name)
                    and owner.id in dicts
                ):
                    hits.append((node.lineno, f"stores into {owner.id}"))
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("saveAsTable", "tableExists")
        ):
            hits.append((node.lineno, f"calls {node.func.attr}"))
    return sorted(set(hits))


@pytest.mark.parametrize(
    "snippet",
    [
        "_MEMO: dict = {}\ndef f(k):\n    _MEMO[k] = 1",
        "_MEMO = {}\ndef f(k):\n    if k not in _MEMO:\n        _MEMO[k] = 1",
        "_MEMO = dict()\ndef f(k):\n    return _MEMO.setdefault(k, 1)",
        "_MEMO = {}\ndef f(k):\n    _MEMO.update({k: 1})",
        "def f(df):\n    df.write.bucketBy(8, 'a').saveAsTable('t')",
        "def f(spark):\n    return spark.catalog.tableExists('t')",
    ],
)
def test_lint_catches_build_once_patterns(snippet):
    assert len(offences(snippet)) == 1


@pytest.mark.parametrize(
    "snippet",
    [
        "SPEC = {'a': 1}\ndef f():\n    return SPEC['a']",
        "def f():\n    seen = {}\n    seen['a'] = 1\n    return seen",
        "_MEMO = {}\nclass C:\n    _MEMO = {}\n_MEMO_ALIAS = _MEMO",
        "def f(df):\n    df.write.parquet('out')",
        "ROUNDS: dict = {}\ndef f():\n    ROUNDS['star'] = 3",
    ],
)
def test_lint_passes_other_code(snippet):
    assert offences(snippet, exempt=frozenset({"ROUNDS"})) == []


def test_no_build_once_state_outside_artifacts():
    found = []
    for path in _sources():
        rel = os.path.relpath(path, PACKAGE)
        exempt = frozenset(n for m, n in NOT_MEMOS if m == rel)
        with open(path, encoding="utf-8") as fh:
            found += [f"{rel}:{n} {what}" for n, what in offences(fh.read(), exempt)]
    assert not found, (
        "build-once state belongs in artifacts.py (@artifact / @saved_table): "
        f"{found}"
    )
