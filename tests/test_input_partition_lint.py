"""Source lint: only ``sources/splits.py`` constructs ``InputPartition``.

A Python task costs a fixed ~60 ms, so a Python DataSource that returns
one ``InputPartition`` per file pays that per file. Every reader under
``serverless_mapreduce_spark/`` plans units and hands them to
``splits.pack``, which groups them by Spark's split rule. This lint keeps
per-file partition lists from coming back: it parses every package module
without executing it and flags a call to ``InputPartition`` (under any
imported alias) or a class deriving from it anywhere but the packer.
Tests are exempt: they build single-unit partitions to read one file.
"""

from __future__ import annotations

import ast
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "serverless_mapreduce_spark")
PACKER = os.path.join(PACKAGE, "sources", "splits.py")


def _sources() -> list[str]:
    out = []
    for d, dirs, files in os.walk(PACKAGE):
        dirs.sort()
        out += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    return [p for p in out if p != PACKER]


def _is_partition_ref(node: ast.AST, aliases: set[str]) -> bool:
    if isinstance(node, ast.Name):
        return node.id in aliases
    return isinstance(node, ast.Attribute) and node.attr == "InputPartition"


def partition_constructions(source: str) -> list[int]:
    """Line numbers where ``source`` builds an ``InputPartition`` or
    subclasses it."""
    tree = ast.parse(source)
    aliases = {"InputPartition"}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            aliases |= {
                a.asname for a in node.names if a.name == "InputPartition" and a.asname
            }
    hits = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and _is_partition_ref(node.func, aliases):
            hits.append(node.lineno)
        elif isinstance(node, ast.ClassDef) and any(
            _is_partition_ref(b, aliases) for b in node.bases
        ):
            hits.append(node.lineno)
    return sorted(hits)


@pytest.mark.parametrize(
    ("snippet", "line"),
    [
        ("InputPartition(path)", 1),
        ("parts = [InputPartition((p, 'insert', v, ts)) for p in files]", 1),
        ("out.append(datasource.InputPartition(f))", 1),
        ("from pyspark.sql.datasource import InputPartition as P\nx = 1\nP(f)", 3),
        ("class FilePart(InputPartition):\n    pass", 1),
    ],
)
def test_lint_catches_partition_construction(snippet, line):
    assert partition_constructions(snippet) == [line]


@pytest.mark.parametrize(
    "snippet",
    [
        "from pyspark.sql.datasource import InputPartition",
        "def partitions(self) -> list[InputPartition]:\n    return pack(self.file_plan(), conf)",
        "for path in partition.value:\n    yield path",
        "assert isinstance(p, InputPartition)",
        "planned((e['path'], appl), e['path'], e.get('bytes'))",
    ],
)
def test_lint_passes_other_uses(snippet):
    assert partition_constructions(snippet) == []


def test_only_the_packer_builds_input_partitions():
    offenders = []
    for path in _sources():
        with open(path, encoding="utf-8") as fh:
            lines = partition_constructions(fh.read())
        offenders += [f"{os.path.relpath(path, ROOT)}:{n}" for n in lines]
    assert not offenders, (
        "plan units and return splits.pack(plan, conf) instead of building "
        f"InputPartition per file: {offenders}"
    )
