"""Source lint: only ``catalog.py`` reads a fixture table's parquet.

``catalog.table`` / ``catalog.table_schema`` read each fixture against the
schema memo; a module that calls ``spark.read.parquet(f"{sf_dir}/x.parquet")``
itself pays a footer-scan inference job on every call and can drift from
the catalog's read (the ``events.ts`` normalization, nanosAsLong). Like the
plan lint, this inspects without executing: it parses every engine module,
``bench.py``, ``__spark_entry__.py`` and ``tools/``, and flags a batch
parquet read whose path names a fixture table (``<table>.parquet`` for a
name in ``catalog.TABLES``) or builds one from a variable
(``f"{name}.parquet"``, ``name + ".parquet"``). Streaming reads
(``readStream``) bind their schema up front and are out of scope. Tests
are exempt: they read fixtures directly to check the catalog.
"""

from __future__ import annotations

import ast
import os
import re

import pytest

from serverless_mapreduce_spark import catalog

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "serverless_mapreduce_spark")
CATALOG = os.path.join(PACKAGE, "catalog.py")

_FIXTURE = re.compile(r"(?:^|/)(?:%s)\.parquet$" % "|".join(catalog.TABLES))


def _sources() -> list[str]:
    out = [os.path.join(ROOT, f) for f in ("bench.py", "__spark_entry__.py")]
    for top in (PACKAGE, os.path.join(ROOT, "tools")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            out += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    return [p for p in out if os.path.exists(p) and p != CATALOG]


def _is_batch_parquet_read(call: ast.Call) -> bool:
    """``<x>.read[.<option>(...)...].parquet(...)``."""
    func = call.func
    if not (isinstance(func, ast.Attribute) and func.attr == "parquet"):
        return False
    node = func.value
    while True:
        if isinstance(node, ast.Call):
            node = node.func
        elif isinstance(node, ast.Attribute):
            if node.attr == "read":
                return True
            node = node.value
        else:
            return False


def _names_fixture(arg: ast.AST) -> bool:
    """True when ``arg`` spells a fixture path: a literal ending in
    ``<table>.parquet``, or a ``.parquet`` suffix on a computed name."""
    for node in ast.walk(arg):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            if _FIXTURE.search(node.value):
                return True
        if isinstance(node, ast.JoinedStr):
            parts = node.values
            for prev, nxt in zip(parts, parts[1:]):
                if (
                    isinstance(prev, ast.FormattedValue)
                    and isinstance(nxt, ast.Constant)
                    and str(nxt.value).startswith(".parquet")
                ):
                    return True
        if (
            isinstance(node, ast.BinOp)
            and isinstance(node.op, ast.Add)
            and isinstance(node.right, ast.Constant)
            and str(node.right.value).startswith(".parquet")
        ):
            return True
    return False


def fixture_reads(source: str) -> list[int]:
    """Line numbers of direct fixture reads in ``source``."""
    hits = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Call) and _is_batch_parquet_read(node):
            if any(_names_fixture(a) for a in node.args):
                hits.append(node.lineno)
    return sorted(hits)


@pytest.mark.parametrize(
    "snippet",
    [
        'spark.read.parquet(f"{sf_dir}/lineitem.parquet")',
        'spark.read.parquet(sf_dir + "/orders.parquet")',
        'spark.read.option("mergeSchema", "true").parquet(f"{d}/{t}.parquet")',
        'spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))',
        'spark.read.parquet(os.path.join(sf_dir, name + ".parquet"))',
        'spark.read.schema(s).parquet("/data/sf1/events.parquet")',
    ],
)
def test_lint_catches_direct_fixture_reads(snippet):
    assert fixture_reads(snippet) == [1]


@pytest.mark.parametrize(
    "snippet",
    [
        "spark.read.parquet(out_dir)",
        'spark.read.parquet(os.path.join(work, "compacted"))',
        'spark.readStream.schema(s).parquet(_stream_dir(sf_dir, "events"))',
        'os.stat(os.path.join(sf_dir, f"{table_name}.parquet"))',
        'df.write.parquet(f"{out}/lineitem.parquet")',
    ],
)
def test_lint_passes_other_reads(snippet):
    assert fixture_reads(snippet) == []


def test_only_catalog_reads_fixture_tables():
    offenders = []
    for path in _sources():
        with open(path, encoding="utf-8") as fh:
            lines = fixture_reads(fh.read())
        offenders += [f"{os.path.relpath(path, ROOT)}:{n}" for n in lines]
    assert not offenders, (
        "fixture tables must be read through catalog.table / "
        f"catalog.table_schema (the schema memo): {offenders}"
    )
