"""Source lint: row-level DML stays one kernel.

``SnapshotTable._cow_dml`` is the one copy-on-write DML path: it derives
the scope, locates the touched files, rewrites them in one tagged write
and publishes through the write-serializable commit. Every public DML
method is a clause list over it. This lint parses ``sources/snapshots.py``
without executing it and keeps a second copy from coming back:

- only ``_publish_cow_serializable`` calls ``_publish_cow`` (a direct call
  skips conflict classification and rebase);
- only ``_cow_dml`` builds the ``input_file_name`` file locate (a join
  whose input carries ``input_file_name()``);
- only ``_cow_dml``, ``replace_where``, ``delete_where_mor`` and
  ``compact_small_files`` call ``_publish_cow_serializable``.
"""

from __future__ import annotations

import ast
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SNAPSHOTS = os.path.join(ROOT, "serverless_mapreduce_spark", "sources", "snapshots.py")

KERNEL = "_cow_dml"
#: callee -> the SnapshotTable methods allowed to call it
CALLERS = {
    "_publish_cow": {"_publish_cow_serializable"},
    "_publish_cow_serializable": {
        KERNEL,
        "replace_where",
        "delete_where_mor",
        "compact_small_files",
    },
}


def _is_file_locate(node: ast.Call) -> bool:
    """A ``.join(...)`` whose receiver evaluates ``input_file_name()``."""
    if not (isinstance(node.func, ast.Attribute) and node.func.attr == "join"):
        return False
    for sub in ast.walk(node.func.value):
        if isinstance(sub, ast.Call):
            f = sub.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name == "input_file_name":
                return True
    return False


def violations(source: str) -> list[str]:
    """``rule method:line`` for each breach inside ``class SnapshotTable``."""
    out = []
    for cls in ast.parse(source).body:
        if not (isinstance(cls, ast.ClassDef) and cls.name == "SnapshotTable"):
            continue
        for fn in cls.body:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(fn):
                if not isinstance(node, ast.Call):
                    continue
                if isinstance(node.func, ast.Attribute):
                    allowed = CALLERS.get(node.func.attr)
                    if allowed is not None and fn.name not in allowed:
                        out.append(f"calls {node.func.attr} {fn.name}:{node.lineno}")
                if _is_file_locate(node) and fn.name != KERNEL:
                    out.append(f"file locate {fn.name}:{node.lineno}")
    return out


def _table(method: str, body: str) -> str:
    lines = "\n".join(f"        {line}" for line in body.splitlines())
    return f"class SnapshotTable:\n    def {method}(self):\n{lines}\n"


@pytest.mark.parametrize(
    ("method", "body", "hit"),
    [
        ("delete_keys", "return self._publish_cow(v, kept, new, 'delete', s)", "calls _publish_cow"),
        ("merge_into", "return self._publish_cow_serializable(v, kept, new, 'merge', s)",
         "calls _publish_cow_serializable"),
        ("merge_upsert", "SnapshotTable._publish_cow(self, v, kept, new, 'merge', s)", "calls _publish_cow"),
        (
            "delete_keys",
            "hits = (src.withColumn('_file', F.input_file_name())\n"
            "        .join(gated, keys, 'left_semi').select('_file').distinct().collect())",
            "file locate",
        ),
        ("merge_upsert", "df.select(input_file_name().alias('f')).join(k, ['k'])", "file locate"),
    ],
)
def test_lint_catches_a_second_dml_path(method, body, hit):
    found = violations(_table(method, body))
    assert len(found) == 1 and found[0].startswith(f"{hit} {method}:"), found


@pytest.mark.parametrize(
    ("method", "body"),
    [
        ("_publish_cow_serializable", "return self._publish_cow(base, kept, new, mode, sch, extra)"),
        ("_cow_dml", "return self._publish_cow_serializable(v, kept, new, mode, s)"),
        ("replace_where", "return self._publish_cow_serializable(v, kept, new, 'replace', s)"),
        ("delete_where_mor", "return self._publish_cow_serializable(v, kept, new, 'delete-mor', s)"),
        ("compact_small_files", "return self._publish_cow_serializable(v, kept, new, 'compact', s)"),
        ("_cow_dml", "src.withColumn('_file', F.input_file_name()).join(gated, keys, 'left_semi')"),
        ("_write_data", "rows = df.groupBy(F.input_file_name().alias('f')).agg(F.count(F.lit(1)))"),
        ("read", "return left.join(right, ['k'], 'left_anti')"),
        ("delete_where", "return self._cow_dml(spark, 'delete', clauses)"),
    ],
)
def test_lint_passes_the_kernel_shape(method, body):
    assert violations(_table(method, body)) == []


def test_lint_ignores_code_outside_the_table_class():
    src = "def race(t, *a, **k):\n    return SnapshotTable._publish_cow(t, *a, **k)\n"
    assert violations(src) == []


def test_snapshot_table_has_one_dml_kernel():
    with open(SNAPSHOTS, encoding="utf-8") as fh:
        found = violations(fh.read())
    assert not found, (
        "row-level DML must be a clause list over SnapshotTable._cow_dml, "
        f"not a second copy of its pipeline: {found}"
    )
