"""typedkv Python DataSource: pushdown contract, split packing, decode."""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import EqualTo, GreaterThan, InputPartition, IsNotNull

from serverless_mapreduce_spark.sources.pyds_kv import (
    TypedKVReader,
    register,
)
from serverless_mapreduce_spark.sources.splits import SplitConf

SPEC = "id:N:bigint,name:S:string,score:N:double"


def _rows(reader):
    """Flatten the reader's Arrow RecordBatches to plain tuples."""
    out = []
    for p in reader.partitions():
        for batch in reader.read(p):
            cols = [c.to_pylist() for c in batch.columns]
            out.extend(zip(*cols))
    return out


def _write(path, items):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-0.jsonl"), "w") as fh:
        for it in items:
            fh.write(json.dumps(it) + "\n")


def test_push_filters_partitions_accepted_and_returned(tmp_path):
    d = str(tmp_path)
    _write(d, [])
    r = TypedKVReader({"path": d, "columns": SPEC})
    eq = EqualTo(("name",), "x")
    gt = GreaterThan(("id",), 5)              # unsupported → returned
    nn = IsNotNull(("score",))
    unk = EqualTo(("not_a_col",), 1)          # undeclared column → returned
    leftover = list(r.pushFilters([eq, gt, nn, unk]))
    assert leftover == [gt, unk]
    assert ("name", "x") in r._pushed and ("score", None) in r._pushed


def test_reader_applies_pushed_filters_and_decodes_nulls(tmp_path):
    d = str(tmp_path)
    _write(
        d,
        [
            {"id": {"N": "1"}, "name": {"S": "x"}, "score": {"N": "1.5"}},
            {"id": {"N": "2"}, "name": {"S": "y"}, "score": {"N": "2.5"}},
            {"id": {"N": "3"}, "name": {"S": "x"}},           # score missing → NULL
            {"id": {"N": "4"}, "name": {"B": "blob"}},        # wrong tag → NULL
        ],
    )
    r = TypedKVReader({"path": d, "columns": SPEC})
    list(r.pushFilters([EqualTo(("name",), "x")]))
    rows = _rows(r)
    # name='x' keeps ids 1 and 3; id 4's name decodes NULL (wrong tag) and a
    # pushed equality never matches NULL
    assert rows == [(1, "x", 1.5), (3, "x", None)]


def test_files_packed_into_splits(tmp_path):
    """One plan unit per wire file (markers ignored), packed by Spark's
    split rule: six tiny files under minPartitionNum=2 fill two splits
    that hold every file once, in name order, and read back every row."""
    d = str(tmp_path)
    for i in range(6):
        with open(os.path.join(d, f"part-{i}.jsonl"), "w") as fh:
            fh.write(json.dumps({"id": {"N": str(i)}, "name": {"S": "a"},
                                 "score": {"N": "0.0"}}) + "\n")
    with open(os.path.join(d, "_SUCCESS"), "w") as fh:     # marker ignored
        fh.write("")
    r = TypedKVReader({"path": d, "columns": SPEC}, SplitConf(min_partitions=2))
    plan = [u.value for u in r.file_plan()]
    assert plan == [os.path.join(d, f"part-{i}.jsonl") for i in range(6)]
    parts = r.partitions()
    assert len(parts) == 2 and all(isinstance(p, InputPartition) for p in parts)
    assert [f for p in parts for f in p.value] == plan
    assert [row[0] for row in _rows(r)] == list(range(6))


def test_end_to_end_scan_with_spark(spark, tmp_path):
    d = str(tmp_path / "kv")
    _write(
        d,
        [
            {"id": {"N": "1"}, "name": {"S": "a"}, "score": {"N": "0.25"}},
            {"id": {"N": "2"}, "name": {"S": "b"}, "score": {"N": "0.5"}},
        ],
    )
    ss = spark.newSession()
    ss.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register(ss)
    df = ss.read.format("typedkv").option("columns", SPEC).load(d)
    got = {(r.id, r.name, r.score) for r in df.filter("name = 'b'").collect()}
    assert got == {(2, "b", 0.5)}


def test_reader_tolerates_blank_lines(tmp_path):
    # the per-row reader's `if not line: continue` contract, preserved
    # across the Arrow rewrite
    d = str(tmp_path)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "part-0.jsonl"), "w") as fh:
        fh.write('\n{"id": {"N": "1"}, "name": {"S": "x"}, "score": {"N": "0.5"}}\n\n'
                 '{"id": {"N": "2"}, "name": {"S": "y"}, "score": {"N": "1.5"}}\n\n\n')
    r = TypedKVReader({"path": d, "columns": SPEC})
    assert _rows(r) == [(1, "x", 0.5), (2, "y", 1.5)]


def test_reader_tolerates_whitespace_lines_and_crlf(tmp_path):
    # the per-row reader skipped any line whose strip() is empty, and
    # tolerated CRLF endings — whitespace-only lines and \r must not
    # reach pyarrow.json
    d = str(tmp_path)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "part-0.jsonl"), "wb") as fh:
        fh.write(b'  \r\n{"id": {"N": "1"}, "name": {"S": "x"}, "score": {"N": "0.5"}}\r\n'
                 b' \t \n{"id": {"N": "2"}, "name": {"S": "y"}, "score": {"N": "1.5"}}\r\n')
    r = TypedKVReader({"path": d, "columns": SPEC})
    assert _rows(r) == [(1, "x", 0.5), (2, "y", 1.5)]
