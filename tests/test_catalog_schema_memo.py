"""The catalog's schema memo (``catalog.table_schema``): a repeat read of
an unchanged fixture runs no Spark job, and any change to the file, the
directory's files or a type-mapping conf misses the memo, so a read never
sees a stale schema. Every test works on its own copies of sf0.001
fixtures under ``tmp_path``.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from serverless_mapreduce_spark import catalog


def _jobs(spark, fn) -> tuple[int, object]:
    """Run ``fn`` in a fresh job group; (Spark jobs it ran, its result)."""
    sc = spark.sparkContext
    group = f"schema-memo-{uuid.uuid4().hex[:12]}"
    sc.setJobGroup(group, "schema memo test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _copy(sf_dir: str, tmp_path, *names: str) -> str:
    sf = tmp_path / "sf0.001"
    sf.mkdir(exist_ok=True)
    for n in names:
        shutil.copy(os.path.join(sf_dir, f"{n}.parquet"), sf / f"{n}.parquet")
    return str(sf)


def _rewrite(path: str, table: pa.Table) -> None:
    """Overwrite ``path`` and make sure its mtime moves even on a coarse
    clock (the size alone may not change)."""
    before = os.stat(path).st_mtime_ns if os.path.exists(path) else 0
    pq.write_table(table, path)
    if os.stat(path).st_mtime_ns == before:
        os.utime(path, ns=(before + 1_000_000, before + 1_000_000))


def test_repeat_read_of_unchanged_file_runs_no_job(spark, tmp_path, sf_dir):
    sf = _copy(sf_dir, tmp_path, "nation")
    first, df1 = _jobs(spark, lambda: catalog.table(spark, sf, "nation"))
    second, df2 = _jobs(spark, lambda: catalog.table(spark, sf, "nation"))
    assert first >= 1, "a fresh file must run schema inference"
    assert second == 0
    assert df2.schema == df1.schema
    assert sorted(df2.collect()) == sorted(df1.collect())


def test_rewritten_file_shows_new_schema_and_values(spark, tmp_path, sf_dir):
    sf = _copy(sf_dir, tmp_path, "nation")
    path = os.path.join(sf, "nation.parquet")
    old = catalog.table(spark, sf, "nation")
    assert dict(old.dtypes)["n_nationkey"] in ("int", "bigint")
    assert "n_added" not in old.columns

    t = pq.read_table(path)
    t = t.set_column(
        t.schema.get_field_index("n_nationkey"),
        "n_nationkey",
        pc.cast(t["n_nationkey"], pa.string()),
    ).append_column("n_added", pa.array([7] * t.num_rows, pa.int64()))
    _rewrite(path, t)

    new = catalog.table(spark, sf, "nation")
    assert dict(new.dtypes)["n_nationkey"] == "string"
    assert dict(new.dtypes)["n_added"] == "bigint"
    rows = new.select("n_nationkey", "n_added").collect()
    assert len(rows) == t.num_rows
    assert {r.n_added for r in rows} == {7}
    assert sorted(r.n_nationkey for r in rows) == sorted(t["n_nationkey"].to_pylist())


def test_nanos_as_long_toggle_never_serves_a_stale_schema(spark, tmp_path):
    sf = tmp_path / "sf"
    sf.mkdir()
    nanos = [1_700_000_000_000_000_123, 1_700_000_001_000_000_456]
    pq.write_table(
        pa.table({"o_orderkey": [1, 2], "ts": pa.array(nanos, pa.timestamp("ns"))}),
        sf / "orders.parquet",
    )
    ss = spark.newSession()  # own conf: the shared session stays untouched

    ss.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = catalog.table(ss, str(sf), "orders")
    assert dict(df.dtypes)["ts"] == "bigint"
    assert sorted(r.ts for r in df.collect()) == nanos

    # without nanosAsLong Spark rejects the column: a memo hit would have
    # served the bigint schema instead
    ss.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
        catalog.table(ss, str(sf), "orders")

    ss.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert dict(catalog.table(ss, str(sf), "orders").dtypes)["ts"] == "bigint"


def test_binary_as_string_toggle_gives_each_setting_its_dtype(spark, tmp_path):
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": pa.array([b"a", b"b"], pa.binary())}),
        sf / "region.parquet",
    )
    ss = spark.newSession()
    for value, dtype in (("false", "binary"), ("true", "string"), ("false", "binary")):
        ss.conf.set("spark.sql.parquet.binaryAsString", value)
        assert dict(catalog.table(ss, str(sf), "region").dtypes)["r_name"] == dtype


def test_added_part_file_misses_the_memo(spark, tmp_path, sf_dir):
    src = pq.read_table(os.path.join(sf_dir, "orders.parquet"))
    half = src.num_rows // 2
    sf = tmp_path / "sf"
    table_dir = sf / "orders.parquet"
    table_dir.mkdir(parents=True)
    pq.write_table(src.slice(0, half), table_dir / "part-00000.parquet")

    catalog.table(spark, str(sf), "orders")
    hit, df = _jobs(spark, lambda: catalog.table(spark, str(sf), "orders"))
    assert hit == 0
    assert df.count() == half

    pq.write_table(src.slice(half), table_dir / "part-00001.parquet")
    miss, df = _jobs(spark, lambda: catalog.table(spark, str(sf), "orders"))
    assert miss >= 1, "a new part file must re-run schema inference"
    assert df.count() == src.num_rows


def test_memo_schema_equals_inferred_schema_for_every_fixture(spark, sf_dir):
    for name in catalog.TABLES:
        memo = catalog.table_schema(spark, sf_dir, name)
        assert memo == spark.read.parquet(f"{sf_dir}/{name}.parquet").schema, name


def test_path_that_is_not_local_is_read_without_the_memo(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        catalog.table(spark, str(tmp_path / "missing"), "region")
    assert not any(k[0].startswith(str(tmp_path)) for k in catalog._SCHEMAS)


def test_repeat_read_after_touch_only_reinfers(spark, tmp_path, sf_dir):
    """A touch without a content change still misses: mtime is part of
    the identity, so the memo never has to reason about content."""
    sf = _copy(sf_dir, tmp_path, "region")
    path = os.path.join(sf, "region.parquet")
    catalog.table(spark, sf, "region")
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    n, _ = _jobs(spark, lambda: catalog.table(spark, sf, "region"))
    assert n >= 1
