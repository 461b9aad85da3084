"""Copy-on-write DML against a DuckDB-evaluated model.

Every row-level DML method of ``SnapshotTable`` (``delete_where``,
``update_where``, ``merge_upsert``, ``merge_into``, ``delete_keys``) runs
over the copy-on-write kernel. The property test drives random sequences
of them over small tables (2-4 files, NULL keys, partitioned or not, a
renamed column or not, change feed on or off) and after each call
compares ``read()`` and ``read_changes()`` with a model that evaluates
every SQL condition and SET expression in DuckDB and routes the rows in
plain Python. A call that acts on no row publishes no version.

Two regressions ride along: a zero-match DML must not publish a
data-changing version under a subscribed plain stream, and ``delete_keys``
rebases over a disjoint concurrent append like every other keyed DML.
"""

from __future__ import annotations

import os
import tempfile

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from serverless_mapreduce_spark.sources.snapshot_stream import read_stream
from serverless_mapreduce_spark.sources.snapshots import SnapshotTable

SCHEMA = "k BIGINT, p STRING, v BIGINT"

#: target-row predicates; ``{v}`` is the value column's logical name
CONDS = [
    "{v} > 5",
    "{v} <= 3",
    "k % 3 = 0",
    "p = 'a'",
    "{v} IS NULL",
    "k IS NULL",
    "{v} > 4 AND p = 'b'",
    "k < 4 OR {v} = 7",
    "k > 100",
]
#: predicates that come with a planning scope the rows they match lie in
SCOPED = [
    ("k <= 5", {"prune": ("k", 0, 5)}),
    ("p = 'a' AND {v} > 2", {"partition_eq": {"p": "a"}}),
]
SETS = ["{v} + 1", "{v} * 2", "k", "NULL", "7"]

KEYS = range(20)
vals = st.one_of(st.none(), st.integers(0, 9))
parts = st.sampled_from(["a", "b"])


@st.composite
def batch(draw, min_size=0, max_size=20, null_keys=2):
    """Rows with distinct non-NULL keys plus up to ``null_keys`` NULL keys."""
    ks = draw(st.permutations(KEYS))[: draw(st.integers(min_size, max_size))]
    ks += [None] * draw(st.integers(0, null_keys))
    return [(k, draw(parts), draw(vals)) for k in ks]


cond = st.sampled_from(CONDS)
opt_cond = st.one_of(st.none(), cond)

CALLS = {
    "delete_where": st.tuples(st.just("delete_where"), st.sampled_from(CONDS + SCOPED)),
    "update_where": st.tuples(
        st.just("update_where"),
        st.sampled_from(CONDS + SCOPED),
        st.sampled_from(SETS),
        st.booleans(),
    ),
    "merge_upsert": st.tuples(
        st.just("merge_upsert"), batch(min_size=1, max_size=8, null_keys=1)
    ),
    "merge_into": st.tuples(
        st.just("merge_into"),
        batch(min_size=1, max_size=8, null_keys=1),
        st.one_of(
            st.tuples(st.sampled_from(["update", "delete"]), opt_cond),
            st.lists(
                st.tuples(cond, st.sampled_from(["update", "delete"])),
                min_size=1,
                max_size=2,
            ).flatmap(
                lambda cl: st.tuples(
                    st.just(cl),
                    st.one_of(st.none(), st.sampled_from(["update", "delete"])),
                )
            ),
        ),
        st.booleans(),
        opt_cond,
        st.sampled_from([None, "delete", "update"]),
        opt_cond,
        st.sampled_from(SETS),
    ),
    "delete_keys": st.tuples(
        st.just("delete_keys"), batch(min_size=1, max_size=8, null_keys=1)
    ),
}


def scenarios(kind: str):
    """A table and a DML sequence that starts with a ``kind`` call."""
    return st.fixed_dictionaries(
        {
            "rows": batch(min_size=2, max_size=20, null_keys=3),
            "files": st.integers(2, 4),
            "partitioned": st.booleans(),
            "renamed": st.booleans(),
            "change_feed": st.booleans(),
            "calls": st.tuples(CALLS[kind], st.lists(st.one_of(*CALLS.values()), max_size=2)),
        }
    )


class Model:
    """The table as a list of (k, p, v) rows, with SQL evaluated by DuckDB."""

    def __init__(self, rows, vcol):
        self.rows = list(rows)
        self.vcol = vcol
        self.con = duckdb.connect()

    def sql(self, text: str) -> str:
        return text.format(v=self.vcol)

    def eval(self, rows, expr: str) -> list:
        """``expr`` over each row, in order."""
        if not rows:
            return []
        self.con.execute(
            f"CREATE OR REPLACE TABLE r (i INT, k BIGINT, p VARCHAR, {self.vcol} BIGINT)"
        )
        self.con.executemany(
            "INSERT INTO r VALUES (?, ?, ?, ?)", [(i, *r) for i, r in enumerate(rows)]
        )
        out = self.con.execute(f"SELECT i, {self.sql(expr)} FROM r ORDER BY i").fetchall()
        return [x for _, x in out]

    def holds(self, rows, c: str | None) -> list[bool]:
        if c is None:
            return [True] * len(rows)
        return [bool(x) for x in self.eval(rows, f"coalesce(({c}), false)")]

    def set(self, rows, expr: str) -> list[tuple]:
        new = self.eval(rows, f"CAST(({expr}) AS BIGINT)")
        return [(k, p, nv) for (k, p, _), nv in zip(rows, new)]

    def apply(self, call) -> list[tuple]:
        """Apply ``call``; return its change rows."""
        kind = call[0]
        rows = self.rows
        if kind in ("delete_where", "update_where"):
            c = call[1][0] if isinstance(call[1], tuple) else call[1]
            hit = self.holds(rows, c)
            if kind == "delete_where":
                self.rows = [r for r, h in zip(rows, hit) if not h]
                return [("delete", *r) for r, h in zip(rows, hit) if h]
            post = self.set(rows, call[2]) if call[3] else [
                (k, "b", v) for k, _p, v in rows
            ]
            self.rows = [n if h else r for r, n, h in zip(rows, post, hit)]
            return [
                ch
                for r, n, h in zip(rows, post, hit)
                if h
                for ch in (("update_preimage", *r), ("update_postimage", *n))
            ]
        src = {r[0]: r for r in call[1] if r[0] is not None}
        matched = [r[0] is not None and r[0] in src for r in rows]
        if kind == "delete_keys":
            self.rows = [r for r, m in zip(rows, matched) if not m]
            return [("delete", *r) for r, m in zip(rows, matched) if m]
        if kind == "merge_upsert":
            clauses, insert, ins_cond, nmbs = [(None, "update")], True, None, None
        else:
            _k, _src, wm, insert, ins_cond, nmbs, nmbs_cond, nmbs_set = call
            clauses = [(wm[1], wm[0])] if isinstance(wm[0], str) else list(wm[0])
            if not isinstance(wm[0], str) and wm[1] is not None:
                clauses.append((None, wm[1]))
        fired = [None] * len(rows)
        for i, (c, _a) in enumerate(clauses):
            for j, h in enumerate(self.holds(rows, c)):
                if matched[j] and fired[j] is None and h:
                    fired[j] = i
        nm = [not m for m in matched]
        nmbs_hit = [False] * len(rows)
        if nmbs is not None:
            nmbs_hit = [n and h for n, h in zip(nm, self.holds(rows, nmbs_cond))]
        nmbs_post = self.set(rows, nmbs_set) if nmbs == "update" else rows
        out, changes = [], []
        for j, r in enumerate(rows):
            if fired[j] is not None and clauses[fired[j]][1] == "update":
                new = src[r[0]]
                out.append(new)
                changes += [("update_preimage", *r), ("update_postimage", *new)]
            elif fired[j] is not None:
                changes.append(("delete", *r))
            elif nmbs_hit[j] and nmbs == "update":
                out.append(nmbs_post[j])
                changes += [("update_preimage", *r), ("update_postimage", *nmbs_post[j])]
            elif nmbs_hit[j]:
                changes.append(("delete", *r))
            else:
                out.append(r)
        have = {r[0] for r in rows if r[0] is not None}
        cand = [s for s in call[1] if s[0] is None or s[0] not in have]
        if insert:
            for s, h in zip(cand, self.holds(cand, ins_cond)):
                if h:
                    out.append(s)
                    changes.append(("insert", *s))
        self.rows = out
        return changes


def _sorted(rows) -> list[tuple]:
    return sorted(rows, key=lambda r: tuple((x is None, x) for x in r))


def _run(spark, t: SnapshotTable, model: Model, call, opts: dict) -> int:
    kind = call[0]
    v = model.vcol
    if kind in ("delete_where", "update_where"):
        c, scope = call[1] if isinstance(call[1], tuple) else (call[1], {})
        c = model.sql(c)
        if kind == "delete_where":
            return t.delete_where(spark, c, **scope, **opts)
        sets = {v: model.sql(call[2])} if call[3] else {"p": "'b'"}
        return t.update_where(spark, c, sets, **scope, **opts)
    src = spark.createDataFrame(call[1], f"k BIGINT, p STRING, {v} BIGINT")
    if kind == "delete_keys":
        return t.delete_keys(spark, src.select("k"), ("k",), **opts)
    if kind == "merge_upsert":
        return t.merge_upsert(spark, src, ("k",), **opts)
    _k, _src, wm, insert, ins_cond, nmbs, nmbs_cond, nmbs_set = call
    if isinstance(wm[0], str):
        kw = {"when_matched": wm[0], "matched_condition": wm[1] and model.sql(wm[1])}
    else:
        cl = [(model.sql(c), a) for c, a in wm[0]]
        kw = {"when_matched": cl + ([(None, wm[1])] if wm[1] else [])}
    return t.merge_into(
        spark,
        src,
        ("k",),
        insert_unmatched=insert,
        insert_condition=ins_cond and model.sql(ins_cond),
        not_matched_by_source=nmbs,
        nmbs_condition=nmbs_cond and model.sql(nmbs_cond) if nmbs else None,
        nmbs_set={v: model.sql(nmbs_set)} if nmbs == "update" else None,
        **kw,
        **opts,
    )


@pytest.mark.parametrize("kind", sorted(CALLS))
@settings(
    max_examples=3,
    derandomize=True,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(data=st.data())
def test_dml_matches_model(spark, tmp_path_factory, kind, data):
    sc = data.draw(scenarios(kind))
    base = tempfile.mkdtemp(dir=tmp_path_factory.getbasetemp())
    t = SnapshotTable(os.path.join(base, "t"))
    opts = {"stats_cols": ("k",), "change_feed": sc["change_feed"]}
    if sc["partitioned"]:
        opts["partition_by"] = ("p",)
    rows = sc["rows"]
    n = min(sc["files"], len(rows))
    for i in range(n):
        t.commit(
            spark.createDataFrame(rows[i::n], SCHEMA).coalesce(1),
            stats_cols=("k",),
            partition_by=opts.get("partition_by", ()),
        )
    vcol = "v"
    if sc["renamed"]:
        t.rename_column("v", "w")
        vcol = "w"
    model = Model(rows, vcol)
    cols = ["k", "p", vcol]
    first, more = sc["calls"]
    for call in [first, *more]:
        before = t.latest_version()
        changes = model.apply(call)
        got = _run(spark, t, model, call, opts)
        # a DML that acts on no row publishes nothing
        assert got == (before + 1 if changes else before), call
        assert got == t.latest_version()
        read = [tuple(r) for r in t.read(spark).select(*cols).collect()]
        assert _sorted(read) == _sorted(model.rows), call
        if sc["change_feed"] and changes:
            feed = t.read_changes(spark, before, got).select("_change_type", *cols)
            assert _sorted(tuple(r) for r in feed.collect()) == _sorted(changes), call


# --- a zero-match DML publishes nothing ---------------------------------------


def _merge_source(spark):
    return spark.createDataFrame([(999, 0)], "k BIGINT, v BIGINT")


ZERO_MATCH = {
    "delete_where": lambda spark, t: t.delete_where(spark, "k > 999"),
    "update_where": lambda spark, t: t.update_where(spark, "k > 999", {"v": "v + 1"}),
    "merge_into_update": lambda spark, t: t.merge_into(
        spark, _merge_source(spark), ("k",), insert_unmatched=False
    ),
    "merge_into_delete": lambda spark, t: t.merge_into(
        spark,
        _merge_source(spark).select("k"),
        ("k",),
        when_matched="delete",
        insert_unmatched=False,
    ),
}


@pytest.mark.parametrize("call", sorted(ZERO_MATCH))
def test_zero_match_dml_keeps_plain_stream_alive(spark, tmp_path, call):
    """A plain (non-change-feed) stream refuses data-changing rewrites, so
    a DML that matched nothing must not publish one: the next drain would
    die on a version that changed no row."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, 10), (2, 20)], "k BIGINT, v BIGINT"))

    def drain() -> None:
        (
            read_stream(spark, t.base)
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    drain()
    assert ZERO_MATCH[call](spark, t) == 1
    assert t.latest_version() == 1
    drain()
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [(1, 10), (2, 20)]
    # the rewrite's staged files are gone, not left for the orphan sweep
    assert set(os.listdir(t.data_dir)) == {
        os.path.basename(os.path.dirname(e["path"])) for e in t._entries(1)
    }


def test_zero_match_with_extra_still_publishes(spark, tmp_path):
    """The stream sink's exactly-once ledger rides a merge's ``extra``, so
    a merge carrying one publishes even when it changes no row."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, 10)], "k BIGINT, v BIGINT"))
    empty = spark.createDataFrame([], "k BIGINT, v BIGINT")
    ledger = {"stream_id": "s", "stream_batch_id": 0}
    assert t.merge_upsert(spark, empty, ("k",), extra=ledger) == 2
    assert t.stream_batch_committed("s", 0)
    assert [tuple(r) for r in t.read(spark).collect()] == [(1, 10)]


# --- delete_keys rebases over a disjoint concurrent append --------------------


def test_delete_keys_rebases_over_disjoint_partition_append(spark, tmp_path, monkeypatch):
    import serverless_mapreduce_spark.sources.snapshots as S

    base = str(tmp_path / "t")
    t = SnapshotTable(base)
    t.commit(
        spark.createDataFrame([("a", 1), ("a", 2), ("b", 3)], "p STRING, k BIGINT"),
        partition_by=("p",),
    )
    other = SnapshotTable(base)
    orig = S.SnapshotTable._publish_cow
    armed = {"on": True}

    def interlope(self, *a, **k):
        if armed.pop("on", False):
            other.commit(
                spark.createDataFrame([("b", 4)], "p STRING, k BIGINT"),
                partition_by=("p",),
            )
        return orig(self, *a, **k)

    monkeypatch.setattr(S.SnapshotTable, "_publish_cow", interlope)
    keys = spark.createDataFrame([("a", 1)], "p STRING, k BIGINT")
    assert t.delete_keys(spark, keys, ("p", "k"), partition_by=("p",)) == 3
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        ("a", 2),
        ("b", 3),
        ("b", 4),
    ]
