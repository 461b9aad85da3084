"""Seeded input generator for the benchmark.

Writes every table the benchmarked ops read, in the catalog's schemas
(``serverless_mapreduce_spark.catalog.TABLES``), plus the batches the
``table_lifecycle`` workload commits. The distributions are the ones the
repo's sf0.01 fixtures have (uniform TPC-H-ish keys and categories, a
31-word document vocabulary with exact and near-duplicate documents,
64-dim unit embeddings around 10 weak cluster centres), so every
registered oracle holds on the output. Join keys stay consistent:
``o_custkey``, ``l_orderkey``, ``l_partkey`` and ``l_suppkey`` always
reference existing rows.

The same seed gives byte-identical tables.

    python3 perfbench/gen.py SEED DEST   # write (or reuse) SEED's inputs in DEST
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table at the benchmark's scale (the sf0.01 fixture sizes)
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
EMBED_DIM = 64
N_LABELS = 10
#: lineitem lines per order are uniform in [1, MAX_LINES]
MAX_LINES = 7

#: table_lifecycle: the orders rows are committed in this many append
#: batches (orderkey ranges, so manifest stats can prune lookups)
APPEND_BATCHES = 4
#: share of existing keys the upsert batch rewrites, and of new keys it adds
UPSERT_UPDATE_SHARE = 0.05
UPSERT_INSERT_SHARE = 0.02
LIFECYCLE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderpriority",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20
#: ~5 % of documents copy an earlier one plus a marker word, ~0.3 % verbatim
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.003

DAY_US = 86_400 * 1_000_000
ORDER_DAYS = (np.datetime64("1995-01-01"), np.datetime64("2001-08-01"))
SHIP_DAYS = (np.datetime64("1995-01-02"), np.datetime64("2001-11-04"))
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_SPAN_US = 30 * DAY_US

#: the DML table_lifecycle applies after its appends and upsert; check.py
#: replays the same statements in DuckDB
DELETE_WHERE = "o_orderpriority = '5-LOW' AND o_totalprice < 60000"
UPDATE_WHERE = "o_orderstatus = 'P' AND o_totalprice > 440000"
UPDATE_SET = {"o_orderstatus": "'F'"}


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, bounds: tuple, n: int) -> pa.Array:
    lo, hi = bounds
    d = lo + rng.integers(0, int((hi - lo).astype(int)) + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), type=pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < EXACT_DUP_SHARE:
            texts.append(texts[int(rng.integers(i))])
        elif i > 0 and r < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            texts.append(texts[int(rng.integers(i))] + " dup")
        else:
            wc = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), wc)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), type=pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)]),
            "source": pa.array([f"src{j}" for j in rng.integers(0, N_SOURCES, n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centres = rng.normal(0.0, 0.07 / np.sqrt(EMBED_DIM), (N_LABELS, EMBED_DIM))
    labels = rng.integers(0, N_LABELS, n)
    vecs = centres[labels] + rng.normal(0.0, 1.0 / np.sqrt(EMBED_DIM), (n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), type=pa.float32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), type=pa.int64()),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM), type=pa.int32()),
                flat,
            ),
            "label": pa.array(labels, type=pa.int32()),
        }
    )


def tables(seed: int) -> dict[str, pa.Table]:
    """Every catalog table for ``seed`` (deterministic)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord = (
        ROWS["customer"], ROWS["supplier"], ROWS["part"], ROWS["orders"]
    )
    out: dict[str, pa.Table] = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), type=pa.int32()),
                "r_name": pa.array(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), type=pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
            }
        ),
    }
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), type=pa.int64()),
            "c_name": pa.array(_names("Customer", n_cust)),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array([SEGMENTS[j] for j in rng.integers(0, 5, n_cust)]),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), type=pa.int64()),
            "s_name": pa.array(_names("Supplier", n_supp)),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), type=pa.int64()),
            "p_name": pa.array(
                [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]
            ),
            "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, n_part)]),
            "p_type": pa.array([PART_TYPES[j] for j in rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), type=pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), type=pa.int64()),
            "o_orderstatus": pa.array([ORDER_STATUS[j] for j in rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": _days(rng, ORDER_DAYS, n_ord),
            "o_orderpriority": pa.array([PRIORITIES[j] for j in rng.integers(0, 5, n_ord)]),
        }
    )
    lines = rng.integers(1, MAX_LINES + 1, n_ord)
    n_li = int(lines.sum())
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(np.repeat(np.arange(n_ord), lines), type=pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), type=pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), type=pa.int64()),
            "l_linenumber": pa.array(
                np.concatenate([np.arange(1, k + 1) for k in lines]), type=pa.int32()
            ),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(["ANR"[j] for j in rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(["OF"[j] for j in rng.integers(0, 2, n_li)]),
            "l_shipdate": _days(rng, SHIP_DAYS, n_li),
        }
    )
    n_ev = ROWS["events"]
    ts = np.sort(rng.integers(0, EVENTS_SPAN_US, n_ev))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), type=pa.int64()),
            "ts": pa.array(
                EVENTS_START + ts.astype("timedelta64[us]"), type=pa.timestamp("us")
            ),
            "user_id": pa.array(rng.integers(0, n_ev * 15 // 1000, n_ev), type=pa.int64()),
            "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)]),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)]),
        }
    )
    out["documents"] = _documents(rng, ROWS["documents"])
    out["embeddings"] = _embeddings(rng, ROWS["embeddings"])
    return out


def lifecycle_batches(orders: pa.Table, seed: int) -> dict[str, pa.Table]:
    """The table_lifecycle inputs: ``append<i>`` orderkey-range batches of
    the orders rows and one ``upsert`` batch (rewritten + new keys)."""
    rng = np.random.default_rng(seed + 1_000_003)
    base = orders.select(list(LIFECYCLE_COLS))
    n = base.num_rows
    cuts = [i * n // APPEND_BATCHES for i in range(APPEND_BATCHES + 1)]
    out = {f"append{i}": base.slice(lo, hi - lo) for i, (lo, hi) in enumerate(zip(cuts, cuts[1:]))}
    upd = np.sort(rng.choice(n, int(n * UPSERT_UPDATE_SHARE), replace=False))
    n_new = int(n * UPSERT_INSERT_SHARE)
    changed = base.take(pa.array(upd))
    changed = changed.set_column(
        LIFECYCLE_COLS.index("o_totalprice"),
        "o_totalprice",
        pa.array(_money(rng, 1000.0, 500000.0, len(upd))),
    )
    new = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, n + n_new), type=pa.int64()),
            "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n_new), type=pa.int64()),
            "o_orderstatus": pa.array([ORDER_STATUS[j] for j in rng.integers(0, 3, n_new)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_new)),
            "o_orderpriority": pa.array([PRIORITIES[j] for j in rng.integers(0, 5, n_new)]),
        }
    )
    out["upsert"] = pa.concat_tables([changed, new])
    return out


def input_dir(root: str, seed: int) -> str:
    """The directory under ``root`` for ``seed``'s inputs. It is keyed by
    this file's content hash too, so a changed generator never reuses the
    inputs an earlier version wrote."""
    with open(__file__, "rb") as fh:
        sha = hashlib.sha1(fh.read()).hexdigest()
    return os.path.join(root, f"seed{seed}-{sha[:12]}")


def generate(seed: int, dest: str) -> dict:
    """Write the inputs for ``seed`` under ``dest`` (reused when a complete
    earlier generation is there) and return their manifest: row counts and
    file bytes per table, plus the lifecycle lookup key."""
    marker = os.path.join(dest, "MANIFEST.json")
    if os.path.exists(marker):
        with open(marker) as fh:
            return json.load(fh)
    tmp = f"{dest}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "lifecycle"))
    manifest: dict = {"seed": seed, "tables": {}, "lifecycle": {}}
    tbls = tables(seed)
    for name, t in tbls.items():
        path = os.path.join(tmp, f"{name}.parquet")
        pq.write_table(t, path)
        manifest["tables"][name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
    for name, t in lifecycle_batches(tbls["orders"], seed).items():
        path = os.path.join(tmp, "lifecycle", f"{name}.parquet")
        pq.write_table(t, path)
        manifest["lifecycle"][name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
    # a key in the third append batch: a point lookup prunes to its files
    n = ROWS["orders"]
    manifest["lookup_key"] = int(np.random.default_rng(seed).integers(n // 2, 3 * n // 4))
    with open(os.path.join(tmp, "MANIFEST.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)
    shutil.rmtree(dest, ignore_errors=True)
    os.replace(tmp, dest)
    return manifest


if __name__ == "__main__":
    generate(int(sys.argv[1]), sys.argv[2])
