"""Seeded input generator for the pipeline benchmark.

Every table is a pure function of ``(seed, sizes)``: the same seed gives
byte-identical CSV and Parquet files. The engine only ever sees the files
written here; nothing is read from outside the benchmark's data directory.

Schemas follow the engine's TPC-H-style query tables (``region nation
customer supplier part orders lineitem documents embeddings``) so the
registered catalog queries and their DuckDB oracles run unchanged.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts: the shapes of a TPC-H-style sf0.0025. The sizes are held
# small because per-job scheduling, not data volume, dominates an
# operation on a 4-core box, and the whole benchmark has to fit a fixed
# run budget (see README.md).
SIZES = {
    "customer": 375,
    "supplier": 25,
    "part": 500,
    "orders": 3_750,
    "lineitem": 15_000,
    "documents": 500,
    "embeddings": 500,
}
EMBED_DIM = 64
# standing mart for the upsert workload: one partition per purchase month
MART_ROWS = 15_000
MART_MONTHS = 36
MART_FIRST_MONTH = (1998, 1)
BATCHES = 24
UPDATE_SHARE = 0.01
INSERT_SHARE = 0.0025

_EPOCH = np.datetime64("1970-01-01", "D")
_ORDER_FIRST = np.datetime64("1995-01-01", "D")
_ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
_SEGMENTS = np.array(["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
STATUSES = np.array(["O", "F", "P"])
_WORDS = np.array(
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch".split()
)
_LANGS = np.array(["en", "en", "en", "zh", "es", "fr", "de"])
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform amounts with exactly two decimals (held as float64)."""
    return rng.integers(round(lo * 100), round(hi * 100), n) / 100.0


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array((_EPOCH + days.astype("timedelta64[D]")).astype("datetime64[us]"))


def query_tables(seed: int) -> dict[str, pa.Table]:
    """The TPC-H-style tables, keyed by name."""
    rng = np.random.default_rng([seed, 1])
    n = SIZES
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    customer = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n["customer"])],
    })
    supplier = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    pk = np.arange(n["part"], dtype=np.int64)
    part = pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": _PART_TYPES[rng.integers(0, 6, n["part"])],
        "p_size": pa.array(rng.integers(1, 51, n["part"]).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    order_days = (_ORDER_FIRST - _EPOCH).astype(int) + rng.integers(0, _ORDER_DAYS, n["orders"])
    orders = pa.table({
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype(np.int64),
        "o_orderstatus": STATUSES[rng.integers(0, 3, n["orders"])],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _ts(order_days),
        "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n["orders"])],
    })
    li_order = rng.integers(0, n["orders"], n["lineitem"]).astype(np.int64)
    lineitem = pa.table({
        "l_orderkey": li_order,
        "l_partkey": rng.integers(0, n["part"], n["lineitem"]).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n["lineitem"]),
        "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
        "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n["lineitem"])],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n["lineitem"])],
        "l_shipdate": _ts(order_days[li_order] + rng.integers(1, 122, n["lineitem"])),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "documents": _documents(rng),
        "embeddings": _embeddings(rng),
    }


def _documents(rng: np.random.Generator) -> pa.Table:
    """Bag-of-words docs over a 30-word vocabulary; one in twenty is a
    copy of an earlier doc with a trailing ``dup`` token (near-dups for
    the dedup operators)."""
    n = SIZES["documents"]
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(_WORDS[rng.integers(0, len(_WORDS), int(rng.integers(10, 101)))]))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _LANGS[rng.integers(0, len(_LANGS), n)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    n = SIZES["embeddings"]
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def write_query_tables(seed: int, out_dir: str) -> dict[str, int]:
    """One ``{name}.parquet`` file per table (the layout ``read_table``
    expects). Returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in query_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


def _csv_lines(table: pa.Table) -> list[str]:
    """Render rows as CSV text: money with two decimals, timestamps as
    plain dates, no quoting needed (no field holds a comma or quote)."""
    cols = []
    for name in table.column_names:
        col = table.column(name)
        t = col.type
        if pa.types.is_timestamp(t):
            vals = [d.date().isoformat() for d in col.to_pylist()]
        elif pa.types.is_floating(t):
            vals = [f"{x:.2f}" for x in col.to_numpy()]
        else:
            vals = [str(x) for x in col.to_pylist()]
        cols.append(vals)
    return [",".join(r) for r in zip(*cols)]


def write_seed_csvs(seed: int, out_dir: str) -> dict[str, dict]:
    """``orders``, ``customer`` and ``lineitem`` as CSV seeds. The seed
    permutes row order and splits each table over 1-4 files with a header
    each. Returns ``{name: {"path", "rows", "bytes"}}``."""
    rng = np.random.default_rng([seed, 2])
    tables = query_tables(seed)
    out = {}
    for name in ("orders", "customer", "lineitem"):
        table = tables[name]
        lines = _csv_lines(table)
        order = rng.permutation(len(lines))
        n_files = int(rng.integers(1, 5))
        d = os.path.join(out_dir, name)
        os.makedirs(d, exist_ok=True)
        header = ",".join(table.column_names)
        size = 0
        for k, chunk in enumerate(np.array_split(order, n_files)):
            path = os.path.join(d, f"part-{k}.csv")
            with open(path, "w", encoding="utf-8") as fh:
                fh.write(header + "\n")
                fh.writelines(lines[i] + "\n" for i in chunk)
            size += os.path.getsize(path)
        out[name] = {"path": d, "rows": len(lines), "bytes": size}
    return out


_MART_SCHEMA = pa.schema([
    ("order_id", pa.int64()),
    ("customer_id", pa.int64()),
    ("order_status", pa.string()),
    ("purchased_at", pa.timestamp("us")),
    ("purchase_month", pa.int32()),
    ("total_order_value", pa.decimal128(18, 2)),
])


def _month_starts() -> list[dt.date]:
    y, m = MART_FIRST_MONTH
    out = []
    for _ in range(MART_MONTHS):
        out.append(dt.date(y, m, 1))
        y, m = (y + 1, 1) if m == 12 else (y, m + 1)
    return out


def _mart_rows(rng, ids, months, starts) -> pa.Table:
    import decimal

    n = len(ids)
    day = rng.integers(0, 28, n)
    cents = rng.integers(1_000, 50_000_000, n)
    return pa.table({
        "order_id": np.asarray(ids, dtype=np.int64),
        "customer_id": rng.integers(0, SIZES["customer"], n).astype(np.int64),
        "order_status": STATUSES[rng.integers(0, 3, n)],
        "purchased_at": pa.array(
            [dt.datetime.combine(starts[mo], dt.time()) + dt.timedelta(days=int(d))
             for mo, d in zip(months, day)],
            type=pa.timestamp("us"),
        ),
        "purchase_month": pa.array(
            [starts[mo].year * 100 + starts[mo].month for mo in months], type=pa.int32()
        ),
        "total_order_value": pa.array(
            [decimal.Decimal(int(c)).scaleb(-2) for c in cents], type=pa.decimal128(18, 2)
        ),
    }, schema=_MART_SCHEMA)


def write_merge_inputs(seed: int, out_dir: str) -> dict:
    """The standing mart (one flat file, and the same rows as a Hive-style
    ``purchase_month=`` partitioned table) plus ``BATCHES`` upsert batches.

    Each batch updates ``UPDATE_SHARE`` of the keys then present (months
    drawn with weight rising linearly toward the most recent month, so
    recent partitions take most writes) and inserts ``INSERT_SHARE`` new
    keys in the last six months. An update keeps the key's month, so a
    batch changes rows only in the partitions it names."""
    rng = np.random.default_rng([seed, 3])
    starts = _month_starts()
    os.makedirs(out_dir, exist_ok=True)
    months = rng.integers(0, MART_MONTHS, MART_ROWS)
    standing = _mart_rows(rng, np.arange(MART_ROWS), months, starts)
    pq.write_table(standing, os.path.join(out_dir, "standing.parquet"))
    # the same rows laid out as the partitioned table the engine merges into
    pq.write_to_dataset(standing, os.path.join(out_dir, "mart"),
                        partition_cols=["purchase_month"],
                        basename_template="part-{i}.parquet")
    month_of = dict(zip(range(MART_ROWS), months.tolist()))
    weights = np.arange(1, MART_MONTHS + 1, dtype=float)
    next_id = MART_ROWS
    batches = []
    for b in range(BATCHES):
        keys = np.array(sorted(month_of))
        key_months = np.array([month_of[k] for k in keys])
        p = weights[key_months]
        n_upd = max(1, round(UPDATE_SHARE * len(keys)))
        upd = rng.choice(keys, size=n_upd, replace=False, p=p / p.sum())
        n_ins = max(1, round(INSERT_SHARE * len(keys)))
        ins = np.arange(next_id, next_id + n_ins)
        next_id += n_ins
        ins_months = rng.integers(MART_MONTHS - 6, MART_MONTHS, n_ins)
        for k, mo in zip(ins, ins_months):
            month_of[int(k)] = int(mo)
        ids = np.concatenate([upd, ins])
        mos = [month_of[int(k)] for k in ids]
        batch = _mart_rows(rng, ids, mos, starts)
        path = os.path.join(out_dir, f"batch-{b:03d}.parquet")
        pq.write_table(batch, path)
        batches.append({
            "path": path,
            "rows": batch.num_rows,
            "bytes": os.path.getsize(path),
            "months": sorted({int(m) for m in batch.column("purchase_month").to_pylist()}),
        })
    return {
        "standing": os.path.join(out_dir, "standing.parquet"),
        "mart": os.path.join(out_dir, "mart"),
        "batches": batches,
    }


def pass_orders(seed: int, names: list[str], passes: int) -> list[list[str]]:
    """One seeded shuffle of the query mix per pass."""
    rng = np.random.default_rng([seed, 4])
    return [[names[i] for i in rng.permutation(len(names))] for _ in range(passes)]


def write_json(path: str, value: object) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(value, fh, indent=1)
