"""Seeded fixture generator for the benchmark.

Writes the ten tables the query inventory reads (the TPC-H-like star
schema plus `events`, `documents` and `embeddings`) with the same column
names, physical types and value ranges as the repository's test fixtures,
one single-row-group Parquet file per table. The same seed always gives
the same files.

It also writes the runner workload's inputs: N variants of `lineitem`,
each with its own order-key shift and row order, and the expected
flagship answer for each, computed by DuckDB.
"""
import os
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["red", "blue", "green", "black", "white", "small", "large", "steel"]
NOUNS = ["widget", "bolt", "ring", "anvil", "gear", "spring", "valve", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

FLAGSHIP_COLS = ["l_orderkey", "l_quantity", "l_discount", "l_tax",
                 "l_extendedprice"]
# The runner's flagship filter on the lineitem schema (graft.runner.Main).
FLAGSHIP_WHERE = ("l_quantity > 10 AND l_quantity < 20 AND "
                  "l_discount > 0.02 AND l_discount < 0.08 AND "
                  "l_tax > 0.01 AND l_tax < 0.07")


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(table, path):
    pq.write_table(table, path, row_group_size=max(1, table.num_rows),
                   compression="snappy")


def _names(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def lineitem(rng, n, n_orders, n_parts, n_supp):
    return pa.table({
        "l_orderkey": rng.integers(0, n_orders, n),
        "l_partkey": rng.integers(0, n_parts, n),
        "l_suppkey": rng.integers(0, n_supp, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": _ts(EPOCH_1995 + DAY_US * (1 + rng.integers(0, 2499, n))),
    })


def documents(rng, n):
    # one document in twenty is a near-duplicate of an earlier one (the
    # fixtures' "dup" marker token), so the dedup operators find real pairs;
    # the count is fixed so every seed gives the same amount of dedup work
    dups = set(rng.choice(np.arange(1, n), n // 20, replace=False).tolist())
    texts = []
    for i in range(n):
        if i in dups:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), k)]))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)),
        pa.array(v.reshape(-1), type=pa.float32()))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": emb,
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def tables(seed, sf, out_dir):
    """Write the ten fixture tables at scale factor `sf` into `out_dir`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_supp, n_cust = int(10_000 * sf), int(150_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    out = {
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[
                rng.integers(0, 5, n_cust)])}),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": pa.array([f"{COLORS[a]} {NOUNS[b]}" for a, b in zip(
                rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
            "p_brand": pa.array([f"Brand#{b}" for b in
                                 rng.integers(1, 26, n_part)]),
            "p_type": pa.array(np.array(PART_TYPES)[
                rng.integers(0, 6, n_part)]),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0}),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[
                rng.integers(0, 3, n_ord)]),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
            "o_orderdate": _ts(EPOCH_1995 + DAY_US * rng.integers(0, 2400, n_ord)),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[
                rng.integers(0, 5, n_ord)])}),
        "lineitem": lineitem(rng, n_li, n_ord, n_part, n_supp),
        "events": pa.table({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(EPOCH_2024 + np.sort(
                rng.integers(0, 30 * DAY_US, n_ev))),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": pa.array(np.array(EVENT_TYPES)[
                rng.integers(0, 5, n_ev)]),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in
                               rng.integers(0, 100, n_ev)])}),
        "documents": documents(rng, n_docs),
        "embeddings": embeddings(rng, n_emb),
    }
    for name, t in out.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))


def runner_files(seed, n_files, rows, out_dir):
    """Write `n_files` lineitem variants of `rows` rows each into `out_dir`.

    Each variant shifts every order key by its own seeded offset and
    permutes the rows, so no two files share keys or layout. Returns the
    file names and, per file, the flagship's expected result rows
    (VID, X, Y, Z, E), as DuckDB computes them over the written file.
    """
    rng = np.random.default_rng([seed, 7])
    os.makedirs(out_dir, exist_ok=True)
    base = lineitem(rng, rows, rows // 4, rows // 30, rows // 600)
    plan = [((i + 1) * 10_000_000 + int(rng.integers(0, 1_000_000)),
             rng.permutation(rows)) for i in range(n_files)]

    def one(i):
        shift, perm = plan[i]
        t = base.take(pa.array(perm))
        t = t.set_column(0, "l_orderkey", pc.add(t.column(0), pa.scalar(shift)))
        name = f"lineitem_{i:03d}.parquet"
        path = os.path.join(out_dir, name)
        _write(t, path)
        with duckdb.connect() as duck:
            rows = duck.execute(
                "SELECT l_orderkey, min(l_quantity), min(l_discount), "
                f"min(l_tax), avg(l_extendedprice) FROM '{path}' "
                f"WHERE {FLAGSHIP_WHERE} GROUP BY l_orderkey").fetchall()
        return name, rows

    with ThreadPoolExecutor(4) as pool:
        done = list(pool.map(one, range(n_files)))
    return [n for n, _ in done], [k for _, k in done]


def projected_chunk_bytes(path, cols=FLAGSHIP_COLS):
    """Compressed bytes of the column chunks a scan of `cols` must read,
    from the file's footer."""
    md = pq.ParquetFile(path).metadata
    total = 0
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for c in range(rg.num_columns):
            cc = rg.column(c)
            if cc.path_in_schema in cols:
                total += cc.total_compressed_size
    return total
