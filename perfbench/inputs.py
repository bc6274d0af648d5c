"""Seeded input generators, one per workload.

Every table is a pure function of (workload, seed): the same seed writes
byte-identical parquet. The program under test only ever sees these
files, never the seed.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- median_agg ---------------------------------------------------------
MEDIAN_ROWS = 1_000_000
MEDIAN_NULL_SHARE = 0.01
MEDIAN_G4 = 4
MEDIAN_G100K = 100_000
# exact_500k reads the slice g100k < EXACT_SLICE_KEYS: half of the keys,
# about 500k rows at MEDIAN_ROWS
EXACT_SLICE_KEYS = 50_000

# -- llm_pipeline (schemas follow the sf fixtures: FIXTURES.md) -----------
LLM_DOCS = 500
LLM_CUSTOMERS = 1_000
VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = (("en", 0.44), ("zh", 0.14), ("de", 0.14), ("fr", 0.14), ("es", 0.14))
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

# -- lakehouse_rw ---------------------------------------------------------
LAKE_ROWS = 50_000
LAKE_LINES = 4          # line items per order
LAKE_ROUNDS = 1
LAKE_INSERT_ORDERS = 250          # 1k rows per round
LAKE_MERGE_UPDATES = 500
LAKE_MERGE_NEW_ORDERS = 125       # 500 rows per round
LAKE_POINT_READS = 5
LAKE_RANGE_READS = 2
LAKE_RANGE_ORDERS = 200


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=1 << 20)


def median_agg(seed: int, out: str) -> dict:
    rng = np.random.default_rng([seed, 1])
    n = MEDIAN_ROWS
    x = rng.lognormal(mean=3.0, sigma=1.0, size=n)
    null = rng.random(n) < MEDIAN_NULL_SHARE
    g4 = rng.integers(0, MEDIAN_G4, size=n, dtype=np.int32)
    g100k = rng.integers(0, MEDIAN_G100K, size=n, dtype=np.int32)
    table = pa.table({
        "x": pa.array(x, mask=null, type=pa.float64()),
        "g4": pa.array(g4), "g100k": pa.array(g100k)})
    path = f"{out}/samples.parquet"
    _write(table, path)
    return {"samples": path}


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, size=n)
    texts = [" ".join(rng.choice(VOCAB, size=k)) for k in lengths]
    # planted near-duplicates, as in the fixtures: ~5% of documents are
    # another document's text plus a trailing " dup"
    for i in np.flatnonzero(rng.random(n) < 0.05):
        j = int(rng.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup"
    names, weights = zip(*LANGS)
    langs = rng.choice(names, size=n, p=weights)
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(langs.tolist()),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64())})


def _customer(rng: np.random.Generator, n: int) -> pa.Table:
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": pa.array(keys),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": pa.array(rng.integers(0, 25, size=n, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, size=n).tolist())})


def llm_pipeline(seed: int, out: str) -> dict:
    rng = np.random.default_rng([seed, 2])
    tables = {"documents": _documents(rng, LLM_DOCS),
              "customer": _customer(rng, LLM_CUSTOMERS)}
    for name, t in tables.items():
        _write(t, f"{out}/{name}.parquet")
    return {"dir": out}


LAKE_COLUMNS = ("l_orderkey BIGINT, l_linenumber INT, l_partkey BIGINT, "
                "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, "
                "l_returnflag STRING, l_linestatus STRING, l_shipdate DATE")
LAKE_NAMES = [c.split()[0] for c in LAKE_COLUMNS.split(", ")]


def _lake_rows(rng: np.random.Generator, first_order: int,
               orders: int) -> pa.Table:
    ok = np.repeat(np.arange(first_order, first_order + orders,
                             dtype=np.int64), LAKE_LINES)
    ln = np.tile(np.arange(1, LAKE_LINES + 1, dtype=np.int32), orders)
    n = len(ok)
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2000.0, size=n), 2)
    return pa.table({
        "l_orderkey": pa.array(ok), "l_linenumber": pa.array(ln),
        "l_partkey": pa.array(rng.integers(1, 20_000, size=n, dtype=np.int64)),
        "l_quantity": pa.array(qty), "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=n).tolist()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], size=n).tolist()),
        "l_shipdate": pa.array(
            (np.datetime64("1995-01-01")
             + rng.integers(0, 2_000, size=n).astype("timedelta64[D]")),
            type=pa.date32())})


# every compared read returns only BIGINT/STRING columns, so both sides
# render values identically; money is compared in exact cents
READ_COLS = ("l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, "
             "l_partkey, CAST(l_quantity AS BIGINT) AS qty, "
             "CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents, "
             "l_returnflag, l_linestatus")
FINAL_COLS = (READ_COLS + ", CAST(round(l_discount * 100) AS BIGINT) AS disc, "
              "CAST(l_shipdate AS STRING) AS shipdate")
# user bytes of one row: the fixed widths of the typed columns plus one
# byte per flag string
ROW_BYTES = 8 + 4 + 8 + 8 + 8 + 8 + 1 + 1 + 4
FULL_AGG = ("SELECT l_returnflag, l_linestatus, count(*) AS n, "
            "CAST(sum(l_quantity) AS BIGINT) AS qty, "
            "sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS price_cents, "
            "sum(CAST(round(l_discount * 100) AS BIGINT)) AS disc "
            "FROM {T} GROUP BY l_returnflag, l_linestatus")


def _read_op(kind: str, sql: str) -> dict:
    return {"kind": kind, "spark": sql, "duck": [sql], "read": True}


def _insert_op(src: str, rows: int) -> dict:
    cols = ", ".join(LAKE_NAMES)
    return {"kind": "insert", "user_rows": rows,
            "spark": f"INSERT INTO {{T}} SELECT {cols} FROM parquet.`{src}`",
            "duck": [f"INSERT INTO {{T}} SELECT {cols} FROM read_parquet('{src}')"]}


def _merge_op(src: str, rows: int) -> dict:
    """Updates to live rows plus new rows. DuckDB has no MERGE, so the
    shadow replays it as UPDATE ... FROM then INSERT of unmatched keys."""
    cols = ", ".join(LAKE_NAMES)
    on = "t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber"
    sets = ", ".join(f"{c} = s.{c}" for c in LAKE_NAMES[2:])
    return {"kind": "merge", "user_rows": rows,
            "spark": (f"MERGE INTO {{T}} t USING (SELECT {cols} FROM "
                      f"parquet.`{src}`) s ON {on} "
                      f"WHEN MATCHED THEN UPDATE SET {sets} "
                      f"WHEN NOT MATCHED THEN INSERT *"),
            "duck": [f"UPDATE {{T}} t SET {sets} FROM read_parquet('{src}') s "
                     f"WHERE {on}",
                     f"INSERT INTO {{T}} SELECT {cols} FROM read_parquet('{src}') s "
                     f"WHERE NOT EXISTS (SELECT 1 FROM {{T}} t WHERE {on})"]}


def lakehouse_rw(seed: int, out: str) -> dict:
    """Base table plus a seeded operation log.

    Each round inserts new orders, MERGEs updates to live rows plus new
    orders, and deletes the oldest orders (a retention window) so the
    live row count stays at LAKE_ROWS. Reads target live keys only.
    """
    rng = np.random.default_rng([seed, 3])
    base_orders = LAKE_ROWS // LAKE_LINES
    _write(_lake_rows(rng, 1, base_orders), f"{out}/base.parquet")
    low, high = 1, base_orders          # live order keys [low, high]
    rounds = []
    for r in range(LAKE_ROUNDS):
        ops = []
        ins = _lake_rows(rng, high + 1, LAKE_INSERT_ORDERS)
        _write(ins, f"{out}/r{r}_insert.parquet")
        high += LAKE_INSERT_ORDERS
        ops.append(_insert_op(f"{out}/r{r}_insert.parquet", ins.num_rows))

        upd_orders = rng.choice(np.arange(low, high + 1),
                                size=LAKE_MERGE_UPDATES, replace=False)
        upd = _lake_rows(rng, 0, LAKE_MERGE_UPDATES // LAKE_LINES).to_pydict()
        upd["l_orderkey"] = upd_orders.tolist()
        upd["l_linenumber"] = rng.integers(
            1, LAKE_LINES + 1, size=LAKE_MERGE_UPDATES).astype(np.int32).tolist()
        new = _lake_rows(rng, high + 1, LAKE_MERGE_NEW_ORDERS)
        high += LAKE_MERGE_NEW_ORDERS
        src = pa.concat_tables([pa.table(upd, schema=new.schema), new])
        _write(src, f"{out}/r{r}_merge.parquet")
        ops.append(_merge_op(f"{out}/r{r}_merge.parquet", src.num_rows))

        drop = LAKE_INSERT_ORDERS + LAKE_MERGE_NEW_ORDERS
        low += drop
        delete = f"DELETE FROM {{T}} WHERE l_orderkey < {low}"
        ops.append({"kind": "delete", "spark": delete, "duck": [delete],
                    "user_rows": drop * LAKE_LINES})

        for k in rng.integers(low, high + 1, size=LAKE_POINT_READS):
            ops.append(_read_op("point", f"SELECT {READ_COLS} FROM {{T}} "
                                         f"WHERE l_orderkey = {k}"))
        for a in rng.integers(low, high - LAKE_RANGE_ORDERS,
                              size=LAKE_RANGE_READS):
            ops.append(_read_op("range", f"SELECT {READ_COLS} FROM {{T}} "
                                         f"WHERE l_orderkey BETWEEN {a} AND "
                                         f"{a + LAKE_RANGE_ORDERS - 1}"))
        ops.append(_read_op("full", FULL_AGG))
        rounds.append(ops)
    return {"base": f"{out}/base.parquet", "columns": LAKE_COLUMNS,
            "final_cols": FINAL_COLS, "rounds": rounds}


GENERATORS = {"median_agg": median_agg, "llm_pipeline": llm_pipeline,
              "lakehouse_rw": lakehouse_rw}
