"""Seed-derived choices of one run, and the inputs made from them.

The seed picks the etl_flip window, the lake_sql query order and the
lake_commit merge keys and ranges. The engine receives only the inputs
built here; the checks in check.py replay the same choices.
"""
import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

ETL_TABLE = "lineitem"
# Ship dates are uniform between these days (order dates are uniform over
# 2400 days from 1992-01-01, shipping takes 1..121 days); windows inside
# them hold about the same number of rows whatever the seed.
ETL_WINDOW_DAYS = 730
ETL_FIRST_DAY = datetime.date(1992, 5, 2)
ETL_LAST_DAY = datetime.date(1998, 7, 28)

LAKE_MERGES = 3
LAKE_FILES = 16
LAKE_TABLES = ["lineitem", "orders", "customer", "part", "supplier", "nation",
               "region"]


def load_queries():
    with open(os.path.join(HERE, "queries.json")) as f:
        return json.load(f)


def etl_query(rng):
    """The run's ps_query. One window per run: the warm-up then compiles
    the very plans the timed rounds run."""
    span = (ETL_LAST_DAY - ETL_FIRST_DAY).days - ETL_WINDOW_DAYS
    lo = ETL_FIRST_DAY + datetime.timedelta(days=int(rng.integers(0, span)))
    hi = lo + datetime.timedelta(days=ETL_WINDOW_DAYS - 1)
    return f"SELECT * FROM {ETL_TABLE} WHERE l_shipdate BETWEEN '{lo}' AND '{hi}'"


def lake_inputs(rng, orders_path, dest):
    """Merge batches (~1% of the rows each: a third of the keys in a 3%
    key window, plus a few new keys) and an append batch, as parquet."""
    orders = pq.read_table(orders_path)
    keys = orders.column("o_orderkey").to_numpy()
    n = len(keys)
    top = int(keys.max()) + 1
    os.makedirs(dest, exist_ok=True)
    merges, merge_rows = [], []
    width = max(3, n * 3 // 100)
    for j in range(LAKE_MERGES):
        lo = int(rng.integers(0, n - width))
        chosen = keys[lo:lo + width]
        chosen = chosen[rng.random(len(chosen)) < 1 / 3]
        upd = orders.filter(pc.is_in(orders.column("o_orderkey"), pa.array(chosen)))
        upd = upd.set_column(upd.schema.get_field_index("o_totalprice"), "o_totalprice",
                             pc.round(pc.add(upd.column("o_totalprice"), 1.0), 2))
        upd = upd.set_column(upd.schema.get_field_index("o_orderstatus"),
                             "o_orderstatus", pa.array(["U"] * upd.num_rows))
        fresh = max(1, width // 30)
        new = orders.slice(int(rng.integers(0, n - fresh)), fresh)
        new = new.set_column(0, "o_orderkey",
                             pa.array(np.arange(fresh) + top + j * fresh, pa.int64()))
        path = os.path.join(dest, f"merge_{j}.parquet")
        batch = pa.concat_tables([upd, new])
        pq.write_table(batch, path)
        merges.append(path)
        merge_rows.append(batch.num_rows)
    n_app = max(1, n // 100)
    app = orders.slice(int(rng.integers(0, n - n_app)), n_app)
    app = app.set_column(0, "o_orderkey", pa.array(
        np.arange(n_app) + top + LAKE_MERGES * n, pa.int64()))
    append = os.path.join(dest, "append.parquet")
    pq.write_table(app, append)
    lo = int(rng.integers(0, n - n // 50))
    return {"merges": merges, "append": append, "range": [lo, lo + n // 50],
            "files": LAKE_FILES,
            "rows": {"overwrite": n, "merge": merge_rows, "append": n_app}}


def make(workload, seed, paths, run_dir):
    """The plan document the JVM side reads (see Main.scala)."""
    rng = np.random.default_rng(seed)
    plan = {"workload": workload, "paths": paths}
    if workload == "etl_flip":
        plan["etl"] = {"table": ETL_TABLE, "query": etl_query(rng)}
    elif workload == "lake_sql":
        qs = load_queries()
        plan["sql"] = {
            "queries": [qs[i] for i in rng.permutation(len(qs))],
            "tables": {t: paths[t] for t in LAKE_TABLES}}
    elif workload == "lake_commit":
        plan["lake"] = lake_inputs(rng, paths["orders"], os.path.join(run_dir, "inputs"))
    return plan
