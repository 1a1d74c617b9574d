"""The ``etl_compat`` workload: the reference library's own traffic through
the drop-in API ``compat.MSSQL('spark', ...)``, and an independent pandas
model of the same calls.

One pass is, in order: ``connect``; one ``get_data`` of a 3-way join into
pandas with category/bool/float directives and a decimal column;
``INSERTS`` ``insert_data`` calls into a staging table; ``update_data``
with list-of-dict records, some for keys absent from the table;
``update_from_table`` from the staging table; ``delete_data_with_conditions``
on orders; ``truncate_table`` of the staging table.

The workload seed picks the inserted rows and their keys, the updated
records and the delete threshold.  The model keeps flowbyte's quirks:
updates to absent keys are skipped, and ``update_from_table`` sets only
``df.columns[1:]``, so the first column of the frame passed in is never
updated.
"""

from __future__ import annotations

import os
import shutil
from decimal import Decimal

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench.canon import canon, mismatch
from perfbench.fixture import SEGMENTS

DATABASE = "bench"
TABLES = ("customer", "orders", "lineitem")
INSERTS = 2  # insert_data calls per pass, each of n_customers / 2 rows

# Staging rows carry customer columns; c_name comes first, so
# update_from_table (df.columns[1:]) never copies it.
STAGING_COLUMNS = ["c_name", "c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment"]

GET_DATA_SQL = """
SELECT o.o_orderkey, o.o_orderstatus, o.o_orderpriority,
       c.c_custkey, c.c_mktsegment, c.c_acctbal,
       l.l_linenumber, l.l_quantity, l.l_returnflag,
       CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS is_returned,
       CAST(l.l_extendedprice AS DECIMAL(12, 2))
         * (1 - CAST(l.l_discount AS DECIMAL(4, 2))) AS net_price
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
WHERE o.o_orderpriority = '1-URGENT' AND l.l_quantity <= 20
"""
GET_DATA_DIRECTIVES = {
    "category_columns": ["c_mktsegment", "o_orderpriority"],
    "bool_columns": ["is_returned"],
    "float_columns": ["l_linenumber"],
}
_SCALE20 = Decimal(1).scaleb(-20)


def table_dir(warehouse: str, table: str) -> str:
    return os.path.join(warehouse, DATABASE, f"dbo.{table}")


def build_warehouse(fixture_dir: str, warehouse: str) -> None:
    """Pristine warehouse: the fixture's customer/orders/lineitem plus an
    empty customer-shaped staging table, one parquet directory each."""
    for t in TABLES:
        os.makedirs(table_dir(warehouse, t))
        shutil.copy(
            os.path.join(fixture_dir, f"{t}.parquet"),
            os.path.join(table_dir(warehouse, t), "part-00000.parquet"),
        )
    staging = pq.read_table(os.path.join(fixture_dir, "customer.parquet"))
    staging = staging.select(STAGING_COLUMNS).slice(0, 0)
    os.makedirs(table_dir(warehouse, "staging"))
    pq.write_table(
        staging.replace_schema_metadata(None),
        os.path.join(table_dir(warehouse, "staging"), "part-00000.parquet"),
    )


def read_table(warehouse: str, table: str) -> pd.DataFrame:
    return pq.read_table(table_dir(warehouse, table)).to_pandas()


def make_inputs(seed: int, n_customers: int, prices: np.ndarray) -> dict:
    """Everything the seed decides: staging rows, update records and the
    delete threshold.  Keys are drawn from twice the customer key range,
    so about half of them are absent from the table."""
    rng = np.random.default_rng(seed)
    n = INSERTS * (n_customers // 2)
    keys = rng.choice(2 * n_customers, n + n_customers // 3, replace=False)
    stage_keys, upd_keys = keys[:n], keys[n:]
    staging = pd.DataFrame({
        "c_name": [f"Staged#{k:09d}" for k in stage_keys],
        "c_custkey": stage_keys.astype(np.int64),
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n),
    })[STAGING_COLUMNS]
    updates = [
        {"c_custkey": int(k), "c_acctbal": float(b), "c_mktsegment": str(s)}
        for k, b, s in zip(
            upd_keys,
            np.round(rng.uniform(-999.99, 9999.99, len(upd_keys)), 2),
            rng.choice(SEGMENTS, len(upd_keys)),
        )
    ]
    threshold = float(np.round(np.quantile(prices, rng.uniform(0.05, 0.25)), 2))
    return {"staging": staging, "updates": updates, "threshold": threshold}


def run_pass(compat, warehouse: str, inputs: dict, op):
    """Issue the pass's calls one at a time through ``op(name, fn)``, which
    times each call; returns the frame ``get_data`` produced."""
    db = compat.MSSQL("spark", warehouse, DATABASE, "bench", "bench", None)
    op("connect", db.connect)
    frame = op("get_data", lambda: db.get_data(GET_DATA_SQL, **GET_DATA_DIRECTIVES))
    staging = inputs["staging"]
    size = -(-len(staging) // INSERTS)
    for i in range(0, len(staging), size):
        chunk = staging.iloc[i:i + size]
        op("insert_data", lambda c=chunk: db.insert_data("dbo", "staging", c))
    op("update_data", lambda: db.update_data(
        "dbo", "customer", inputs["updates"], ["c_custkey"]))
    op("update_from_table", lambda: db.update_from_table(
        staging, "dbo.customer", "dbo.staging", ["c_custkey"]))
    op("delete_data_with_conditions", lambda: db.delete_data_with_conditions(
        "dbo", "orders", f"o_totalprice < {inputs['threshold']}"))
    op("truncate_table", lambda: db.truncate_table("dbo", "staging"))
    return frame


class Model:
    """Independent pandas model of one pass over the pristine warehouse."""

    def __init__(self, pristine: str, inputs: dict):
        cust = read_table(pristine, "customer")
        orders = read_table(pristine, "orders")
        line = read_table(pristine, "lineitem")
        self.get_data = canon(self._get_data(cust, orders, line))
        self.tables = {
            "customer": canon(self._customer(cust, inputs)),
            "orders": canon(orders[~(orders.o_totalprice < inputs["threshold"])]),
            "staging": canon(inputs["staging"].iloc[0:0]),
        }

    @staticmethod
    def _get_data(cust, orders, line) -> pd.DataFrame:
        o = orders[orders.o_orderpriority == "1-URGENT"]
        j = o.merge(line, left_on="o_orderkey", right_on="l_orderkey").merge(
            cust, left_on="o_custkey", right_on="c_custkey")
        j = j[j.l_quantity <= 20]
        net = [
            (Decimal(repr(p)) * (1 - Decimal(repr(d)))).quantize(_SCALE20)
            for p, d in zip(j.l_extendedprice.tolist(), j.l_discount.tolist())
        ]
        return pd.DataFrame({
            "o_orderkey": j.o_orderkey, "o_orderstatus": j.o_orderstatus,
            "o_orderpriority": j.o_orderpriority, "c_custkey": j.c_custkey,
            "c_mktsegment": j.c_mktsegment, "c_acctbal": j.c_acctbal,
            "l_linenumber": j.l_linenumber.astype(np.float64),
            "l_quantity": j.l_quantity, "l_returnflag": j.l_returnflag,
            "is_returned": j.l_returnflag == "R", "net_price": net,
        })

    @staticmethod
    def _customer(cust, inputs) -> pd.DataFrame:
        cust = cust.set_index("c_custkey")
        upd = pd.DataFrame(inputs["updates"]).set_index("c_custkey")
        upd = upd[upd.index.isin(cust.index)]  # absent keys are skipped
        cust.loc[upd.index, upd.columns] = upd
        staged = inputs["staging"].set_index("c_custkey")
        cols = [c for c in list(inputs["staging"].columns)[1:] if c != "c_custkey"]
        staged = staged[staged.index.isin(cust.index)][cols]
        cust.loc[staged.index, cols] = staged
        return cust.reset_index()

    def check(self, frame, warehouse: str) -> str | None:
        """None when the pass's outputs equal the model, else why not."""
        if frame is None:
            return "get_data returned None"
        got = frame.copy()
        for c in GET_DATA_DIRECTIVES["category_columns"]:
            if got[c].dtype.name != "category":
                return f"get_data: {c} is {got[c].dtype}, not category"
            got[c] = got[c].astype(object)
        why = mismatch(canon(got), self.get_data)
        if why:
            return f"get_data: {why}"
        for t, want in self.tables.items():
            why = mismatch(canon(read_table(warehouse, t)), want)
            if why:
                return f"{t}: {why}"
        return None
