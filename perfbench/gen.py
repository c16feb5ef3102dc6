"""Seeded synthetic source databases for the round-trip benchmark.

Each generator writes a parquet-directory database (one ``<table>.parquet``
file per table plus ``fk_config.json``), the layout the ``dump`` CLI reads
through ``ParquetDatabase``. The same seed always writes the same bytes.

* ``tpch_db``: the TPC-H-shaped star schema of the repository's testdata
  (same tables, columns, dtypes and FK edges), scaled by ``sf``.
* ``hierarchy_db``: the reference fixture's groups/employees/tickets shape
  (FIXTURES.md) at scale, plus a ``comments`` table under ``tickets``.
  Employees sit on ``depth`` levels; each one's manager is on the level
  directly above, and a share of them also have a referrer on a strictly
  higher level, so every self-FK chain ends within ``depth`` hops.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TPCH_FKS = [
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
]

HIERARCHY_FKS = [
    ("employees", "manager_id", "employees", "id"),
    ("employees", "referrer_id", "employees", "id"),
    ("employees", "group_id", "groups", "id"),
    ("tickets", "author_id", "employees", "id"),
    ("comments", "ticket_id", "tickets", "id"),
]


def _labels(prefix: str, keys: np.ndarray) -> pa.Array:
    return pc.binary_join_element_wise(prefix, pa.array(keys).cast(pa.string()), "")


def _pick(rng: np.random.Generator, words: list[str], n: int) -> pa.Array:
    return pc.take(pa.array(words), pa.array(rng.integers(0, len(words), n)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _timestamps(rng: np.random.Generator, n: int) -> pa.Array:
    start = np.datetime64("1992-01-01T00:00:00", "us")
    days = rng.integers(0, 2400, n).astype("timedelta64[D]")
    return pa.array(start + days.astype("timedelta64[us]"), type=pa.timestamp("us"))


def _write_db(root: str, tables: dict[str, pa.Table], fks) -> dict[str, int]:
    os.makedirs(root, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
    with open(os.path.join(root, "fk_config.json"), "w") as f:
        json.dump(
            [
                {"table": t, "column": c, "foreign_table": ft, "foreign_column": fc, "name": None}
                for t, c, ft, fc in fks
            ],
            f,
        )
    return {name: t.num_rows for name, t in tables.items()}


def tpch_db(root: str, seed: int, sf: float) -> dict[str, int]:
    """Write the TPC-H-shaped database; returns {table: rows}."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(int(150_000 * sf), 20)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 50)

    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    nkeys = np.arange(25)
    nation = pa.table({
        "n_nationkey": pa.array(nkeys, pa.int32()),
        "n_name": _labels("NATION_", nkeys),
        "n_regionkey": pa.array(nkeys % 5, pa.int32()),
    })
    ckeys = np.arange(1, n_cust + 1)
    customer = pa.table({
        "c_custkey": pa.array(ckeys, pa.int64()),
        "c_name": _labels("Customer#", ckeys),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(
            rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    skeys = np.arange(1, n_supp + 1)
    supplier = pa.table({
        "s_suppkey": pa.array(skeys, pa.int64()),
        "s_name": _labels("Supplier#", skeys),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pkeys = np.arange(1, n_part + 1)
    part = pa.table({
        "p_partkey": pa.array(pkeys, pa.int64()),
        "p_name": _labels("part ", pkeys),
        "p_brand": _labels("Brand#", rng.integers(11, 56, n_part)),
        "p_type": _pick(rng, ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": _money(rng, 900.0, 2100.0, n_part),
    })
    okeys = np.arange(1, n_ord + 1)
    orders = pa.table({
        "o_orderkey": pa.array(okeys, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 800.0, 500_000.0, n_ord),
        "o_orderdate": _timestamps(rng, n_ord),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    lines = rng.integers(1, 8, n_ord)
    l_okey = np.repeat(okeys, lines)
    n_line = len(l_okey)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    lineitem = pa.table({
        "l_orderkey": pa.array(l_okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, n_part + 1, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_line), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_line) - first + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 100_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _timestamps(rng, n_line),
    })
    return _write_db(
        root,
        {
            "region": region, "nation": nation, "customer": customer, "supplier": supplier,
            "part": part, "orders": orders, "lineitem": lineitem,
        },
        TPCH_FKS,
    )


def hierarchy_db(
    root: str, seed: int, groups: int, employees: int, depth: int,
    tickets: int, comments: int, referrer_share: float = 0.1,
) -> dict[str, int]:
    """Write the groups/employees/tickets/comments database; returns
    {table: rows}. Employee ``i`` (1-based) sits on level ``(i-1) % depth``."""
    rng = np.random.default_rng([seed, 2])
    gkeys = np.arange(1, groups + 1)
    group_t = pa.table({"id": pa.array(gkeys, pa.int64()), "name": _labels("group ", gkeys)})

    ekeys = np.arange(1, employees + 1)
    level = (ekeys - 1) % depth
    # a random employee on the level above: ids on level L are L+1, L+1+depth, ...
    per_level = employees // depth
    above = rng.integers(0, per_level, employees) * depth + level     # an id one level up
    manager = np.where(level > 0, above, -1)
    has_ref = (rng.random(employees) < referrer_share) & (level > 1)
    ref_level = (rng.random(employees) * np.maximum(level - 1, 1)).astype(np.int64)
    referrer = np.where(has_ref, rng.integers(0, per_level, employees) * depth + ref_level + 1, -1)
    employee_t = pa.table({
        "id": pa.array(ekeys, pa.int64()),
        "first_name": _pick(rng, ["John", "Jane", "Alex", "Sam", "Kim", "Lee"], employees),
        "last_name": _labels("Surname", rng.integers(0, 5000, employees)),
        "manager_id": pa.array(manager, pa.int64(), mask=manager < 0),
        "referrer_id": pa.array(referrer, pa.int64(), mask=referrer < 0),
        "group_id": pa.array(rng.integers(1, groups + 1, employees), pa.int64()),
    })
    tkeys = np.arange(1, tickets + 1)
    ticket_t = pa.table({
        "id": pa.array(tkeys, pa.int64()),
        "author_id": pa.array(rng.integers(1, employees + 1, tickets), pa.int64()),
        "subject": _pick(rng, ["Sub 1", "Sub 2", "Sub 3", "Sub 4", "Sub 5"], tickets),
    })
    ckeys = np.arange(1, comments + 1)
    comment_t = pa.table({
        "id": pa.array(ckeys, pa.int64()),
        "ticket_id": pa.array(rng.integers(1, tickets + 1, comments), pa.int64()),
        "body": _pick(rng, ["ok", "needs info", "fixed", "wontfix", "duplicate"], comments),
    })
    return _write_db(
        root,
        {"groups": group_t, "employees": employee_t, "tickets": ticket_t, "comments": comment_t},
        HIERARCHY_FKS,
    )
