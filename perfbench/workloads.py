"""The benchmark's workloads: generated source database, seed SQL, export
format. Everything is drawn from the run's ``--seed``; the engine only
sees the generated parquet files and the SQL strings built here.

The driver-resident closure bound is 1M narrow rows per reachable table
(``planner/closure.py`` ``DRIVER_CLOSURE_LIMIT``): ``subset_small`` and
``subset_bulk`` fit it, ``deep_hierarchy`` does not (``tickets``), so its
closure runs the distributed semi-naive loop.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import duckdb
import numpy as np

from perfbench import gen, oracle


@dataclass
class Inputs:
    db_dir: str
    full_tables: list[str]
    partial_sql: dict[str, str]
    fmt: str                              # "zip" (dump/load) or "dir" (dump_distributed/load_distributed)
    source_rows: dict[str, int]


def _ids(values) -> str:
    return ", ".join(str(int(v)) for v in values)


def subset_small(root: str, seed: int, smoke: bool) -> Inputs:
    """A dev-sized slice: ~200 sampled orders plus one lineitem key range."""
    sf = 0.001 if smoke else 0.1
    rows = gen.tpch_db(root, seed, sf)
    rng = np.random.default_rng([seed, 3])
    n_orders = rows["orders"]
    picked = np.sort(rng.choice(np.arange(1, n_orders + 1), 10 if smoke else 200, replace=False))
    lo = int(rng.integers(1, n_orders - 50))
    return Inputs(
        root, [],
        {
            "orders": f"SELECT * FROM orders WHERE o_orderkey IN ({_ids(picked)})",
            "lineitem": f"SELECT * FROM lineitem WHERE l_orderkey BETWEEN {lo} AND {lo + (5 if smoke else 50)}",
        },
        "zip", rows,
    )


def subset_bulk(root: str, seed: int, smoke: bool) -> Inputs:
    """A bulk slice: one in BULK_SHARE lineitems, region and nation whole."""
    sf = 0.001 if smoke else 0.1
    rows = gen.tpch_db(root, seed, sf)
    r = int(np.random.default_rng([seed, 4]).integers(0, BULK_SHARE))
    return Inputs(
        root, ["region", "nation"],
        {"lineitem": f"SELECT * FROM lineitem WHERE l_orderkey % {BULK_SHARE} = {r}"},
        "zip", rows,
    )


BULK_SHARE = 64
HIERARCHY = dict(groups=200, employees=100_000, depth=8, tickets=1_200_000, comments=1_500_000)
HIERARCHY_SMOKE = dict(groups=10, employees=2_000, depth=4, tickets=20_000, comments=40_000)


def deep_hierarchy(root: str, seed: int, smoke: bool) -> Inputs:
    """A few dozen comments whose closure climbs manager/referrer chains.
    Every seed comment hangs off a ticket written by an employee on the
    deepest level, so each seed needs the same number of rounds."""
    shape = HIERARCHY_SMOKE if smoke else HIERARCHY
    rows = gen.hierarchy_db(root, seed, **shape)
    depth = shape["depth"]
    con = duckdb.connect()
    deepest = con.execute(
        f"SELECT c.id FROM read_parquet('{root}/comments.parquet') c "
        f"JOIN read_parquet('{root}/tickets.parquet') t ON c.ticket_id = t.id "
        f"WHERE (t.author_id - 1) % {depth} = {depth - 1} ORDER BY c.id"
    ).fetchnumpy()["id"]
    con.close()
    picked = np.random.default_rng([seed, 5]).choice(deepest, 8 if smoke else 40, replace=False)
    return Inputs(
        root, [],
        {"comments": f"SELECT * FROM comments WHERE id IN ({_ids(np.sort(picked))})"},
        "dir", rows,
    )


WORKLOADS = {
    "subset_small": subset_small,
    "subset_bulk": subset_bulk,
    "deep_hierarchy": deep_hierarchy,
}


def prepare(name: str, root: str, seed: int, smoke: bool) -> tuple[Inputs, oracle.Expected, float, float]:
    """Generate the workload's inputs and its expected closure (with the
    generation and oracle seconds)."""
    t0 = time.perf_counter()
    inputs = WORKLOADS[name](os.path.join(root, "source"), seed, smoke)
    t1 = time.perf_counter()
    expected = oracle.expected_closure(inputs.db_dir, inputs.full_tables, inputs.partial_sql)
    return inputs, expected, t1 - t0, time.perf_counter() - t1


if __name__ == "__main__":
    # python3 -m perfbench.workloads <workload> <root> <seed> <smoke 0|1> <out.pickle>
    import pickle
    import sys

    from perfbench import workloads   # pickle by the module's import name, not __main__

    name, root, seed, smoke, out = sys.argv[1:]
    result = workloads.prepare(name, root, int(seed), smoke == "1")
    with open(out, "wb") as f:
        pickle.dump(result, f)
