"""Independent output check, computed with DuckDB rather than Spark.

``expected_closure`` recomputes a dump's FK closure over the source
parquet the way the reference engine does (xdump/base.py:118-171,
253-262): ``IN (SELECT ...)`` semi-joins from every selected child into
its parent, iterated to a fixed point, with a ``WITH RECURSIVE ... UNION``
query for tables that reference themselves. ``check_target`` then compares
a loaded parquet database against it: per-table row count and an
order-independent content hash, referential integrity of every FK edge,
and the sequence counters the load wrote.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import duckdb


@dataclass
class Expected:
    rows: dict[str, int]                 # table -> row count of the closure
    digest: dict[str, int]               # table -> order-independent content hash
    sequences: dict[str, int]            # referenced table -> max referenced key
    fks: list[tuple[str, str, str, str]]  # (table, column, foreign_table, foreign_column)


@dataclass
class Check:
    ok: bool = True
    problems: list[str] = field(default_factory=list)
    rows: dict[str, int] = field(default_factory=dict)
    sequences_lost: int = 0

    def fail(self, msg: str) -> None:
        self.ok = False
        self.problems.append(msg)


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    return con


def _digest(con: duckdb.DuckDBPyConnection, relation: str) -> tuple[int, int]:
    """(row count, sum of per-row hashes) of ``relation``. Columns are
    hashed in name order through a width-independent rendering, so an
    int column written back as bigint, or a timestamp read back with a
    UTC zone, hashes the same while any changed value does not."""
    cols = con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()
    parts = []
    for name, dtype, *_ in sorted(cols):
        ident = '"' + name.replace('"', '""') + '"'
        if dtype.startswith("TIMESTAMP"):
            parts.append(f"epoch_us({ident})")
        else:
            parts.append(f"CAST({ident} AS VARCHAR)")
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({', '.join(parts)})::HUGEINT), 0) "
        f"FROM {relation}"
    ).fetchone()
    return int(n), int(h)


def _read_fks(db_dir: str) -> list[tuple[str, str, str, str]]:
    with open(os.path.join(db_dir, "fk_config.json")) as f:
        return [(d["table"], d["column"], d["foreign_table"], d["foreign_column"]) for d in json.load(f)]


def expected_closure(db_dir: str, full_tables, partial_sql: dict[str, str]) -> Expected:
    """The closure of (full_tables, partial_sql) over the parquet database
    at ``db_dir``, as the reference computes it."""
    fks = _read_fks(db_dir)
    con = _connect()
    tables = sorted(
        n.removesuffix(".parquet") for n in os.listdir(db_dir) if n.endswith(".parquet")
    )
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{db_dir}/{t}.parquet')")

    selected: dict[str, int] = {}     # table -> rows in sel_<table>

    def store(table: str, sql: str) -> bool:
        """Replace sel_<table> with ``sql``; True when its row count grew."""
        con.execute(f"CREATE OR REPLACE TABLE sel_{table}_next AS {sql}")
        n = con.execute(f"SELECT count(*) FROM sel_{table}_next").fetchone()[0]
        con.execute(f"DROP TABLE IF EXISTS sel_{table}")
        con.execute(f"ALTER TABLE sel_{table}_next RENAME TO sel_{table}")
        grew = n != selected.get(table)
        selected[table] = n
        return grew

    for t in full_tables:
        store(t, f"SELECT DISTINCT * FROM {t}")
    for t, sql in partial_sql.items():
        store(t, f"SELECT DISTINCT * FROM ({sql})")

    changed = True
    while changed:
        changed = False
        for parent in tables:
            if parent in full_tables:
                continue
            into = [fk for fk in fks if fk[2] == parent and fk[0] != parent and fk[0] in selected]
            self_edges = [fk for fk in fks if fk[0] == parent and fk[2] == parent]
            legs = [
                f"SELECT * FROM {parent} WHERE {fcol} IN (SELECT {col} FROM sel_{child})"
                for child, col, _, fcol in into
            ]
            if parent in selected:
                legs.append(f"SELECT * FROM sel_{parent}")
            if not legs or (not into and not self_edges):
                continue
            sql = " UNION ".join(legs)
            if self_edges:
                on = " OR ".join(f"b.{fcol} = r.{col}" for _, col, _, fcol in self_edges)
                sql = (
                    f"WITH RECURSIVE r AS ({sql} UNION "
                    f"SELECT b.* FROM {parent} b JOIN r ON {on}) SELECT * FROM r"
                )
            changed |= store(parent, sql)

    digest = {t: _digest(con, f"sel_{t}")[1] for t in selected}
    sequences = {}
    for t in selected:
        keys = {fcol for _, _, ft, fcol in fks if ft == t}
        if len(keys) == 1 and selected[t]:
            sequences[t] = int(con.execute(f"SELECT max({keys.pop()}) FROM sel_{t}").fetchone()[0])
    con.close()
    return Expected(dict(selected), digest, sequences, fks)


def check_target(exp: Expected, target_dir: str, dumped_sequences: dict | None) -> Check:
    """Compare the parquet database ``target_dir`` written by
    ``LoadedDump.write_parquet_db`` with the expected closure.

    ``dumped_sequences`` is the sequence state the archive carried (zip
    path), checked against the expected max keys; None skips that check
    (the directory format carries none). Sequence counters missing from
    the target's ``sequences.json`` are counted in ``sequences_lost``; no
    row is lost, so they do not fail the check."""
    res = Check()
    con = _connect()
    present = sorted(
        t for t in os.listdir(target_dir) if os.path.isdir(os.path.join(target_dir, t))
    )
    for t in present:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{target_dir}/{t}/*.parquet')"
        )
    for t in sorted(set(exp.rows) | set(present)):
        want_n, want_h = exp.rows.get(t, 0), exp.digest.get(t, 0)
        got_n, got_h = _digest(con, t) if t in present else (0, 0)
        res.rows[t] = got_n
        if got_n != want_n:
            res.fail(f"{t}: {got_n} rows loaded, {want_n} expected")
        elif got_h != want_h:
            res.fail(f"{t}: content hash differs from the expected closure")
    for table, col, ftable, fcol in exp.fks:
        if table not in present:
            continue
        if ftable in present:
            sql = (
                f"SELECT count(*) FROM {table} c WHERE c.{col} IS NOT NULL AND NOT EXISTS "
                f"(SELECT 1 FROM {ftable} p WHERE p.{fcol} = c.{col})"
            )
        else:
            sql = f"SELECT count(*) FROM {table} WHERE {col} IS NOT NULL"
        dangling = con.execute(sql).fetchone()[0]
        if dangling:
            res.fail(f"{table}.{col} -> {ftable}.{fcol}: {dangling} dangling references")
    con.close()

    if dumped_sequences is not None:
        got = {t: int(v) for t, v in dumped_sequences.items()}
        if got != exp.sequences:
            res.fail(f"dumped sequence state {got} != expected max keys {exp.sequences}")
    seq_file = os.path.join(target_dir, "sequences.json")
    written: dict = {}
    if os.path.exists(seq_file):
        with open(seq_file) as f:
            written = json.load(f)
    res.sequences_lost = sum(
        1 for t, v in exp.sequences.items() if int(written.get(t, -1)) != v
    )
    return res
