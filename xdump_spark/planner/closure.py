"""FK-transitive-closure planner — the engine's core operator.

Semantics reproduced from the reference (child→parent reachability):

* Seed rows per partial table come from arbitrary user SQL
  (reference: xdump/base.py:127-148).
* Every selected row pulls the parent rows it references through each FK
  edge — a semi-join per edge (``IN (SELECT col FROM source)``,
  xdump/base.py:154-171) — transitively to a fixed point
  (``update_partial_tables`` recursion, xdump/base.py:118-148).
* Self-referencing FKs are followed transitively too (``WITH RECURSIVE``,
  xdump/base.py:253-262); children of selected rows are never pulled.
* Tables listed as *full* are complete: they propagate outward but edges
  pointing INTO them are skipped (xdump/postgresql.py:148-156).
* Results are duplicate-free (SQL ``UNION`` distinct, xdump/base.py:142-146).

Spark-first design (NOT a translation of the string-rewriting planner):
semi-naive key-set propagation. Each referenced table accumulates a
*key-set* (values of its referenced column); worklist increments are
anti-joined against the accumulated set, so cycles (including self-FKs
and multi-edge self-FKs) terminate without special-casing, and multi-path
reachability dedupes by construction. Each table is materialized ONCE at
the end via a single semi-join base ⋉ key-set.

Scale properties (the reason for this shape):
* One residency rule per table. Every statically reachable table's
  narrow projection (key + FK columns; a seed's too) is sized once, by
  counts in one Spark job — nothing is collected before it is known to
  fit. A table within ``DRIVER_CLOSURE_LIMIT`` rows is *resident*: its
  projection is collected once as Arrow and its keys saturate in a
  driver BFS over numpy columns (any depth, any self-FK cycle, no Spark
  job per level). Only oversized tables run distributed rounds, so the
  job count is O(depth × oversized tables), not O(depth × tables).
* Keys cross the boundary once per round: values the driver BFS sends
  to an oversized parent become that parent's increment frame; values an
  oversized increment sends to a resident parent are matched against the
  parent's keys (so the collect is bounded by the parent's size) and fed
  back to the BFS. All tables resident = one sizing job plus one
  collect wave; none resident = the plain round loop.
* Shuffled data is only ever the small key-sets, never full rows; the big
  per-table semi-join happens once, with the key side broadcast when small
  (adaptive on the checkpoint-known count).
* ``localCheckpoint`` per increment truncates lineage — the classic Spark
  transitive-closure pitfall (exponentially growing plans).
* Base tables are scanned with column pruning (only the FK columns reach
  the scan during propagation).
* An increment feeding ≥2 FK edges is checkpointed as a NARROW frame (just
  the FK columns) so the underlying table is scanned once per round, not
  once per edge — at scale duplicate scans are the dominant waste.
* Each round runs its per-parent jobs from driver threads (``overlap``,
  which keeps the caller's job group and description) so the scheduler
  overlaps them. (A fused single-job variant — all parents union-tagged
  into one wide frame, one checkpoint per round — measured ~2× SLOWER at
  sf0.1: AQE executes the fused query's shuffle stages in serialized
  waves, while independent jobs overlap freely.)
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from xdump_spark.catalog import Catalog
from xdump_spark.operators.concurrency import overlap
from xdump_spark.timing import logger

# Key-sets below this row count are broadcast into the semi-join; larger
# ones go through a shuffled join (AQE may still pick SHJ/SMJ).
BROADCAST_KEY_LIMIT = 5_000_000

# Residency bound, in narrow-projection (key + FK columns) rows, per
# reachable table: a table within it is collected once and saturates on
# the driver; a larger one keeps the distributed round loop (each round =
# a checkpoint job + a count job per touched table). The driver holds a
# resident table as a few numpy/Arrow columns, ~8 bytes per value, so 1M
# rows is tens of MB — the same order as one broadcast relation.
DRIVER_CLOSURE_LIMIT = 1_000_000


def validate_tables(catalog: Catalog, full_tables, partial_tables) -> None:
    """Full and partial table sets must be disjoint and known.

    Mirrors ``input_check`` (reference: xdump/base.py:108-116)."""
    full = set(full_tables)
    partial = set(partial_tables)
    overlap = full & partial
    if overlap:
        raise ValueError(
            f"full_tables and partial_tables must not overlap; got both: {sorted(overlap)}"
        )
    unknown = (full | partial) - set(catalog.tables)
    if unknown:
        raise ValueError(f"unknown tables: {sorted(unknown)}")


def pull_related(target_df: DataFrame, target_col: str, source_df: DataFrame, source_col: str,
                 broadcast_keys: bool = True) -> DataFrame:
    """Rows of ``target_df`` referenced by ``source_df`` through one FK edge.

    The reference's ``get_related_data_sql`` semi-join
    (``SELECT * FROM target WHERE target_col IN (SELECT source_col FROM
    source)``, xdump/base.py:154-171) as a left-semi join."""
    keys = source_df.select(F.col(source_col).alias(target_col)).where(
        F.col(target_col).isNotNull()
    ).distinct()
    if broadcast_keys:
        keys = F.broadcast(keys)
    return target_df.join(keys, on=target_col, how="left_semi")


# Fold unmerged key-set increments into the single accumulated frame once
# this many pile up (LSM-style): the per-round anti-join chains one
# broadcast join per unmerged piece (bounded by this constant), while the
# merge — a map-only re-copy of the whole accumulated set — runs every
# K rounds instead of every round.
ACC_MERGE_THRESHOLD = 4


@dataclass
class _Selection:
    """Per-table accumulated selection state during propagation.

    ``keys`` is the merged accumulator, ``pieces`` are checkpointed
    increments not yet folded in. Every frame that serves as an anti- or
    semi-join side is a SINGLE checkpointed relation (never a lazy Union):
    joining against a Union of checkpoints trips a Spark 4.1 optimizer
    defect (``UnionBase.rewriteConstraints`` key-not-found during
    constraint inference). *Executing* a union inside a checkpoint job is
    fine — that is what ``_merge`` does."""

    key_col: str | None                       # referenced column (row identity), if any
    keys: DataFrame | None = None             # merged accumulated key-set (checkpointed)
    pieces: list[DataFrame] = field(default_factory=list)   # unmerged checkpointed increments
    n_keys: int = 0
    seed_dfs: list[DataFrame] = field(default_factory=list)   # raw seed row sets
    is_full: bool = False

    def subtract_seen(self, contrib: DataFrame) -> DataFrame:
        """Anti-join ``contrib`` against everything accumulated so far —
        one chained join per piece, each against a single checkpointed
        relation. Broadcast only while the set is known-small; past the
        limit fall back to shuffled joins (broadcasting unconditionally
        would collect the whole key-set to the driver every round)."""
        small = self.n_keys <= BROADCAST_KEY_LIMIT
        for seen in ([self.keys] if self.keys is not None else []) + self.pieces:
            side = F.broadcast(seen) if small else seen
            contrib = contrib.join(side, on=self.key_col, how="left_anti")
        return contrib

    def add_keys(self, new: DataFrame, n_new: int) -> None:
        self.pieces.append(new)
        self.n_keys += n_new
        if len(self.pieces) + (self.keys is not None) > ACC_MERGE_THRESHOLD:
            self._merge()

    def _merge(self) -> None:
        frames = ([self.keys] if self.keys is not None else []) + self.pieces
        merged = frames[0]
        for f in frames[1:]:
            merged = merged.union(f)
        self.keys = merged.localCheckpoint(eager=True) if len(frames) > 1 else frames[0]
        self.pieces = []

    def all_keys(self) -> DataFrame | None:
        """The full accumulated key-set as one checkpointed relation."""
        if self.pieces:
            self._merge()
        return self.keys


def _arrow(values, typ: pa.DataType | None) -> pa.Array:
    """One contiguous Arrow array of ``values``, cast to ``typ`` if given."""
    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    return values if typ is None or values.type == typ else values.cast(typ)


def _row_counts(frames: list[DataFrame]) -> list[int]:
    """Row counts of several frames in ONE Spark job and no shuffle: the
    (column-pruned) frames are unioned under a tag and counted by an
    ``Observation`` on a noop write."""
    tagged = reduce(
        DataFrame.unionAll, [df.select(F.lit(i).alias("_n")) for i, df in enumerate(frames)]
    )
    obs = Observation()
    tagged.observe(
        obs, *[F.count_if(F.col("_n") == i).alias(str(i)) for i in range(len(frames))]
    ).write.format("noop").mode("overwrite").save()
    return [obs.get[str(i)] for i in range(len(frames))]


class _DriverBFS:
    """Key-set saturation of the resident tables, on the driver.

    A resident table with outgoing edges is held as columns, never as
    per-row objects: its distinct key values (``keys``), a CSR index from
    key code to rows (``order``/``bounds``; a duplicated key keeps every
    row), and per edge either the parent's key codes (parent held here
    too) or the raw FK values. ``seen`` marks selected keys and
    ``frontier`` the selected ones not yet expanded; a seed's keys are
    seen but never expanded (their FK values come from the seed rows).
    Values for any other table — a resident leaf or an oversized parent —
    pile up in ``box``. ``touched`` records tables that received a
    non-null value, dangling ones included, as the round loop does."""

    def __init__(self, targets: dict[str, list[tuple[str, str]]],
                 key_type: dict[str, pa.DataType]):
        self.targets, self.key_type = targets, key_type
        self.keys, self.order, self.bounds, self.seen, self.edges = {}, {}, {}, {}, {}
        self.frontier: dict[str, list[np.ndarray]] = {}
        self.box: dict[str, list[pa.Array]] = {}
        self.touched: set[str] = set()

    def hold(self, tables: dict[str, pa.Table]) -> None:
        """Index each table's collected (key, FK columns...) projection."""
        for t, tbl in tables.items():
            enc = tbl.column(0).combine_chunks().dictionary_encode()
            codes = enc.indices.fill_null(-1).to_numpy()
            self.keys[t] = enc.dictionary
            self.order[t] = np.argsort(codes, kind="stable")
            self.bounds[t] = np.searchsorted(
                codes[self.order[t]], np.arange(len(enc.dictionary) + 1)
            )
            self.seen[t] = np.zeros(len(enc.dictionary), bool)
        for t, tbl in tables.items():
            self.edges[t] = [
                self.codes(p, col) if p in self.keys else _arrow(col, self.key_type.get(p))
                for (_c, p), col in zip(self.targets[t], tbl.columns[1:])
            ]

    def codes(self, p: str, values) -> np.ndarray:
        """Key codes of ``values`` in held table ``p``: -1 for null, -2
        for a value no row of ``p`` has (dangling)."""
        values = _arrow(values, self.keys[p].type)
        idx = pc.index_in(values, value_set=self.keys[p]).fill_null(-2).to_numpy()
        return np.where(values.is_valid().to_numpy(zero_copy_only=False), idx, -1)

    def mark(self, p: str, codes: np.ndarray, expand: bool = True) -> None:
        if (codes != -1).any():
            self.touched.add(p)
        codes = np.unique(codes[codes >= 0])
        new = codes[~self.seen[p][codes]]
        self.seen[p][new] = True
        if expand and len(new):
            self.frontier.setdefault(p, []).append(new)

    def send(self, p: str, values, expand: bool = True) -> None:
        """FK values (or seed keys, ``expand=False``) arriving at ``p``."""
        if p in self.keys:
            self.mark(p, self.codes(p, values), expand)
        else:
            self.box.setdefault(p, []).append(_arrow(values, self.key_type.get(p)))

    def saturate(self) -> None:
        """Expand the frontier to a fixed point over the held tables."""
        while self.frontier:
            t, parts = self.frontier.popitem()
            codes = np.concatenate(parts)
            lo = self.bounds[t][codes]
            n = self.bounds[t][codes + 1] - lo
            rows = self.order[t][np.repeat(lo - np.cumsum(n) + n, n) + np.arange(n.sum())]
            for (_c, p), vals in zip(self.targets[t], self.edges[t]):
                if isinstance(vals, np.ndarray):
                    self.mark(p, vals[rows])
                else:
                    self.box.setdefault(p, []).append(vals.take(rows))

    def take(self, p: str) -> pa.Array:
        """Distinct non-null values boxed for ``p`` so far (and unbox them)."""
        parts = self.box.pop(p, None) or [pa.array([], self.key_type[p])]
        return pc.unique(pa.concat_arrays(parts)).drop_null()

    def selected(self, t: str) -> pa.Array | None:
        """Final key set of resident table ``t``; None if never reached."""
        if t in self.keys:
            return self.keys[t].filter(pa.array(self.seen[t])) if t in self.touched else None
        vals = self.take(t)
        return vals if len(vals) or t in self.touched else None


def compute_closure(
    catalog: Catalog,
    full_tables: list[str] | tuple[str, ...] = (),
    partial_tables: dict[str, DataFrame | str] | None = None,
    spark: SparkSession | None = None,
    max_steps: int = 10_000,
    salt_materialize: int | dict[str, int] | None = None,
) -> dict[str, DataFrame]:
    """Compute the referentially-closed subset for a dump.

    ``partial_tables`` maps table name → seed DataFrame or seed SQL string
    (SQL runs via ``spark.sql`` against registered views — the reference's
    user-facing seed surface). Returns table name → selected-rows DataFrame
    for every table reached by the closure (full tables map to the whole
    table). Matches the golden semantics of the reference's TestAutoSelect
    matrix (reference: tests/test_backend.py:243-335).

    ``salt_materialize``: spread the final semi-join over this many salt
    sub-keys (operators/skew.py). For when the key-set exceeds the
    broadcast limit AND the referenced column is hot/non-unique in the
    base table (e.g. an FK onto a non-unique column where one value
    dominates) — a shuffled semi-join would then hash every hot-key row
    into one task. Unneeded for unique referenced columns: their shuffle
    is uniform by construction. Pass a ``{table: n_salt}`` dict to salt
    ONLY the named tables (the r6 skew soak measured the int form —
    which salts every reached table — at 7× the plain closure on a
    Zipf-keyed decade, because the replicated-key-side shuffles are pure
    overhead on the tables whose referenced key IS unique; the dict
    scopes the mitigation to the table that needs it).
    """
    partial_tables = partial_tables or {}
    validate_tables(catalog, full_tables, partial_tables)

    seeds: dict[str, DataFrame] = {}
    for name, seed in partial_tables.items():
        if isinstance(seed, str):
            if spark is None:
                raise ValueError("seed SQL strings require a SparkSession")
            catalog.register_views(spark)
            seeds[name] = spark.sql(seed)
        else:
            seeds[name] = seed

    full = set(full_tables)
    state: dict[str, _Selection] = {}

    def sel(table: str, needs_key: bool = True) -> _Selection:
        if table not in state:
            # Full tables never accumulate keys (edges into them are
            # skipped), so don't resolve a key column for them — a full
            # table referenced through two different columns is legal.
            key = catalog.referenced_key(table) if needs_key else None
            state[table] = _Selection(key_col=key)
        return state[table]

    def propagation_columns(table: str) -> list[str]:
        """FK child columns of ``table`` that feed non-full parents — the
        only columns an increment needs during propagation."""
        return sorted(
            {fk.column for fk in catalog.outgoing(table) if fk.foreign_table not in full}
        )

    def narrow_increment(table: str, df: DataFrame) -> DataFrame:
        """Project an increment to its propagation columns; checkpoint it
        when ≥2 edges would otherwise each re-scan the underlying table.
        (One narrow materialization beats N duplicate scans — at 100 TB the
        duplicate scans are the dominant waste, not the extra tiny job.)"""
        cols = propagation_columns(table)
        out = df.select(*cols)
        if len(cols) >= 2:
            out = out.localCheckpoint(eager=True)
        return out

    narrow_base: dict[str, DataFrame] = {}

    def propagation_base(parent: str, key_col: str) -> tuple[DataFrame, bool]:
        """Base frame increment rows are pulled from. A self-FK table is
        semi-joined once per recursion LEVEL (deep chains → many rounds),
        so its narrow projection (key + FK columns) is materialized once
        and reused across rounds — per-round work becomes an in-memory
        broadcast join instead of a parquet re-scan. Non-recursive tables
        are hit at most once per BFS round and keep the pruned scan (no
        copy of table-sized data)."""
        if any(fk.is_recursive for fk in catalog.outgoing(parent)):
            if parent not in narrow_base:
                cols = sorted(set(propagation_columns(parent)) | {key_col})
                narrow_base[parent] = (
                    catalog.tables[parent].select(*cols).localCheckpoint(eager=True)
                )
            return narrow_base[parent], True
        return catalog.tables[parent], False

    for t in full:
        # Full tables propagate (F5): every row's FK values, once.
        sel(t, needs_key=False).is_full = True
    for t, seed_df in seeds.items():
        s = sel(t)
        if s.key_col is not None and set(seed_df.columns) != set(catalog.tables[t].columns):
            # A REFERENCED table is materialized by key semi-join against
            # the base (full base shape) — a projected seed would silently
            # export more columns than the user selected. The reference has
            # the same constraint de facto: its per-table SQL is the seed
            # UNIONed with `SELECT * FROM t WHERE pk IN (...)` pulls, which
            # errors on a column-count mismatch (xdump/base.py:142-146,
            # 154-171). Projected seeds stay legal for tables nothing
            # references (their seed rows ARE the export, F-shape intact).
            raise ValueError(
                f"seed for referenced table {t!r} must select all base columns "
                f"(got {sorted(seed_df.columns)}, need "
                f"{sorted(catalog.tables[t].columns)}); project after the dump, "
                "or seed an unreferenced table"
            )
        s.seed_dfs.append(seed_df)

    # -- Residency: size each statically reachable table once. ----------
    reach: set[str] = set(seeds) | full
    stack = list(reach)
    while stack:
        for fk in catalog.outgoing(stack.pop()):
            if fk.foreign_table not in full and fk.foreign_table not in reach:
                reach.add(fk.foreign_table)
                stack.append(fk.foreign_table)
    key_of: dict[str, str | None] = {}
    for t in reach - full:
        try:
            key_of[t] = catalog.referenced_key(t)
        except ValueError:
            pass   # multi-column target: the round loop raises if it is touched
    # (child column, parent) per FK edge into a non-full parent.
    targets: dict[str, list[tuple[str, str]]] = {}
    for t in reach:
        for fk in catalog.outgoing(t):
            p = fk.foreign_table
            if p in full:
                continue   # parent already complete (xdump/postgresql.py:148-156)
            if p in key_of and key_of[p] != fk.foreign_column:
                raise ValueError(f"FK {fk} disagrees with key column {key_of[p]!r} of {p!r}")
            targets.setdefault(t, []).append((fk.column, p))
    key_type = {
        t: to_arrow_type(catalog.tables[t].schema[k].dataType) for t, k in key_of.items() if k
    }

    def narrow(t: str, df: DataFrame) -> DataFrame:
        key = [key_of[t]] if key_of.get(t) else []
        return df.select(*key, *[F.col(c) for c, _ in targets.get(t, [])])

    # (kind, table, narrow frame): a full table with edges out, a
    # referenced table, and a seed (its SQL is sized and read like a table).
    sized: list[tuple[str, str, DataFrame]] = []
    for t in sorted(reach):
        if key_of.get(t) or (t in full and t in targets):
            sized.append(("table", t, narrow(t, catalog.tables[t])))
        if t in seeds and (key_of.get(t) or t in targets):
            sized.append(("seed", t, narrow(t, seeds[t])))
    sizes: dict[str, int] = {}
    if sized:
        for (_k, t, _df), n in zip(sized, _row_counts([df for _, _, df in sized])):
            sizes[t] = max(n, sizes.get(t, 0))
    limit = DRIVER_CLOSURE_LIMIT
    resident = {t for t, n in sizes.items() if n <= limit}
    for t in sorted(sizes):
        logger.debug(
            "decision closure.residency table=%s path=%s bound=%d rows=%d",
            t, "resident" if t in resident else "distributed", limit, sizes[t],
        )

    # Resident tables: one overlapped wave of Arrow collects, then the
    # driver BFS. Seed keys are marked before any value moves, so they are
    # seen but never re-expanded (as in the round loop, where they enter
    # the accumulated set before the first anti-join).
    grabs = [(k, t, df) for k, t, df in sized
             if t in resident and (k == "seed" or t in targets)]
    got = overlap(*[lambda df=df: df.toArrow() for _, _, df in grabs])
    bfs = _DriverBFS(targets, key_type)
    bfs.hold({t: tbl for (k, t, _), tbl in zip(grabs, got) if k == "table" and t not in full})
    for (k, t, _), tbl in zip(grabs, got):
        if k == "seed" and key_of.get(t):
            bfs.touched.add(t)
            bfs.send(t, tbl.column(0), expand=False)
    for (k, t, _), tbl in zip(grabs, got):
        if k == "seed" or t in full:
            for (_c, p), col in zip(targets.get(t, []), tbl.columns[1 if key_of.get(t) else 0:]):
                bfs.send(p, col)

    # Oversized tables: the distributed semi-naive loop.
    pending: dict[str, list[DataFrame]] = {}
    for t in full & (set(sizes) - resident):
        # Kept lazy (no narrow checkpoint): materializing a full table's FK
        # columns could be huge; repeated pruned parquet scans are the
        # safer trade.
        pending[t] = [catalog.tables[t]]
    for t, seed_df in seeds.items():
        if t in resident or t not in sizes:
            continue
        s = state[t]
        prop_cols = propagation_columns(t)
        # Seeds are arbitrary user SQL (sorts, joins, limits, ...) —
        # evaluate each ONCE: checkpoint the narrow projection (key + FK
        # columns) and derive both the initial key-set and the first
        # propagation increment from the materialized frame.
        keep = sorted(set(prop_cols) | ({s.key_col} if s.key_col else set()))
        snap = seed_df.select(*keep).localCheckpoint(eager=True)
        if s.key_col is not None:
            keys = snap.select(s.key_col).distinct().localCheckpoint(eager=True)
            s.add_keys(keys, keys.count())
        if prop_cols:
            pending.setdefault(t, []).append(snap.select(*prop_cols))

    def key_frame(t: str, vals: pa.Array) -> DataFrame:
        schema = T.StructType([catalog.tables[t].schema[sel(t).key_col]])
        return catalog.tables[t].sparkSession.createDataFrame(
            pa.table({schema[0].name: vals}), schema
        )

    def advance(parent: str, parts: list[DataFrame]) -> tuple[str, DataFrame | None]:
        """One oversized parent's round step: dedup + anti-join +
        checkpoint the new keys, fold them into the accumulated set, and
        build the (narrow) increment for the next round. Runs on a worker
        thread; only per-parent state is touched."""
        p = state[parent]
        contrib = reduce(DataFrame.union, parts).distinct()   # multi-path dedup in one shot
        new = p.subtract_seen(contrib).localCheckpoint(eager=True)
        n_new = new.count()
        if n_new == 0:
            return parent, None
        p.add_keys(new, n_new)
        if not propagation_columns(parent):
            return parent, None   # nothing references out of this table
        inc = F.broadcast(new) if n_new <= BROADCAST_KEY_LIMIT else new
        base, in_memory = propagation_base(parent, p.key_col)
        rows = base.join(inc, on=p.key_col, how="left_semi")
        if in_memory:
            # Re-deriving this tiny in-memory join per edge is cheaper
            # than another checkpoint job.
            return parent, rows.select(*propagation_columns(parent))
        return parent, narrow_increment(parent, rows)

    def cross(parent: str, parts: list[DataFrame]) -> tuple[str, pa.ChunkedArray]:
        """FK values oversized increments send to a resident parent, onto
        the driver. Joined against the parent's keys (broadcast — the
        parent is resident), every dangling value turns null, so the
        collect holds at most the parent's distinct keys plus one null;
        that null still marks the parent reached, as the round loop
        would."""
        key = state[parent].key_col
        hit = catalog.tables[parent].select(key, F.lit(True).alias("_hit"))
        vals = (
            reduce(DataFrame.union, parts)
            .join(F.broadcast(hit), on=key, how="left")
            .select(F.when(F.col("_hit"), F.col(key)).alias(key))
            .distinct()
            .toArrow()
            .column(0)
        )
        return parent, vals

    # Level-synchronous rounds over the oversized tables: each gathers ALL
    # key contributions per parent (one union+distinct+anti-join+checkpoint
    # per touched table per round), so the job count is O(diameter ×
    # oversized touched tables); the resident side saturates between
    # rounds on the main thread.
    rounds = 0
    while True:
        bfs.saturate()
        contribs: dict[str, list[DataFrame]] = {}
        inbound: dict[str, list[DataFrame]] = {}
        for p in sorted(set(bfs.box) - resident):
            vals = bfs.take(p)
            if len(vals):
                contribs[p] = [key_frame(p, vals)]
        for table, increments in pending.items():
            for fk in catalog.outgoing(table):
                parent = fk.foreign_table
                if parent in full:
                    continue
                key_col = sel(parent).key_col
                for inc in increments:
                    (inbound if parent in resident else contribs).setdefault(parent, []).append(
                        inc.select(F.col(fk.column).alias(key_col)).where(
                            F.col(key_col).isNotNull()
                        )
                    )
        if not contribs and not inbound:
            break
        rounds += 1
        if rounds > max_steps:
            raise RuntimeError(f"closure did not converge within {max_steps} rounds")
        results = overlap(
            *[lambda kv=kv: advance(*kv) for kv in contribs.items()],
            *[lambda kv=kv: cross(*kv) for kv in inbound.items()],
        )
        pending = {}
        for parent, inc in results[:len(contribs)]:
            if inc is not None:
                pending.setdefault(parent, []).append(inc)
        for parent, vals in results[len(contribs):]:
            if len(vals):
                bfs.touched.add(parent)
            bfs.send(parent, vals)

    for t in sorted(t for t in resident if key_of.get(t)):
        vals = bfs.selected(t)
        if vals is not None:
            sel(t).add_keys(key_frame(t, vals), len(vals))

    # Materialize: one semi-join per reached table.
    out: dict[str, DataFrame] = {}
    for table, s in state.items():
        base = catalog.tables[table]
        if s.is_full:
            out[table] = base
            continue
        parts: list[DataFrame] = []
        if s.key_col is not None and s.all_keys() is not None:
            keys = s.all_keys()
            n_salt = (
                salt_materialize.get(table)
                if isinstance(salt_materialize, dict)
                else salt_materialize
            )
            if n_salt:
                from xdump_spark.operators.skew import salted_join

                parts.append(
                    salted_join(base, keys, on=s.key_col,
                                n_salt=n_salt, how="left_semi")
                )
            else:
                if s.n_keys <= BROADCAST_KEY_LIMIT:
                    keys = F.broadcast(keys)
                parts.append(base.join(keys, on=s.key_col, how="left_semi"))
            # Seed rows are recovered by the pk semi-join (their keys were
            # added at init), so seeds need direct inclusion only for
            # tables nothing references.
        elif s.seed_dfs:
            acc = s.seed_dfs[0]
            for d in s.seed_dfs[1:]:
                acc = acc.unionByName(d)
            parts.append(acc.distinct())   # UNION-distinct (xdump/base.py:142-146)
        if parts:
            out[table] = parts[0]
    return out


def recursive_pull_sql(table: str, column: str, foreign_column: str, seed_sql: str) -> str:
    """Spark-SQL ``WITH RECURSIVE`` form of the reference's self-FK template
    (``RECURSIVE_QUERY_TEMPLATE``, xdump/base.py:253-262): the seed plus,
    transitively, every row it references through ``column`` →
    ``foreign_column``.

    Spark 4.x only supports UNION ALL in the recursive step
    (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), so the reference's UNION-distinct
    becomes an outer SELECT DISTINCT — equivalent on ACYCLIC self-FK data
    (manager chains). Cyclic graphs must use ``compute_closure``'s
    semi-naive loop, whose per-round anti-join terminates on cycles; the
    UNION ALL recursion would instead abort at
    ``spark.sql.cteRecursionLevelLimit``. Kept for SQL-surface parity and
    as the single-statement path Catalyst can plan end-to-end."""
    return (
        "WITH RECURSIVE __closure AS (\n"
        f"  SELECT * FROM ({seed_sql})\n"
        "  UNION ALL\n"
        f"  SELECT T.* FROM {table} T JOIN __closure ON __closure.{column} = T.{foreign_column}\n"
        ")\n"
        "SELECT DISTINCT * FROM __closure"
    )


def recursive_pull(
    spark: SparkSession, catalog: Catalog, table: str, seed_sql: str
) -> DataFrame:
    """Run ``recursive_pull_sql`` for every self-FK of ``table`` in
    sequence (the reference applies its template once per recursive FK,
    compounding the rewrites — xdump/base.py:131-136)."""
    catalog.register_views(spark)
    sql = seed_sql
    for fk in catalog.outgoing(table):
        if fk.is_recursive:
            sql = recursive_pull_sql(table, fk.column, fk.foreign_column, sql)
    return spark.sql(sql)


def recursive_ancestors_doubling(
    catalog: Catalog,
    table: str,
    seed_df: DataFrame,
    max_rounds: int = 64,
) -> DataFrame:
    """Ancestor closure over a single FUNCTIONAL self-FK in O(log depth)
    rounds by pointer jumping (path doubling): ``jump`` maps every key to
    its 2^r-th ancestor and squares each round; ``reached`` holds all
    ancestors within 2^r - 1 steps and extends by one jump per round.

    This is the deep-hierarchy twin of ``compute_closure``'s semi-naive
    loop: the loop does O(depth) rounds of tiny frontier joins — right
    for shallow graphs — while a 10^5-deep chain (linked-list-shaped
    hierarchies) finishes here in 17 rounds at O(n log depth) total rows
    shuffled (the squaring join touches the full edge set per round; at
    scale pre-bucket the table by key so those joins co-locate).
    Functional means one recursive edge whose child column holds at most
    one parent per row — exactly Spark-representable self-FKs. Cycles
    terminate: ``reached`` saturates and the round adds nothing new.

    Semantics match the reference's recursive pull (xdump/base.py:253-262)
    = ``compute_closure`` on the same single-edge catalog; equivalence is
    pinned in tests and by the shared WITH RECURSIVE oracle."""
    edges = [fk for fk in catalog.outgoing(table) if fk.is_recursive]
    if len(edges) != 1:
        raise ValueError(
            f"pointer doubling needs exactly one self-FK on {table!r}; "
            f"got {len(edges)} — use compute_closure for multi-edge recursion"
        )
    fk = edges[0]
    key, child = fk.foreign_column, fk.column
    base = catalog.tables[table]
    jump = (
        base.select(F.col(key).alias("src"), F.col(child).alias("dst"))
        .where(F.col(child).isNotNull())
        .localCheckpoint(eager=True)
    )
    reached = (
        seed_df.select(F.col(key).alias("src")).distinct().localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        nxt = (
            reached.join(jump, "src")
            .select(F.col("dst").alias("src"))
            .distinct()
            .join(reached, "src", "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.count() == 0:
            break
        reached = reached.union(nxt).localCheckpoint(eager=True)
        a, b = jump.alias("a"), jump.alias("b")
        jump = (
            a.join(b, F.col("a.dst") == F.col("b.src"))
            .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
            .localCheckpoint(eager=True)
        )
    else:
        raise RuntimeError(f"doubling did not converge within {max_rounds} rounds")
    keys = reached.withColumnRenamed("src", key)
    if reached.count() <= BROADCAST_KEY_LIMIT:
        keys = F.broadcast(keys)
    return base.join(keys, on=key, how="left_semi")

