"""Dump/load orchestration — the reference's top-level ``backend.dump`` /
``backend.load`` lifecycle (xdump/base.py:87-106, 220-250) on Spark.

One dump format, packaged two ways (PAPER.md §1.1: a directory or zip of
parts plus a schema manifest). ``dump`` collects each table to the driver
as COPY-style CSV into a zip (partial dumps are small by construction; the
reference streams into a zip on one machine too). ``dump_distributed``
has executors write each table as parquet/CSV parts under a directory,
and commits by writing ``manifest.json`` last. Both run one export action
per table, whose Observation yields the row count and the sequence state;
``manifest`` builds the one manifest, ``read_manifest`` reads it from
either packaging, and ``load`` returns typed frames, FKs and sequences.
"""

from __future__ import annotations

import json
from datetime import date, datetime
from decimal import Decimal

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xdump_spark import fsutil
from xdump_spark.archive import DumpArchive, rows_to_csv, parse_csv_bytes
from xdump_spark.catalog import Catalog, ForeignKey
from xdump_spark.planner.closure import compute_closure, validate_tables
from xdump_spark.timing import log_time, logger

MANIFEST = "manifest.json"   # a directory dump's manifest, inside the directory
_KEY_TYPE = T.DecimalType(38, 0)


def toposort_tables(tables: list[str], fks: list[ForeignKey]) -> list[str]:
    """Parents before children so FK-constrained inserts succeed — an
    improvement over the reference, which relies on archive member order
    plus in-transaction FK deferral (xdump/base.py:104-106,239-246).
    Self-FK edges are ignored (unsortable; handled by the target DB)."""
    deps: dict[str, set[str]] = {t: set() for t in tables}
    for fk in fks:
        if fk.table in deps and fk.foreign_table in deps and not fk.is_recursive:
            deps[fk.table].add(fk.foreign_table)
    out: list[str] = []
    remaining = dict(deps)
    while remaining:
        ready = sorted(t for t, d in remaining.items() if not (d & set(remaining)))
        if not ready:
            # FK cycle across tables: fall back to name order (the
            # reference would livelock here too; document rather than die)
            out.extend(sorted(remaining))
            break
        out.extend(ready)
        for t in ready:
            del remaining[t]
    return out


def sequence_state(table: str, df: DataFrame, catalog: Catalog) -> Column:
    """The aggregate that captures ``table``'s sequence position, its max
    serial key — the analog of dumping PostgreSQL sequence positions so a
    loaded database continues numbering correctly (reference:
    xdump/postgresql.py:136-146). Covers LEAF tables through the catalog's
    explicit primary keys; null for tables without a serial integer key.
    Observed on the table's export action, so it runs no job of its own."""
    pk = catalog.primary_key(table)
    dt = df.schema[pk].dataType if pk is not None else None
    # Sequence state only makes sense for serial integer keys;
    # string/uuid keys carry no counter to restore. JDBC sources
    # commonly surface serial keys as DecimalType(p, 0) (PostgreSQL
    # numeric, Oracle NUMBER(10,0)) — those ARE integral.
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)) or (
        isinstance(dt, T.DecimalType) and dt.scale == 0
    ):
        # decimal(38,0), not long: a decimal(38,0) serial key can exceed
        # the long range, where a long cast overflows (ANSI error) or
        # silently nulls the sequence out
        return F.max(pk).cast(_KEY_TYPE)
    return F.lit(None).cast(_KEY_TYPE)


def manifest(selections: dict[str, DataFrame], fks: list[ForeignKey],
             sequences: dict[str, int], fmt: str) -> dict:
    """The dump manifest, one shape for both packagings: each table's
    Spark schema, the FK edges inside the selection, the sequence state,
    and the part format (``zip``, or a directory's ``parquet``/``csv``)."""
    return {
        "format": fmt,
        "tables": {t: {"spark_schema": df.schema.jsonValue()} for t, df in selections.items()},
        "foreign_keys": [
            fk.to_dict() for fk in fks if fk.table in selections and fk.foreign_table in selections
        ],
        "sequences": sequences,
    }


def read_manifest(spark: SparkSession, path: str) -> dict:
    """The manifest of a zip or directory dump. A zip written with
    ``dump_schema=False`` reads as an empty one; a directory without a
    manifest raises (not a dump, or its last dump did not finish)."""
    if fsutil.is_dir(spark, path):
        mpath = fsutil.join(path, MANIFEST)
        if not fsutil.exists_atomic(spark, mpath):
            raise FileNotFoundError(
                f"{path} has no {MANIFEST}: not a dump directory, or its last dump did not finish"
            )
        return json.loads(fsutil.read_text_atomic(spark, mpath))
    arc = DumpArchive(path)
    schema = arc.read_schema()
    if schema is None:
        return manifest({}, [], {}, "zip")
    # archives written before the manifest carried a format have none
    return {"format": "zip", **schema, "sequences": arc.read_sequences()}


class SparkDumpEngine:
    """The engine façade: a Catalog plus dump/load entry points."""

    def __init__(self, spark: SparkSession, catalog: Catalog):
        self.spark = spark
        self.catalog = catalog

    # ------------------------------------------------------------- dump --
    def _select(self, full_tables, partial_tables) -> dict[str, DataFrame]:
        validate_tables(self.catalog, full_tables, partial_tables or {})
        return compute_closure(
            self.catalog, tuple(full_tables), dict(partial_tables or {}), spark=self.spark
        )

    def _export(self, selections, sink) -> tuple[dict[str, int], dict[str, int]]:
        """The export step: ``sink(table, df)`` runs one action per table,
        and an Observation on it yields the row count and sequence state.
        Returns ({table: rows}, {table: max serial key})."""
        rows: dict[str, int] = {}
        sequences: dict[str, int] = {}
        for table, df in selections.items():
            obs = Observation()
            with log_time(f"export {table}", level=10):
                sink(table, df.observe(
                    obs,
                    F.count(F.lit(1)).alias("rows"),
                    sequence_state(table, df, self.catalog).alias("max_key"),
                ))
            got = obs.get
            rows[table] = got["rows"]
            if got["max_key"] is not None:
                sequences[table] = int(got["max_key"])   # exact: Python ints are unbounded
            logger.debug("%s: %d rows", table, rows[table])
        return rows, sequences

    def dump(
        self,
        filename: str,
        full_tables: list[str] | tuple[str, ...] = (),
        partial_tables: dict[str, DataFrame | str] | None = None,
        dump_schema: bool = True,
        dump_data: bool = True,
        compression: str = "deflated",
        max_driver_rows: int | None = 1_000_000,
    ) -> dict[str, int]:
        """Write the closure of (full_tables, partial_tables) as a zip.
        Returns {table: rows selected}. Mirrors backend.dump flags
        (reference: xdump/base.py:87-106; tests/test_backend.py:142-162).
        Total and per-table wall time is logged like the reference's
        verbosity surface (xdump/base.py:24-35,98).

        Archive dumps collect each selected table to the driver — valid
        because partial dumps are small by construction, and ENFORCED by
        ``max_driver_rows``: any table whose selection exceeds it raises
        (checked with a limit+count probe BEFORE collecting, so an
        oversized selection cannot OOM the driver first). Use
        ``dump_distributed`` for large selections, or pass
        ``max_driver_rows=None`` to opt out."""
        with log_time("total dump"):
            return self._dump_zip(
                filename, self._select(full_tables, partial_tables), dump_schema,
                dump_data, compression, max_driver_rows,
            )

    def _dump_zip(
        self, filename, selections, dump_schema, dump_data, compression,
        max_driver_rows, omit_empty=False,
    ) -> dict[str, int]:
        if dump_data and max_driver_rows is not None:
            for table, df in selections.items():
                if df.limit(max_driver_rows + 1).count() > max_driver_rows:
                    raise ValueError(
                        f"dump() collects to the driver and the selection for "
                        f"table {table!r} exceeds max_driver_rows="
                        f"{max_driver_rows}; use dump_distributed() for large "
                        "selections (executors write partitioned parquet/CSV) "
                        "or raise max_driver_rows explicitly"
                    )
        data: dict[str, bytes] = {}

        def to_csv(table: str, df: DataFrame) -> None:
            data[table] = rows_to_csv(df.columns, [tuple(r) for r in df.collect()])

        def noop(table: str, df: DataFrame) -> None:   # schema-only: observe, write nothing
            df.write.format("noop").mode("overwrite").save()

        rows, sequences = self._export(selections, to_csv if dump_data else noop)
        if omit_empty:
            rows = {t: n for t, n in rows.items() if n}
            selections = {t: df for t, df in selections.items() if t in rows}
            data = {t: b for t, b in data.items() if t in rows}
        m = manifest(selections, self.catalog.foreign_keys, sequences, "zip")
        DumpArchive(filename).write(m if dump_schema else None, data, compression)
        return rows

    def dump_incremental(
        self,
        filename: str,
        since: str,
        full_tables: list[str] | tuple[str, ...] = (),
        partial_tables: dict[str, DataFrame | str] | None = None,
        dump_schema: bool = True,
        dump_data: bool = True,
        compression: str = "deflated",
        max_driver_rows: int | None = 1_000_000,
    ) -> dict[str, int]:
        """Delta dump into a zip: the ``dump`` selection MINUS every row
        already captured by the ``since`` dump (zip or directory) — the
        scale extension of the reference's snapshot dump (re-exporting a
        100 TB source per run is not a plan; exporting the day's delta is).

        New rows are identified per table by serial key: key > the
        since-dump's recorded sequence position (the reference dumps
        exactly this state to continue numbering after load,
        xdump/postgresql.py:136-146 — reused here as a high-watermark, so
        the filter PUSHES DOWN to the scan and old rows are never read).
        Tables without a recorded counter (no single serial key, e.g. a
        composite-key fact table) fall back to an exact full-row
        anti-join against the since-dump's rows.

        Tables whose export action observes no new rows are OMITTED from
        the archive; the load path's skip-if-absent rule makes the delta
        loadable standalone onto a previously-loaded target (append).
        Referential integrity of the union holds by construction: a new
        child may reference an old parent, already in the target.
        """
        prev_seq = read_manifest(self.spark, since)["sequences"]
        prev_loaded: LoadedDump | None = None
        selections = self._select(full_tables, partial_tables or {})
        delta: dict[str, DataFrame] = {}
        for table, df in selections.items():
            pk = self.catalog.primary_key(table)
            if pk is not None and table in prev_seq:
                delta[table] = df.filter(F.col(pk) > int(prev_seq[table]))
            else:
                if prev_loaded is None:
                    prev_loaded = self.load(since)
                if table in prev_loaded.frames:
                    delta[table] = df.join(
                        prev_loaded.frames[table], on=list(df.columns), how="left_anti"
                    )
                else:
                    delta[table] = df
        return self._dump_zip(
            filename, delta, dump_schema, dump_data, compression, max_driver_rows,
            omit_empty=True,
        )

    def dump_distributed(
        self,
        out_dir: str,
        full_tables: list[str] | tuple[str, ...] = (),
        partial_tables: dict[str, DataFrame | str] | None = None,
        fmt: str = "parquet",
    ) -> dict[str, int]:
        """Scale path: executors write each selected table as partitioned
        parquet/CSV under ``out_dir/<table>/`` (no driver collect). Returns
        {table: rows written}. ``out_dir/manifest.json`` commits the dump:
        the old one is deleted before the first table is overwritten and
        the new one written last, atomically, so a re-dump that fails
        part-way cannot load as a mix of two dumps' tables."""
        with log_time("total dump"):
            selections = self._select(full_tables, partial_tables)
            mpath = fsutil.join(out_dir, MANIFEST)
            # exists_atomic first finishes an interrupted manifest commit,
            # so no leftover commit sibling can bring the old one back
            if fsutil.exists_atomic(self.spark, mpath):
                fsutil.delete(self.spark, mpath)

            def write_part(table: str, df: DataFrame) -> None:
                part = fsutil.join(out_dir, table)
                if fmt == "csv":
                    df.write.csv(part, mode="overwrite", header=True, nullValue="")
                else:
                    df.write.parquet(part, mode="overwrite")

            rows, sequences = self._export(selections, write_part)
            m = manifest(selections, self.catalog.foreign_keys, sequences, fmt)
            fsutil.write_text_atomic(self.spark, mpath, json.dumps(m))
            return rows

    # ------------------------------------------------------------- load --
    def load(self, path: str) -> "LoadedDump":
        """Read a zip or directory dump back into typed DataFrames, FK
        edges and sequence state. Zip frames are parsed from the CSV
        members on the driver, typed by the manifest when present, else
        all-string columns (the reference likewise loads without schema
        when schema.sql is absent, docs/changelog.rst:26). Directory frames
        are read by executors straight off the parquet/CSV parts."""
        with log_time("total load"):
            m = read_manifest(self.spark, path)
            frames: dict[str, DataFrame] = {}
            if m["format"] == "zip":
                for table, csv_bytes in DumpArchive(path).read_data().items():
                    header, rows = parse_csv_bytes(csv_bytes)
                    st = (
                        T.StructType.fromJson(m["tables"][table]["spark_schema"])
                        if table in m["tables"]
                        else T.StructType([T.StructField(c, T.StringType()) for c in header])
                    )
                    frames[table] = self.spark.createDataFrame(
                        [tuple(_coerce(v, st[c].dataType) for v, c in zip(row, header))
                         for row in rows],
                        st,
                    )
            else:
                for table, entry in m["tables"].items():
                    part = fsutil.join(path, table)
                    if m["format"] == "csv":
                        st = T.StructType.fromJson(entry["spark_schema"])
                        frames[table] = self.spark.read.schema(st).csv(
                            part, header=True, nullValue=""
                        )
                    else:
                        frames[table] = self.spark.read.parquet(part)
            fks = [ForeignKey.from_dict(d) for d in m["foreign_keys"]]
            return LoadedDump(frames, fks, m["sequences"])

    load_distributed = load   # alias: callers of the old directory loader (perfbench/run.py)


def _coerce(v: str | None, dt: T.DataType):
    if v is None:
        return None
    if isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
        # complex cells are embedded as JSON by format_csv_value
        return _from_jsonable(json.loads(v), dt)
    if isinstance(dt, (T.IntegerType, T.LongType, T.ShortType)):
        return int(v)
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return float(v)
    if isinstance(dt, T.BooleanType):
        return v == "true"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return datetime.fromisoformat(v)
    if isinstance(dt, T.DateType):
        return date.fromisoformat(v)
    if isinstance(dt, T.DecimalType):
        return Decimal(v)
    if isinstance(dt, T.BinaryType):
        # format_csv_value writes bytes PG-COPY-style as \x<hex>
        if v.startswith("\\x"):
            return bytes.fromhex(v[2:])
        return v.encode("utf-8")
    return v


def _from_jsonable(o, dt: T.DataType):
    """Type a JSON-decoded complex cell back to what createDataFrame
    expects for ``dt`` (inverse of archive._to_jsonable): containers
    recurse; scalar leaves arrive either natively typed from JSON
    (int/float/bool) or as the string encodings _coerce already parses
    (temporals, decimals, bytes)."""
    if o is None:
        return None
    if isinstance(dt, T.ArrayType):
        return [_from_jsonable(x, dt.elementType) for x in o]
    if isinstance(dt, T.MapType):
        return {_coerce(k, dt.keyType): _from_jsonable(x, dt.valueType) for k, x in o.items()}
    if isinstance(dt, T.StructType):
        return {f.name: _from_jsonable(o.get(f.name), f.dataType) for f in dt.fields}
    if isinstance(o, str):
        return _coerce(o, dt)
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return float(o)
    if isinstance(dt, T.DecimalType):
        return Decimal(str(o))
    return o


class LoadedDump:
    """A parsed archive: typed frames + FK graph + sequence state, with
    helpers to replay into a target (the reference's load step,
    xdump/base.py:220-250)."""

    def __init__(self, frames: dict[str, DataFrame], fks: list[ForeignKey], sequences: dict):
        self.frames = frames
        self.foreign_keys = fks
        self.sequences = sequences

    def load_order(self) -> list[str]:
        return toposort_tables(sorted(self.frames), self.foreign_keys)

    def write_parquet_db(self, db_dir: str, mode: str = "errorifexists") -> list[str]:
        """Replay into a parquet-directory database, parents first. Dumped
        sequence state lands in the database's counter manifest
        (``sequences.json``) so ``ParquetDatabase.allocate_keys`` continues
        numbering after the load — the file-backend analog of the
        reference's sequences.sql replay (xdump/base.py:227-237)."""
        order = self.load_order()
        for table in order:
            self.frames[table].write.mode(mode).parquet(fsutil.join(db_dir, table))
        if self.sequences:
            from xdump_spark.sources.parquet_db import ParquetDatabase

            ParquetDatabase(None, db_dir).write_sequences(
                {t: int(v) for t, v in self.sequences.items()}
            )
        return order

    def write_jdbc(
        self, url: str, properties: dict, mode: str = "append",
        apply_sequences: bool = True,
    ) -> list[str]:
        """Replay into a JDBC database in FK order, then restart the
        target's serial counters at max_key + 1 (``apply_sequences_jdbc``)
        so post-load inserts continue numbering — the reference applies
        sequences.sql on load and verifies currval advanced
        (xdump/base.py:227-237, tests/test_backend.py:138-140).

        PostgreSQL targets and ``search_path`` (CVE-2018-1058 context): the
        reference saves/restores ``search_path`` around schema replay because
        ``pg_dump`` emits ``SELECT pg_catalog.set_config('search_path', '',
        false)`` (xdump/postgresql.py:179-188). This path writes bare table
        names, so each JDBC connection resolves them through the connecting
        role's ``search_path``. Against a hardened PG target whose
        search_path was emptied, qualify the names (``schema.table``) or set
        ``currentSchema=<schema>`` in the JDBC url — the engine deliberately
        does not override the connection's resolution rules."""
        order = self.load_order()
        for table in order:
            self.frames[table].write.jdbc(url, table, mode=mode, properties=properties)
        if apply_sequences and self.sequences:
            from xdump_spark.sources.jdbc import apply_sequences_jdbc

            spark = next(iter(self.frames.values())).sparkSession
            apply_sequences_jdbc(spark, url, self.sequences, properties)
        return order
