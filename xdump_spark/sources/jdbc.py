"""JDBC source: snapshot staging + FK introspection for live databases.

The reference holds one REPEATABLE READ connection so every table export
sees a single MVCC snapshot (xdump/postgresql.py:75-83). Spark-over-JDBC
opens a connection per partition per query, so a shared snapshot is
impossible mid-stream; the idiomatic equivalent implemented here is
STAGE-THEN-PLAN: materialize every source table once at t0 (to parquet or
cache) and run the closure from the staged snapshot (SURVEY.md §1.4).

Live execution is exercised end-to-end in tests against EMBEDDED Apache
Derby (on every Spark classpath — the Hive-metastore dependency): DDL +
inserts through the driver JVM, metadata FK introspection, partitioned
reads, snapshot staging, closure, dump/load, and a JDBC write-back
(tests/test_jdbc_live.py). Networked databases additionally need their
driver jar and a reachable server.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from xdump_spark.catalog import Catalog, ForeignKey

def jdbc_options(url: str, user: str | None = None, password: str | None = None,
                 driver: str | None = None) -> dict[str, str]:
    """Connection properties; password falls back to $PGPASSWORD like the
    reference's PostgreSQL backend (xdump/postgresql.py:85-89)."""
    props = {"url": url}
    if user:
        props["user"] = user
    pw = password or os.environ.get("PGPASSWORD")
    if pw:
        props["password"] = pw
    if driver:
        props["driver"] = driver
    return props


def read_table(spark: SparkSession, options: dict[str, str], table: str,
               partition_column: str | None = None, num_partitions: int = 16,
               lower_bound: int | None = None, upper_bound: int | None = None) -> DataFrame:
    """Read one table; with ``partition_column`` the scan is split into
    ``num_partitions`` key ranges read in parallel. Spark requires explicit
    bounds for a partitioned JDBC read — when not given, they are probed
    with one tiny min/max query first (the probe is O(1) with an index on
    the key, which a referenced/PK column has)."""
    reader = spark.read.format("jdbc").options(**options).option("dbtable", table)
    if partition_column:
        if lower_bound is None or upper_bound is None:
            probe = (
                spark.read.format("jdbc")
                .options(**options)
                .option(
                    "query",
                    f"SELECT min({partition_column}) AS mn, "
                    f"max({partition_column}) AS mx FROM {table}",
                )
                .load()
                .first()
            )
            # positional access: engines fold unquoted aliases differently
            # (Derby → MN/MX, PG → mn/mx)
            lower_bound = probe[0] if lower_bound is None else lower_bound
            upper_bound = probe[1] if upper_bound is None else upper_bound
        if lower_bound is None or upper_bound is None:   # empty table
            return reader.load()
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    return reader.load()


def introspect_foreign_keys_metadata(
    spark: SparkSession,
    url: str,
    properties: dict[str, str] | None = None,
    schema_pattern: str | None = None,
) -> list[ForeignKey]:
    """Portable FK introspection through ``java.sql.DatabaseMetaData``
    (driven in the driver JVM via the py4j gateway): `getImportedKeys` is
    part of the JDBC spec, so this works against ANY JDBC source —
    including embedded Derby — where the reference's information_schema
    query is PostgreSQL-shaped. Identifiers are folded to lowercase so catalogs
    built over `spark.read.jdbc` frames and these edges agree on names.

    One driver-side metadata connection; no executor involvement — this is
    O(tables) catalog traffic, the same shape as the reference's one-shot
    FK query (xdump/postgresql.py:19-62)."""
    jvm = spark._jvm
    props = jvm.java.util.Properties()
    for k, v in (properties or {}).items():
        if k != "url":
            props.setProperty(k, v)
    conn = jvm.java.sql.DriverManager.getConnection(url, props)
    try:
        meta = conn.getMetaData()
        tables: list[str] = []
        rs = meta.getTables(None, schema_pattern, "%", None)
        while rs.next():
            if rs.getString("TABLE_TYPE") == "TABLE":
                tables.append(rs.getString("TABLE_NAME"))
        rs.close()
        fks: list[ForeignKey] = []
        for t in tables:
            rs = meta.getImportedKeys(None, schema_pattern, t)
            while rs.next():
                fks.append(
                    ForeignKey(
                        table=rs.getString("FKTABLE_NAME").lower(),
                        column=rs.getString("FKCOLUMN_NAME").lower(),
                        foreign_table=rs.getString("PKTABLE_NAME").lower(),
                        foreign_column=rs.getString("PKCOLUMN_NAME").lower(),
                        name=(rs.getString("FK_NAME") or None),
                    )
                )
            rs.close()
        return fks
    finally:
        conn.close()


def stage_catalog(catalog: Catalog, stage_dir: str) -> Catalog:
    """Materialize every table of a catalog to parquet at t0 and return a
    new Catalog over the staged (immutable) copies — the snapshot-
    consistency answer for ANY mutable source (the reference pins one
    REPEATABLE READ / BEGIN IMMEDIATE transaction instead,
    xdump/postgresql.py:75-83, xdump/sqlite.py:63-65; proven by its
    mid-dump-insert test, tests/test_backend.py:111-127). Mutations to
    the original source after staging are invisible to the dump."""
    dfs: dict[str, DataFrame] = {}
    for t, df in catalog.tables.items():
        df.write.mode("overwrite").parquet(os.path.join(stage_dir, t))
        dfs[t] = df.sparkSession.read.parquet(os.path.join(stage_dir, t))
    return Catalog(dfs, catalog.foreign_keys, primary_keys=catalog.primary_keys)


def stage_snapshot(
    spark: SparkSession,
    options: dict[str, str],
    tables: list[str],
    stage_dir: str,
    fks: list[ForeignKey] | None = None,
) -> Catalog:
    """JDBC form of ``stage_catalog``: read all tables at t0 and stage."""
    dfs = {t: read_table(spark, options, t) for t in tables}
    return stage_catalog(Catalog(dfs, fks or []), stage_dir)


def _sequence_restart_sql(url: str, table: str, column: str, next_value: int) -> str:
    """Dialect-aware counter replay. PostgreSQL serial keys hang off a
    sequence object (reference: xdump/postgresql.py:136-146 captures them
    with setval-shaped SQL); identity columns everywhere else (Derby, H2,
    ANSI) restart in place. ``table``/``column`` are metadata-exact names
    and get QUOTED — Spark's JDBC writer quotes column names (preserving
    case), so an unquoted reference would case-fold to a different
    identifier and the restart would silently miss."""
    if url.startswith("jdbc:postgresql"):
        return (
            f"SELECT setval(pg_get_serial_sequence('\"{table}\"', '{column}'), "
            f"{next_value - 1})"
        )
    return f'ALTER TABLE "{table}" ALTER COLUMN "{column}" RESTART WITH {next_value}'


def apply_sequences_jdbc(
    spark: SparkSession,
    url: str,
    sequences: dict[str, int],
    properties: dict[str, str] | None = None,
    schema_pattern: str | None = None,
) -> dict[str, int]:
    """Replay dumped sequence state into a live JDBC target so inserts
    AFTER the load continue numbering — the reference applies
    ``sequences.sql`` on load and its test asserts ``currval`` moved
    (xdump/base.py:227-237, tests/test_backend.py:138-140). For each
    dumped counter the target table's single-column serial PK (found via
    ``DatabaseMetaData.getPrimaryKeys``, trying the driver's identifier
    case folds) is restarted at max_key + 1.

    Returns {table: restarted-at}. Tables without a single-column PK in
    the target, or whose PK carries no identity/sequence (e.g. a plain
    INT column on a table Spark's JDBC writer auto-created), are skipped
    — there is no counter to restore there, which mirrors the
    reference's "sequences may be absent" tolerance."""
    jvm = spark._jvm
    props = jvm.java.util.Properties()
    for k, v in (properties or {}).items():
        if k != "url":
            props.setProperty(k, v)
    conn = jvm.java.sql.DriverManager.getConnection(url, props)
    applied: dict[str, int] = {}
    try:
        meta = conn.getMetaData()
        st = conn.createStatement()
        for table, max_key in sorted(sequences.items()):
            target_name, pk_cols = None, []
            for cand in (table, table.upper(), table.lower()):
                rs = meta.getPrimaryKeys(None, schema_pattern, cand)
                cols = []
                while rs.next():
                    cols.append(rs.getString("COLUMN_NAME"))
                rs.close()
                if cols:
                    target_name, pk_cols = cand, cols
                    break
            if target_name is None or len(pk_cols) != 1:
                continue   # composite or absent PK: no serial counter
            sql = _sequence_restart_sql(url, target_name, pk_cols[0], int(max_key) + 1)
            try:
                st.execute(sql)
            except Exception:
                continue   # PK without identity/sequence: nothing to restart
            applied[table] = int(max_key) + 1
        st.close()
        return applied
    finally:
        conn.close()


def list_tables(
    spark: SparkSession,
    url: str,
    properties: dict[str, str] | None = None,
    schema_pattern: str | None = None,
) -> list[str]:
    """User-table names via ``DatabaseMetaData.getTables`` (one driver-side
    metadata connection, any JDBC source)."""
    jvm = spark._jvm
    props = jvm.java.util.Properties()
    for k, v in (properties or {}).items():
        if k != "url":
            props.setProperty(k, v)
    conn = jvm.java.sql.DriverManager.getConnection(url, props)
    try:
        tables: list[str] = []
        rs = conn.getMetaData().getTables(None, schema_pattern, "%", None)
        while rs.next():
            if rs.getString("TABLE_TYPE") == "TABLE":
                tables.append(rs.getString("TABLE_NAME"))
        rs.close()
        return sorted(tables)
    finally:
        conn.close()


def introspect_primary_keys(
    spark: SparkSession,
    url: str,
    tables: list[str],
    properties: dict[str, str] | None = None,
    schema_pattern: str | None = None,
) -> dict[str, str]:
    """{table: pk_column} (lowercased) for every table with a SINGLE-column
    primary key — the serial-key metadata sequence_state needs for leaf
    tables (engine.sequence_state; reference reads the sequence catalog
    instead, xdump/postgresql.py:136-146)."""
    jvm = spark._jvm
    props = jvm.java.util.Properties()
    for k, v in (properties or {}).items():
        if k != "url":
            props.setProperty(k, v)
    conn = jvm.java.sql.DriverManager.getConnection(url, props)
    try:
        meta = conn.getMetaData()
        out: dict[str, str] = {}
        for t in tables:
            rs = meta.getPrimaryKeys(None, schema_pattern, t)
            cols = []
            while rs.next():
                cols.append(rs.getString("COLUMN_NAME"))
            rs.close()
            if len(cols) == 1:
                out[t.lower()] = cols[0].lower()
        return out
    finally:
        conn.close()


def jdbc_catalog(
    spark: SparkSession,
    url: str,
    user: str | None = None,
    password: str | None = None,
    driver: str | None = None,
    tables: list[str] | None = None,
    stage_dir: str | None = None,
    schema_pattern: str | None = None,
) -> Catalog:
    """One-call live-database catalog, the CLI's JDBC entry point: discover
    tables, introspect FK edges and single-column PKs through
    DatabaseMetaData, read every table, fold identifiers to lowercase
    (drivers like Derby surface unquoted names uppercase; FK introspection
    already lowercases, so the catalog must agree), and — when
    ``stage_dir`` is given — stage a t0 parquet snapshot so the dump is
    consistent under concurrent writers (``stage_catalog``)."""
    opts = jdbc_options(url, user=user, password=password, driver=driver)
    props = {k: v for k, v in opts.items() if k != "url"}
    discovered = tables or list_tables(spark, url, props, schema_pattern)
    fks = introspect_foreign_keys_metadata(spark, url, props, schema_pattern)
    pks = introspect_primary_keys(spark, url, discovered, props, schema_pattern)
    dfs: dict[str, DataFrame] = {}
    for t in discovered:
        df = read_table(spark, opts, t)
        dfs[t.lower()] = df.toDF(*[c.lower() for c in df.columns])
    cat = Catalog(dfs, fks, primary_keys=pks)
    if stage_dir is not None:
        cat = stage_catalog(cat, stage_dir)
    return cat
