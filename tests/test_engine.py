"""Dump/load round-trip tests — the reference's end-to-end golden style
(reference: tests/test_backend.py:129-207, tests/conftest.py:125-152):
dump a known fixture, assert archive members and row sets, load back,
compare contents and sequence state."""

import zipfile

import pytest

from xdump_spark.archive import (
    DumpArchive,
    format_csv_value,
    parse_csv_bytes,
    rows_to_csv,
)
from xdump_spark.engine import SparkDumpEngine, toposort_tables
from xdump_spark.catalog import ForeignKey

from .conftest import ids, with_new_rows


@pytest.fixture()
def engine(spark, employees_catalog):
    return SparkDumpEngine(spark, employees_catalog)


def _round_trips(tmp_path, spark, catalog, **selection):
    """(packaging, LoadedDump) for a zip and a directory dump of one
    selection, each loaded back through ``load``."""
    eng = SparkDumpEngine(spark, catalog)
    zip_path, dir_path = str(tmp_path / "rt.zip"), str(tmp_path / "rt_dir")
    eng.dump(zip_path, **selection)
    eng.dump_distributed(dir_path, **selection)
    return [("zip", eng.load(zip_path)), ("dir", eng.load(dir_path))]


def test_dump_archive_members(tmp_path, engine, employees_catalog):
    out = str(tmp_path / "dump.zip")
    engine.dump(
        out,
        full_tables=["groups"],
        partial_tables={"employees": "SELECT * FROM employees ORDER BY id DESC LIMIT 2"},
    )
    names = set(DumpArchive(out).namelist())
    # layout mirrors the reference zip (base.py:14-16; conftest.py:174-180)
    assert names == {
        "dump/schema.json",
        "dump/sequences.json",
        "dump/data/groups.csv",
        "dump/data/employees.csv",
    }


def test_dump_flags(tmp_path, engine):
    # reference: tests/test_backend.py:142-162 (schema/data toggles)
    no_schema = str(tmp_path / "ns.zip")
    engine.dump(no_schema, full_tables=["groups"], dump_schema=False)
    assert set(DumpArchive(no_schema).namelist()) == {"dump/data/groups.csv"}

    no_data = str(tmp_path / "nd.zip")
    engine.dump(no_data, full_tables=["groups"], dump_data=False)
    assert set(DumpArchive(no_data).namelist()) == {"dump/schema.json", "dump/sequences.json"}


def test_dump_compression_choices(tmp_path, engine):
    # reference CLI compression map (cli/dump.py:32-38)
    for comp, const in [("stored", zipfile.ZIP_STORED), ("lzma", zipfile.ZIP_LZMA)]:
        out = str(tmp_path / f"{comp}.zip")
        engine.dump(out, full_tables=["groups"], compression=comp)
        with zipfile.ZipFile(out) as zf:
            assert zf.infolist()[0].compress_type == const


def test_roundtrip_flagship(tmp_path, spark, engine):
    """F11: 2 most-recent employees + manager closure, groups full — dump,
    load, compare row sets and sequence state."""
    out = str(tmp_path / "dump.zip")
    counts = engine.dump(
        out,
        full_tables=["groups"],
        partial_tables={"employees": "SELECT * FROM employees ORDER BY id DESC LIMIT 2"},
    )
    assert counts == {"employees": 4, "groups": 2}

    loaded = SparkDumpEngine(spark, engine.catalog).load(out)
    assert ids(loaded.frames["employees"]) == {1, 3, 4, 5}
    assert ids(loaded.frames["groups"]) == {1, 2}
    # types survive the round trip
    assert dict(loaded.frames["employees"].dtypes)["manager_id"] == "int"
    # sequence state: max ids (reference: currval checks, test_backend.py:138-140)
    assert loaded.sequences == {"employees": 5, "groups": 2}
    # NULL survives: employee 1 has manager_id NULL
    row = [r for r in loaded.frames["employees"].collect() if r.id == 1][0]
    assert row.manager_id is None


def test_roundtrip_into_parquet_db(tmp_path, spark, engine):
    from xdump_spark.sources.parquet_db import ParquetDatabase

    out = str(tmp_path / "dump.zip")
    # closure runs for full tables too (F5): tickets pull their authors
    engine.dump(out, full_tables=["groups", "tickets"])
    loaded = SparkDumpEngine(spark, engine.catalog).load(out)
    db_dir = str(tmp_path / "db")
    order = loaded.write_parquet_db(db_dir)
    assert order == ["groups", "employees", "tickets"]  # FK topological
    db = ParquetDatabase(spark, db_dir)
    assert set(db.tables()) == {"groups", "employees", "tickets"}
    assert db.catalog().tables["tickets"].count() == 5
    # reference parity (test_non_existent_db): a missing source is an
    # error, never a silently-empty catalog/dump
    with pytest.raises(FileNotFoundError, match="does not exist"):
        ParquetDatabase(db.spark, str(tmp_path / "no_such_db")).catalog()
    assert ids(db.catalog().tables["employees"]) == {1, 2, 3}  # authors only
    db.truncate(["tickets"])
    assert set(db.tables()) == {"groups", "employees"}
    db.recreate()
    assert db.tables() == []


def test_load_without_schema_member(tmp_path, spark, engine):
    # reference changelog #39: load must tolerate a schema-less archive
    out = str(tmp_path / "nos.zip")
    engine.dump(out, full_tables=["groups"], dump_schema=False)
    loaded = SparkDumpEngine(spark, engine.catalog).load(out)
    assert loaded.frames["groups"].count() == 2
    assert dict(loaded.frames["groups"].dtypes)["id"] == "string"  # untyped fallback


def test_toposort():
    fks = [
        ForeignKey("tickets", "author_id", "employees", "id"),
        ForeignKey("employees", "group_id", "groups", "id"),
        ForeignKey("employees", "manager_id", "employees", "id"),  # self: ignored
    ]
    order = toposort_tables(["tickets", "employees", "groups"], fks)
    assert order.index("groups") < order.index("employees") < order.index("tickets")


def test_csv_copy_semantics():
    # NULL → empty unquoted; empty string → '""'; quotes doubled
    assert format_csv_value(None) == ""
    assert format_csv_value("") == '""'
    assert format_csv_value('say "hi"') == '"say ""hi"""'
    assert format_csv_value("a,b") == '"a,b"'
    data = rows_to_csv(["a", "b"], [(None, ""), ("x,y", 'q"t')])
    header, rows = parse_csv_bytes(data)
    assert header == ["a", "b"]
    assert rows == [[None, ""], ["x,y", 'q"t']]


def test_input_check_via_engine(tmp_path, engine):
    with pytest.raises(ValueError, match="must not overlap"):
        engine.dump(str(tmp_path / "x.zip"), ["employees"], {"employees": "SELECT 1"})


def test_cli_parse_partial():
    from xdump_spark.cli import parse_partial
    import argparse

    assert parse_partial("emp:SELECT * FROM emp") == ("emp", "SELECT * FROM emp")
    with pytest.raises(argparse.ArgumentTypeError):
        parse_partial("nocolon")


def test_distributed_dump_load_roundtrip(tmp_path, spark, engine, employees_catalog):
    out_dir = str(tmp_path / "dist")
    seed = employees_catalog.tables["employees"].filter("id = 2")
    counts = engine.dump_distributed(
        out_dir, full_tables=["groups"], partial_tables={"employees": seed}
    )
    assert counts == {"employees": 2, "groups": 2}
    loaded = engine.load(out_dir)
    # manager chain 2→1, groups full; schema round-trips typed
    emp = loaded.frames["employees"]
    assert {r.id for r in emp.collect()} == {1, 2}
    assert dict(emp.dtypes)["id"] == "int"
    assert loaded.frames["groups"].count() == 2
    assert loaded.load_order().index("groups") < loaded.load_order().index("employees")
    assert loaded.sequences == {"employees": 2, "groups": 2}


def test_distributed_csv_roundtrip(tmp_path, spark, engine, employees_catalog):
    out_dir = str(tmp_path / "dist_csv")
    seed = employees_catalog.tables["employees"].filter("id = 1")
    engine.dump_distributed(out_dir, partial_tables={"employees": seed}, fmt="csv")
    loaded = engine.load_distributed(out_dir)   # the former name still loads
    emp = loaded.frames["employees"]
    rows = {r.id: r for r in emp.collect()}
    assert set(rows) == {1}
    assert rows[1].manager_id is None   # NULL survives CSV round-trip


def test_roundtrip_decimal_and_binary(tmp_path, spark):
    """Decimal and binary columns must survive the CSV archive round-trip
    (binary is encoded PG-COPY-style as \\x<hex>)."""
    from decimal import Decimal

    from pyspark.sql import types as T

    from xdump_spark.catalog import Catalog

    st = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField("price", T.DecimalType(10, 2), True),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )
    rows = [
        (1, Decimal("19.99"), b"\x00\xffabc"),
        (2, None, None),
        (3, Decimal("0.01"), b","),  # delimiter byte inside the payload
    ]
    cat = Catalog({"items": spark.createDataFrame(rows, st)}, [])
    eng = SparkDumpEngine(spark, cat)
    out = str(tmp_path / "dump.zip")
    eng.dump(out, full_tables=["items"])
    loaded = eng.load(out)
    got = {tuple(r) for r in loaded.frames["items"].collect()}
    assert got == set(rows)
    assert loaded.frames["items"].schema == st


def test_sequence_state_skips_non_numeric_keys(tmp_path, spark):
    """A string-keyed parent must not crash the dump's sequence capture —
    there is no serial counter to restore for uuid/code keys. Zip and
    directory dumps alike."""
    from pyspark.sql import types as T

    from xdump_spark.catalog import Catalog

    parent = spark.createDataFrame(
        [("ZX-991",), ("AA-002",)],
        T.StructType([T.StructField("code", T.StringType(), False)]),
    )
    child = spark.createDataFrame(
        [(1, "ZX-991")],
        T.StructType(
            [
                T.StructField("id", T.IntegerType(), False),
                T.StructField("parent_code", T.StringType(), True),
            ]
        ),
    )
    cat = Catalog(
        {"parent": parent, "child": child},
        [ForeignKey("child", "parent_code", "parent", "code", "fk")],
    )
    for fmt, loaded in _round_trips(tmp_path, spark, cat, full_tables=["child"]):
        assert ids(loaded.frames["parent"], "code") == {"ZX-991"}, fmt
        assert loaded.sequences == {}, fmt  # skipped, not crashed


def test_csv_header_escaping_roundtrip():
    """Column names containing commas/quotes (Spark allows them, e.g. an
    unaliased aggregate) must round-trip through the archive CSV."""
    cols = ["id", "round(sum(x), 2)", 'say "hi"']
    rows = [(1, "a", "b"), (2, None, "")]
    header, parsed = parse_csv_bytes(rows_to_csv(cols, rows))
    assert header == cols
    assert parsed == [["1", "a", "b"], ["2", None, ""]]


def test_parquet_db_truncate_file_form(tmp_path, spark):
    """truncate() must also delete single-file <name>.parquet tables that
    tables() reports."""
    import os

    from xdump_spark.sources.parquet_db import ParquetDatabase

    db_dir = tmp_path / "db"
    os.makedirs(db_dir)
    df = spark.range(3).toDF("id")
    df.write.parquet(str(tmp_path / "stage"))
    part = [
        p for p in os.listdir(tmp_path / "stage") if p.endswith(".parquet")
    ][0]
    os.rename(tmp_path / "stage" / part, db_dir / "solo.parquet")
    df.write.parquet(str(db_dir / "dirform"))
    db = ParquetDatabase(spark, str(db_dir))
    assert db.tables() == ["dirform", "solo"]
    db.truncate()
    assert db.tables() == []


def test_sequence_state_accepts_decimal_scale0_keys(tmp_path, spark):
    """JDBC sources surface serial keys as DecimalType(p, 0) — those carry
    a restorable counter and must be captured, by zip and directory dumps
    alike."""
    from decimal import Decimal

    from pyspark.sql import types as T

    from xdump_spark.catalog import Catalog

    parent = spark.createDataFrame(
        [(Decimal("7"),), (Decimal("42"),)],
        T.StructType([T.StructField("id", T.DecimalType(10, 0), False)]),
    )
    child = spark.createDataFrame(
        [(1, Decimal("42"))],
        T.StructType(
            [
                T.StructField("cid", T.IntegerType(), False),
                T.StructField("pid", T.DecimalType(10, 0), True),
            ]
        ),
    )
    cat = Catalog(
        {"parent": parent, "child": child},
        [ForeignKey("child", "pid", "parent", "id", "fk")],
    )
    for fmt, loaded in _round_trips(tmp_path, spark, cat, full_tables=["parent"]):
        assert loaded.sequences == {"parent": 42}, fmt


def test_sequence_state_includes_leaf_tables(tmp_path, spark, engine):
    """The reference dumps ALL sequences (xdump/postgresql.py:136-146);
    a leaf table's serial counter (tickets — nothing references it) must
    survive the round trip via the catalog's explicit primary keys, or
    post-load inserts would restart numbering and collide. Zip and
    directory dumps alike."""
    for fmt, loaded in _round_trips(
        tmp_path, spark, engine.catalog, full_tables=["groups", "tickets"]
    ):
        assert loaded.sequences == {"employees": 3, "groups": 2, "tickets": 5}, fmt


def test_roundtrip_complex_columns(tmp_path, spark):
    """array / struct / map columns round-trip through the archive CSV as
    embedded JSON (a bare str() wrote Python reprs that could not load) —
    the catalog's 'embeddings' table (array<float>) is the motivating
    case."""
    from pyspark.sql import types as T

    from xdump_spark.catalog import Catalog

    st = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField("emb", T.ArrayType(T.FloatType()), True),
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("w", T.IntegerType(), True),
                        T.StructField("tag", T.StringType(), True),
                    ]
                ),
                True,
            ),
            T.StructField("props", T.MapType(T.StringType(), T.LongType()), True),
        ]
    )
    rows = [
        (1, [0.5, -1.25], {"w": 3, "tag": 'a,"b'}, {"k1": 7, "k2": 9}),
        (2, [], {"w": None, "tag": None}, {}),
        (3, None, None, None),
    ]
    media = spark.createDataFrame(rows, st)
    cat = Catalog({"media": media}, [], primary_keys={"media": "id"})
    out = str(tmp_path / "complex.zip")
    eng = SparkDumpEngine(spark, cat)
    assert eng.dump(out, full_tables=["media"]) == {"media": 3}

    loaded = SparkDumpEngine(spark, cat).load(out)
    got = loaded.frames["media"]
    assert got.schema == st
    by_id = {r.id: r for r in got.collect()}
    assert by_id[1].emb == [0.5, -1.25]
    assert by_id[1].meta.asDict() == {"w": 3, "tag": 'a,"b'}
    assert by_id[1].props == {"k1": 7, "k2": 9}
    assert by_id[2].emb == []
    assert by_id[2].meta.asDict() == {"w": None, "tag": None}
    assert by_id[2].props == {}
    assert by_id[3].emb is None and by_id[3].meta is None and by_id[3].props is None


def test_snapshot_staging_hides_mid_dump_mutation(tmp_path, spark, employees_catalog):
    """The reference proves a concurrent insert mid-dump is invisible
    (REPEATABLE READ, tests/test_backend.py:111-127); the Spark analog is
    stage-then-plan: a source mutated AFTER staging must not leak into the
    dump."""
    import os

    from xdump_spark.sources.jdbc import stage_catalog
    from xdump_spark.sources.parquet_db import ParquetDatabase

    src = str(tmp_path / "livedb")
    for name, df in employees_catalog.tables.items():
        df.write.parquet(os.path.join(src, name))
    live = ParquetDatabase(spark, src)
    live.write_fk_config(employees_catalog.foreign_keys)

    staged = stage_catalog(live.catalog(), str(tmp_path / "stage"))

    # "concurrent insert": a sixth employee lands in the live source
    extra = employees_catalog.tables["employees"].limit(0).sparkSession.createDataFrame(
        [(6, "Eve", "Late", None, None, 1)],
        employees_catalog.tables["employees"].schema,
    )
    employees_catalog.tables["employees"].unionByName(extra).write.mode(
        "overwrite"
    ).parquet(os.path.join(src, "employees") + "_new")
    # atomic-ish swap, as a DB write would be
    os.rename(os.path.join(src, "employees"), os.path.join(src, "employees") + "_old")
    os.rename(os.path.join(src, "employees") + "_new", os.path.join(src, "employees"))

    out = str(tmp_path / "snap.zip")
    counts = SparkDumpEngine(spark, staged).dump(out, full_tables=["employees", "groups"])
    assert counts["employees"] == 5   # t0 snapshot, not 6
    loaded = SparkDumpEngine(spark, staged).load(out)
    assert ids(loaded.frames["employees"]) == {1, 2, 3, 4, 5}
    # while the live source really does see the new row
    assert live.catalog().tables["employees"].count() == 6


def test_roundtrip_boolean_map_keys(tmp_path, spark):
    """Map keys use the scalar value encodings: {True: 1} must not load
    as {False: 1} (str(True)='True' vs the boolean encoding 'true')."""
    from pyspark.sql import types as T

    from xdump_spark.catalog import Catalog

    st = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField("flags", T.MapType(T.BooleanType(), T.LongType()), True),
        ]
    )
    df = spark.createDataFrame([(1, {True: 7, False: 3})], st)
    cat = Catalog({"m": df}, [])
    out = str(tmp_path / "bk.zip")
    SparkDumpEngine(spark, cat).dump(out, full_tables=["m"])
    got = SparkDumpEngine(spark, cat).load(out).frames["m"].collect()[0]
    assert got.flags == {True: 7, False: 3}


def test_sequence_state_beyond_long_range(tmp_path, spark):
    """decimal(38,0) serial keys past the long range must survive capture
    exactly (a long cast would overflow or null the sequence out), in zip
    and directory dumps alike."""
    from decimal import Decimal

    from pyspark.sql import types as T

    from xdump_spark.catalog import Catalog

    big = Decimal(2**70)
    df = spark.createDataFrame(
        [(big,)], T.StructType([T.StructField("id", T.DecimalType(38, 0), False)])
    )
    cat = Catalog({"t": df}, [], primary_keys={"t": "id"})
    for fmt, loaded in _round_trips(tmp_path, spark, cat, full_tables=["t"]):
        assert loaded.sequences == {"t": 2**70}, fmt
        assert loaded.frames["t"].first().id == big, fmt


def test_dump_enforces_small_selection_contract(tmp_path, engine):
    """dump() collects to the driver; an oversized selection must raise
    (pointing at dump_distributed) BEFORE any collect happens."""
    with pytest.raises(ValueError, match="dump_distributed"):
        engine.dump(
            str(tmp_path / "big.zip"), full_tables=["groups"], max_driver_rows=1
        )
    # opting out restores the old behavior
    out = str(tmp_path / "ok.zip")
    engine.dump(out, full_tables=["groups"], max_driver_rows=None)
    assert DumpArchive(out).namelist()


def test_parquet_db_sequence_manifest_and_allocation(tmp_path, spark, engine):
    """write_parquet_db lands the dumped counters in sequences.json and
    allocate_keys continues numbering from the dumped max."""
    from xdump_spark.sources.parquet_db import ParquetDatabase

    out = str(tmp_path / "dump.zip")
    engine.dump(
        out,
        full_tables=["groups"],
        partial_tables={"employees": "SELECT * FROM employees ORDER BY id DESC LIMIT 2"},
    )
    loaded = engine.load(out)
    db_dir = str(tmp_path / "pdb")
    loaded.write_parquet_db(db_dir)

    db = ParquetDatabase(spark, db_dir)
    seqs = db.sequences()
    assert seqs["employees"] == 5 and seqs["groups"] == 2
    assert db.allocate_keys("employees", 2) == [6, 7]
    assert db.allocate_keys("employees") == [8]          # persisted advance
    assert db.sequences()["employees"] == 8
    assert db.allocate_keys("tickets") == [1]            # unknown table starts fresh


def test_schema_only_zip_records_sequences(tmp_path, spark, engine):
    """dump_data=False still captures sequence state: the export step's
    noop action carries the same observation as a data dump's collect."""
    out = str(tmp_path / "schema_only.zip")
    counts = engine.dump(out, full_tables=["groups", "tickets"], dump_data=False)
    assert counts == {"employees": 3, "groups": 2, "tickets": 5}
    expected = {"employees": 3, "groups": 2, "tickets": 5}
    assert DumpArchive(out).read_sequences() == expected
    loaded = SparkDumpEngine(spark, engine.catalog).load(out)
    assert loaded.frames == {}
    assert loaded.sequences == expected


@pytest.mark.parametrize("fmt", ["parquet", "csv"])
def test_zip_and_directory_dumps_load_in_lockstep(tmp_path, spark, engine, fmt):
    """One selection dumped as a zip and as a directory loads back to the
    same rows, column types, FK edges and sequence state."""
    selection = dict(
        full_tables=["groups", "tickets"],
        partial_tables={"employees": "SELECT * FROM employees WHERE id = 5"},
    )
    zip_path, dir_path = str(tmp_path / "d.zip"), str(tmp_path / "d")
    assert engine.dump(zip_path, **selection) == engine.dump_distributed(
        dir_path, fmt=fmt, **selection
    )
    z, d = engine.load(zip_path), engine.load(dir_path)
    assert sorted(z.frames) == sorted(d.frames) == ["employees", "groups", "tickets"]
    for table in z.frames:
        assert z.frames[table].dtypes == d.frames[table].dtypes, table
        assert sorted(map(tuple, z.frames[table].collect())) == sorted(
            map(tuple, d.frames[table].collect())
        ), table
    def fk_dicts(loaded):
        return sorted(sorted(fk.to_dict().items()) for fk in loaded.foreign_keys)

    assert fk_dicts(z) == fk_dicts(d) and len(z.foreign_keys) == 4
    assert z.sequences == d.sequences == {"employees": 5, "groups": 2, "tickets": 5}
    assert z.load_order() == d.load_order()


def test_directory_redump_commits_through_manifest(tmp_path, spark, engine, monkeypatch):
    """A re-dump over an existing directory that fails part-way must not
    leave a loadable mix of old and new tables: the old manifest goes
    before the first table is overwritten, the new one is written last."""
    from pyspark.sql.readwriter import DataFrameWriter

    out = str(tmp_path / "dist")
    engine.dump_distributed(out, full_tables=["groups", "tickets"])
    assert sorted(engine.load(out).frames) == ["employees", "groups", "tickets"]

    real_parquet = DataFrameWriter.parquet
    written = []

    def second_write_fails(self, path, *args, **kwargs):
        written.append(path)
        if len(written) == 2:
            raise IOError("injected write failure")
        return real_parquet(self, path, *args, **kwargs)

    selection = {"employees": "SELECT * FROM employees WHERE id = 2"}
    monkeypatch.setattr(DataFrameWriter, "parquet", second_write_fails)
    with pytest.raises(IOError, match="injected"):
        engine.dump_distributed(out, partial_tables=selection)
    monkeypatch.undo()
    assert len(written) == 2   # the first table of the new dump was overwritten
    with pytest.raises(FileNotFoundError, match="manifest.json"):
        engine.load(out)

    # a finished re-dump commits and loads only its own tables
    assert engine.dump_distributed(out, partial_tables=selection) == {
        "employees": 2, "groups": 1,
    }
    loaded = engine.load(out)
    assert sorted(loaded.frames) == ["employees", "groups"]
    assert ids(loaded.frames["employees"]) == {1, 2}


def test_incremental_since_directory_dump(tmp_path, spark, engine, employees_catalog):
    """dump_incremental reads a directory dump's sequence state through
    the same loader as a zip's, and omits tables with no new rows."""
    base = str(tmp_path / "base")
    engine.dump_distributed(base, full_tables=["groups", "tickets"])

    grown = SparkDumpEngine(spark, with_new_rows(spark, employees_catalog))
    delta = str(tmp_path / "delta.zip")
    counts = grown.dump_incremental(delta, since=base, full_tables=["groups", "tickets"])
    assert counts == {"groups": 1, "employees": 1, "tickets": 1}
    loaded = grown.load(delta)
    assert ids(loaded.frames["groups"]) == {3}
    assert ids(loaded.frames["employees"]) == {6}
    assert ids(loaded.frames["tickets"]) == {6}
    assert loaded.sequences == {"groups": 3, "employees": 6, "tickets": 6}

    unchanged = str(tmp_path / "unchanged.zip")
    assert engine.dump_incremental(unchanged, since=base, full_tables=["groups"]) == {}
    assert engine.load(unchanged).frames == {}
