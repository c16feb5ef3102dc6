"""Incremental (delta) dump tests: full dump → rows appended at the
source → dump_incremental captures ONLY the new rows, and the delta
archive appends cleanly onto the previously-loaded target."""

import pytest
from pyspark.sql import functions as F

from xdump_spark.archive import DumpArchive
from xdump_spark.engine import SparkDumpEngine, read_manifest
from xdump_spark.sources.parquet_db import ParquetDatabase
from tests.conftest import ids, with_new_rows


@pytest.fixture()
def engine(spark, employees_catalog):
    return SparkDumpEngine(spark, employees_catalog)


def test_incremental_captures_only_new_rows(tmp_path, spark, engine, employees_catalog):
    base_zip = str(tmp_path / "base.zip")
    engine.dump(base_zip, full_tables=["groups", "tickets"])  # pulls authors too

    grown = with_new_rows(spark, employees_catalog)
    engine2 = SparkDumpEngine(spark, grown)
    delta_zip = str(tmp_path / "delta.zip")
    counts = engine2.dump_incremental(
        delta_zip, since=base_zip, full_tables=["groups", "tickets"]
    )
    # groups: only id 3; tickets: only id 6; employees: new authors only
    # (6 is ticket 6's author; 7 authored nothing and the base dump's
    # closure had selected employees {1,2,3}, sequence watermark 5 → both
    # 6 and 7 would pass the watermark, but only 6 is in the closure)
    assert counts == {"groups": 1, "employees": 1, "tickets": 1}

    loaded = SparkDumpEngine(spark, grown.__class__({})).load(delta_zip)
    assert ids(loaded.frames["groups"]) == {3}
    assert ids(loaded.frames["employees"]) == {6}
    assert ids(loaded.frames["tickets"]) == {6}
    # delta sequence state reflects the NEW maxima (numbering continues)
    assert loaded.sequences == {"groups": 3, "employees": 6, "tickets": 6}


def test_incremental_appends_onto_previous_target(tmp_path, spark, engine, employees_catalog):
    base_zip = str(tmp_path / "base.zip")
    engine.dump(base_zip, full_tables=["groups", "tickets"])
    db_dir = str(tmp_path / "db")
    SparkDumpEngine(spark, engine.catalog).load(base_zip).write_parquet_db(db_dir)

    grown = with_new_rows(spark, employees_catalog)
    delta_zip = str(tmp_path / "delta.zip")
    SparkDumpEngine(spark, grown).dump_incremental(
        delta_zip, since=base_zip, full_tables=["groups", "tickets"]
    )
    loaded = SparkDumpEngine(spark, grown.__class__({})).load(delta_zip)
    db = ParquetDatabase(spark, db_dir)
    db.load_tables(loaded.frames, loaded.load_order(), mode="append")
    cat = db.catalog()
    assert ids(cat.tables["groups"]) == {1, 2, 3}
    assert ids(cat.tables["tickets"]) == {1, 2, 3, 4, 5, 6}
    # base authors {1,2,3} + new author {6}; referential integrity holds
    assert ids(cat.tables["employees"]) == {1, 2, 3, 6}
    author_keys = {r.author_id for r in cat.tables["tickets"].collect()}
    assert author_keys <= ids(cat.tables["employees"])


def test_incremental_with_no_changes_is_empty(tmp_path, spark, engine):
    base_zip = str(tmp_path / "base.zip")
    engine.dump(base_zip, full_tables=["groups", "tickets"])
    delta_zip = str(tmp_path / "delta.zip")
    counts = engine.dump_incremental(
        delta_zip, since=base_zip, full_tables=["groups", "tickets"]
    )
    assert counts == {}
    # loadable no-op archive (skip-if-absent covers every table)
    loaded = SparkDumpEngine(spark, engine.catalog.__class__({})).load(delta_zip)
    assert loaded.frames == {}


def test_cli_since_flag(tmp_path, spark, engine, employees_catalog):
    """`dump --since prev.zip` routes through dump_incremental."""
    import os

    from xdump_spark import cli

    src = str(tmp_path / "srcdb")
    grown = with_new_rows(spark, employees_catalog)
    for name, df in grown.tables.items():
        df.write.parquet(os.path.join(src, name))
    ParquetDatabase(spark, src).write_fk_config(grown.foreign_keys)

    base_zip = str(tmp_path / "base.zip")
    engine.dump(base_zip, full_tables=["groups", "tickets"])
    delta_zip = str(tmp_path / "delta.zip")
    args = cli.build_parser().parse_args(
        ["dump", "-i", src, "-o", delta_zip, "-f", "groups", "-f", "tickets",
         "--since", base_zip]
    )
    assert cli.run(args, spark) == 0
    loaded = SparkDumpEngine(spark, employees_catalog.__class__({})).load(delta_zip)
    assert ids(loaded.frames["groups"]) == {3}
    assert ids(loaded.frames["tickets"]) == {6}


def test_config_and_framework_since(tmp_path, spark, engine, employees_catalog):
    """`since` flows through the config-file and framework surfaces too."""
    import json
    import os

    from xdump_spark.config import dump_from_config
    from xdump_spark.framework import dump_command

    src = str(tmp_path / "srcdb")
    grown = with_new_rows(spark, employees_catalog)
    for name, df in grown.tables.items():
        df.write.parquet(os.path.join(src, name))
    ParquetDatabase(spark, src).write_fk_config(grown.foreign_keys)
    base_zip = str(tmp_path / "base.zip")
    engine.dump(base_zip, full_tables=["groups"])

    cfg = {
        "db": src, "output": str(tmp_path / "d1.zip"),
        "full_tables": ["groups"], "since": base_zip,
    }
    cfg_path = str(tmp_path / "cfg.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    assert dump_from_config(spark, cfg_path) == {"groups": 1}

    settings = {
        "DATABASES": {"default": {"ENGINE": "xdump_spark.parquet", "NAME": src}},
        "XDUMP": {"FULL_TABLES": ["groups"], "PARTIAL_TABLES": {}},
    }
    counts = dump_command(spark, settings, str(tmp_path / "d2.zip"), since=base_zip)
    assert counts == {"groups": 1}


def test_incremental_anti_join_fallback_without_sequence(tmp_path, spark, engine, employees_catalog):
    """A table absent from the since-archive's sequence state (simulated
    by stripping it) falls back to the exact full-row anti-join."""
    base_zip = str(tmp_path / "base.zip")
    engine.dump(base_zip, full_tables=["groups"])
    manifest = read_manifest(spark, base_zip)
    manifest["sequences"].pop("groups")
    stripped = str(tmp_path / "stripped.zip")
    DumpArchive(stripped).write(manifest, DumpArchive(base_zip).read_data(), "deflated")

    grown = employees_catalog.with_table(
        "groups",
        employees_catalog.tables["groups"].unionByName(
            spark.createDataFrame([(3, "Guest")], employees_catalog.tables["groups"].schema)
        ),
    )
    delta_zip = str(tmp_path / "delta.zip")
    counts = SparkDumpEngine(spark, grown).dump_incremental(
        delta_zip, since=stripped, full_tables=["groups"]
    )
    assert counts == {"groups": 1}
    loaded = SparkDumpEngine(spark, grown.__class__({})).load(delta_zip)
    assert ids(loaded.frames["groups"]) == {3}
