"""The benchmark's tracer (``perfbench/trace.py``) patches engine names by
attribute lookup; a renamed engine function would only break traced
benchmark runs. Installing and uninstalling it here pins those names."""

from perfbench.trace import Tracer
from xdump_spark import archive, engine


def test_tracer_patches_and_restores_engine_names():
    owners = {
        engine: ["compute_closure", "sequence_state", "rows_to_csv", "parse_csv_bytes"],
        archive.DumpArchive: ["write", "read_schema", "read_sequences", "read_data"],
        engine.SparkDumpEngine: ["dump", "dump_distributed", "load", "load_distributed"],
        engine.LoadedDump: ["write_parquet_db"],
    }
    before = {(o, a): o.__dict__[a] for o, attrs in owners.items() for a in attrs}
    tracer = Tracer(None)
    tracer.install()
    try:
        assert len(tracer._patched) == len(before) == 13
        for (owner, attr), original in before.items():
            assert owner.__dict__[attr] is not original, attr
            assert owner.__dict__[attr].__wrapped__ is original, attr
    finally:
        tracer.uninstall()
    for (owner, attr), original in before.items():
        assert owner.__dict__[attr] is original, attr
