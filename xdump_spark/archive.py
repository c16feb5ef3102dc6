"""Dump-archive format: the Spark analog of the reference's zip layout
(``dump/schema.sql`` + ``dump/sequences.sql`` + ``dump/data/<table>.csv``,
reference: xdump/base.py:14-16).

Schema DDL was opaque text from pg_dump/sqlite3 in the reference
(xdump/postgresql.py:129-134, xdump/sqlite.py:94-95); here the manifest is
structured: StructType JSON per table, the FK edge list, and per-table
sequence state (max key) — everything needed to reload with exact types
and FK-topological insert order.

CSV bytes follow PostgreSQL COPY ... CSV semantics (the reference's export,
xdump/postgresql.py:173-177): header row, ``\n`` terminator, NULL as an
unquoted empty field, empty string quoted as ``""``, quotes doubled.
"""

from __future__ import annotations

import io
import json
import zipfile
from datetime import date, datetime

SCHEMA_MEMBER = "dump/schema.json"
SEQUENCES_MEMBER = "dump/sequences.json"
DATA_DIR = "dump/data/"

COMPRESSION = {
    # mirrors the reference CLI's choices (xdump/cli/dump.py:32-38)
    "stored": zipfile.ZIP_STORED,
    "deflated": zipfile.ZIP_DEFLATED,
    "bzip2": zipfile.ZIP_BZIP2,
    "lzma": zipfile.ZIP_LZMA,
}


def _key_to_str(k) -> str:
    """Map keys as JSON object keys, using the SAME scalar encodings as
    values so the load-side coercion round-trips them: str(True) would
    load as False ('true' is the boolean encoding) and str(b'..') would
    load as the bytes of a Python repr."""
    if isinstance(k, bool):
        return "true" if k else "false"
    if isinstance(k, datetime):
        return k.isoformat(sep=" ")
    if isinstance(k, date):
        return k.isoformat()
    if isinstance(k, (bytes, bytearray)):
        return "\\x" + bytes(k).hex()
    return str(k)


def _to_jsonable(v):
    """Recursively convert a Spark-collected cell (lists, Rows, dicts,
    temporals, bytes, Decimals) to a JSON-serializable shape. Scalar
    encodings match the top-level CSV ones so the load path can reuse one
    string-coercion routine per element."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "\\x" + bytes(v).hex()
    if hasattr(v, "asDict"):   # pyspark Row (struct cell) without importing pyspark
        return {k: _to_jsonable(x) for k, x in v.asDict().items()}
    if isinstance(v, dict):
        return {_key_to_str(k): _to_jsonable(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_to_jsonable(x) for x in v]
    return str(v)   # Decimal and anything else with a faithful str form


def format_csv_value(v) -> str:
    """One CSV field, COPY-style: None → empty (unquoted), empty string →
    '""', quoting only when needed, internal quotes doubled. Complex cells
    (array/struct/map) are embedded as JSON — a bare str() would emit
    Python reprs the load side cannot type back."""
    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (datetime, date)):
        s = v.isoformat(sep=" ") if isinstance(v, datetime) else v.isoformat()
    elif isinstance(v, float):
        s = repr(v)
    elif isinstance(v, (bytes, bytearray)):
        s = "\\x" + bytes(v).hex()   # PG COPY bytea encoding
    elif isinstance(v, (list, tuple, dict)) or hasattr(v, "asDict"):
        s = json.dumps(_to_jsonable(v), separators=(",", ":"))
    else:
        s = str(v)
    if s == "":
        return '""'
    if any(c in s for c in (",", '"', "\n", "\r")):
        return '"' + s.replace('"', '""') + '"'
    return s


def rows_to_csv(columns: list[str], rows) -> bytes:
    """Materialize rows as COPY-style CSV bytes with a header row."""
    buf = io.StringIO()
    # column names go through the same escaping as data fields — Spark
    # allows commas/quotes in names (e.g. an unaliased `round(sum(x), 2)`)
    buf.write(",".join(format_csv_value(c) for c in columns) + "\n")
    for row in rows:
        buf.write(",".join(format_csv_value(v) for v in row) + "\n")
    return buf.getvalue().encode("utf-8")


def parse_csv_bytes(data: bytes) -> tuple[list[str], list[list[str | None]]]:
    """Inverse of rows_to_csv: unquoted empty → None, quoted '""' → ''."""
    text = data.decode("utf-8")
    lines: list[list[str | None]] = []
    field = ""
    quoted = False
    in_quotes = False
    row: list[str | None] = []

    def flush_field():
        nonlocal field, quoted
        if field == "" and not quoted:
            row.append(None)
        else:
            row.append(field)
        field = ""
        quoted = False

    i = 0
    n = len(text)
    while i < n:
        c = text[i]
        if in_quotes:
            if c == '"':
                if i + 1 < n and text[i + 1] == '"':
                    field += '"'
                    i += 1
                else:
                    in_quotes = False
            else:
                field += c
        elif c == '"':
            in_quotes = True
            quoted = True
        elif c == ",":
            flush_field()
        elif c == "\n":
            flush_field()
            lines.append(row)
            row = []
        elif c == "\r":
            pass
        else:
            field += c
        i += 1
    if field or quoted or row:
        flush_field()
        lines.append(row)
    header = [c if c is not None else "" for c in lines[0]]
    return header, lines[1:]


class DumpArchive:
    """Writer/reader for the dump zip."""

    def __init__(self, path: str):
        self.path = path

    # -- write ------------------------------------------------------------
    def write(
        self,
        manifest: dict | None,
        data: dict[str, bytes],
        compression: str = "deflated",
    ) -> None:
        """Pack ``engine.manifest`` as the schema and sequences members
        (none for dump_schema=False), plus one CSV member per table."""
        comp = COMPRESSION[compression]
        with zipfile.ZipFile(self.path, "w", compression=comp) as zf:
            if manifest is not None:
                schema = {k: v for k, v in manifest.items() if k != "sequences"}
                zf.writestr(SCHEMA_MEMBER, json.dumps(schema, indent=2))
                zf.writestr(SEQUENCES_MEMBER, json.dumps(manifest["sequences"], indent=2))
            for table, csv_bytes in data.items():
                zf.writestr(f"{DATA_DIR}{table}.csv", csv_bytes)

    # -- read -------------------------------------------------------------
    def namelist(self) -> list[str]:
        with zipfile.ZipFile(self.path) as zf:
            return zf.namelist()

    def read_schema(self) -> dict | None:
        """None when the archive was written with dump_schema=False — the
        load path must tolerate that (reference changelog #39,
        docs/changelog.rst:26)."""
        with zipfile.ZipFile(self.path) as zf:
            if SCHEMA_MEMBER not in zf.namelist():
                return None
            return json.loads(zf.read(SCHEMA_MEMBER))

    def read_sequences(self) -> dict:
        with zipfile.ZipFile(self.path) as zf:
            if SEQUENCES_MEMBER not in zf.namelist():
                return {}
            return json.loads(zf.read(SEQUENCES_MEMBER))

    def read_data(self) -> dict[str, bytes]:
        out: dict[str, bytes] = {}
        with zipfile.ZipFile(self.path) as zf:
            for name in zf.namelist():
                if name.startswith(DATA_DIR) and name.endswith(".csv"):
                    out[name[len(DATA_DIR) : -4]] = zf.read(name)
        return out
