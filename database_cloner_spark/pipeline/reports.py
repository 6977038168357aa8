"""Report & log sinks.

The reference's text artifacts: per-database password files
(clone_databases.sh:447-470), the credential summary (:554-609 PG,
:952-1005 Mongo), and the append-only timestamped log (:24-34).

Every artefact here is tens of lines, so it is composed AND written on
the driver: no Spark job, one part file per directory plus `_SUCCESS`,
the layout `spark.read.parquet` / `spark.read.text` expect. The same
writer stores the principals/grants metadata tables (pipeline/clone.py).
The log is an append parquet table.
"""

from __future__ import annotations

import os
import pathlib
import shutil
import uuid
from collections.abc import Callable, Sequence
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from database_cloner_spark.pipeline.principals import DbPrincipals


def password_file_lines(p: DbPrincipals, host: str, port: int, generated_on: str) -> list[str]:
    """Format-faithful password file (clone_databases.sh:447-470)."""
    return [
        "PostgreSQL Database Cloning - Generated Passwords",
        f"Generated on: {generated_on}",
        f"Database: {p.target_db}",
        "===============================================",
        "",
        "App User (DML only):",
        f"Username: {p.app_user}",
        f"Password: {p.app_password}",
        "",
        "Schema Owner (DDL + DML):",
        f"Username: {p.owner_user}",
        f"Password: {p.owner_password}",
        "",
        "Connection Details:",
        f"Host: {host}",
        f"Port: {port}",
        f"Database: {p.target_db}",
        "",
        "Roles assigned:",
        f"- {p.app_user} -> {p.app_role}",
        f"- {p.owner_user} -> {p.owner_role}",
    ]


def _write_part(path: str, suffix: str, write: Callable[[str], None], append: bool) -> None:
    """Put one part file into the artefact directory `path`, then
    `_SUCCESS` — the layout Spark's writers leave, so `spark.read` and
    pyarrow read it back unchanged. Overwrite replaces the directory;
    append adds a uniquely named part. The part is written under a
    hidden name (readers skip `.`-files) and renamed into place, so a
    concurrent reader never lists a half-written file."""
    if not append and os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}{suffix}" if append else f"part-00000{suffix}"
    tmp = os.path.join(path, f".{name}")
    write(tmp)
    os.replace(tmp, os.path.join(path, name))
    open(os.path.join(path, "_SUCCESS"), "wb").close()


def write_rows(
    path: str, columns: Sequence[str], rows: Sequence[Sequence[str]], append: bool = False
) -> None:
    """Metadata-table sink: `rows` as one parquet part file whose columns
    are all strings, in `columns` order."""
    table = pa.table(
        {c: pa.array([r[i] for r in rows], pa.string()) for i, c in enumerate(columns)}
    )
    _write_part(path, ".parquet", lambda f: pq.write_table(table, f), append)


def read_rows(path: str) -> list[dict]:
    """A metadata table written by `write_rows`, as one dict per row."""
    return pq.read_table(path).to_pylist()


def write_text_report(lines: list[str], path: str) -> None:
    """Text-report sink: one newline-terminated line per entry in a
    single part file — the bytes Spark's text writer produces for the
    same lines."""
    data = "".join(f"{line}\n" for line in lines).encode("utf-8")
    _write_part(path, ".txt", lambda f: pathlib.Path(f).write_bytes(data), append=False)


class LogSink:
    """Append-only timestamped log (clone_databases.sh:24-34) as a
    parquet table (ts, level, message). Buffered; each flush appends one
    part file, readable with `spark.read.parquet`."""

    COLUMNS = ("ts", "level", "message")

    def __init__(self, path: str):
        self.path = path
        self._buf: list[tuple[str, str, str]] = []

    def log(self, level: str, message: str) -> None:
        ts = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
        self._buf.append((ts, level, message))

    def info(self, message: str) -> None:
        self.log("INFO", message)

    def error(self, message: str) -> None:
        self.log("ERROR", message)

    def warning(self, message: str) -> None:
        self.log("WARNING", message)

    def success(self, message: str) -> None:
        self.log("SUCCESS", message)

    def flush(self) -> None:
        if not self._buf:
            return
        write_rows(self.path, self.COLUMNS, self._buf, append=True)
        self._buf = []

def credential_summary_lines(
    sets: list[DbPrincipals], host: str, port: int, generated_on: str
) -> list[str]:
    """The end-of-run credential summary (clone_databases.sh:554-609):
    header + one block per database, in work-list order."""
    lines = [
        "Database Cloning - Credential Summary",
        f"Generated on: {generated_on}",
        "=" * 47,
        "",
    ]
    for p in sets:
        lines += [
            f"Database: {p.target_db}",
            f"  Owner: {p.owner_user} / {p.owner_password}",
            f"  App:   {p.app_user} / {p.app_password}",
            f"  URI:   postgresql://{p.app_user}:****@{host}:{port}/{p.target_db}",
            "",
        ]
    return lines
