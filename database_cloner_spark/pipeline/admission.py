"""Admission control: refuse to clone over a target with active writers.

The reference refuses to drop/recreate a database while anyone is
connected to it (clone_databases.sh:625-708): it counts live sessions
(`SELECT count(*) FROM pg_stat_activity WHERE datname = ...`, gate at
:645) and aborts with kill advice instead of yanking a table out from
under a writer. A file-based engine has no server to ask, so the engine
maintains its own active-writers registry in the target namespace:
every writer registers a lock entry before mutating and removes it when
done; the clone pipeline's pre-flight counts entries for its target and
refuses while any exist.

This is an engine-level pre-flight check, NOT Catalyst (SURVEY.md §4):
it runs driver-side before any job is submitted.

Design notes:
- One JSON file per (holder, table) under `_active_writers/`: acquire
  is a create, release is a delete — no shared-file rewrite, so
  concurrent holders never race each other's entries. Lock files are
  control-plane metadata (bytes, not data), hence plain driver-side IO.
- Stale locks: entries carry `acquired_at`; operators clear crashed
  holders explicitly (`release`), mirroring the reference's "terminate
  the session, then re-run" advice — the engine never auto-breaks a
  lock it didn't take.
"""

from __future__ import annotations

import json
import os
import re
from datetime import datetime, timezone

LOCKS_DIR = "_active_writers"

_SAFE = re.compile(r"[^A-Za-z0-9_.-]")


def _locks_path(target_dir: str) -> str:
    return os.path.join(target_dir, LOCKS_DIR)


def _entry_path(target_dir: str, holder: str, table: str) -> str:
    name = _SAFE.sub("_", f"{holder}__{table}") + ".json"
    return os.path.join(_locks_path(target_dir), name)


def acquire(target_dir: str, holder: str, table: str) -> str:
    """Register `holder` as an active writer of `table`. Returns the
    lock entry path. Re-acquiring an entry you already hold is a no-op
    overwrite (same holder, same table => same file)."""
    os.makedirs(_locks_path(target_dir), exist_ok=True)
    path = _entry_path(target_dir, holder, table)
    entry = {
        "holder": holder,
        "table": table,
        "acquired_at": datetime.now(timezone.utc).isoformat(),
        "pid": os.getpid(),
    }
    with open(path, "w") as f:
        json.dump(entry, f)
    return path


def release(target_dir: str, holder: str) -> int:
    """Remove all of `holder`'s lock entries. Returns the number of
    entries removed."""
    root = _locks_path(target_dir)
    if not os.path.isdir(root):
        return 0
    removed = 0
    for fn in os.listdir(root):
        full = os.path.join(root, fn)
        try:
            with open(full) as f:
                e = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        if e.get("holder") == holder:
            os.remove(full)
            removed += 1
    return removed


def active_writers(target_dir: str, table: str | None = None) -> list[dict]:
    """Lock entries for the namespace (or one table) — the engine's
    `pg_stat_activity` count (clone_databases.sh:638-643)."""
    root = _locks_path(target_dir)
    if not os.path.isdir(root):
        return []
    out = []
    for fn in sorted(os.listdir(root)):
        try:
            with open(os.path.join(root, fn)) as f:
                e = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        if table is None or e.get("table") == table:
            out.append(e)
    return out


def kill_advice(entries: list[dict]) -> str:
    """The reference prints per-session terminate advice before refusing
    (clone_databases.sh:652-700); ours names the holders to release."""
    holders = ", ".join(
        f"{e.get('holder')}(pid={e.get('pid')})" for e in entries
    )
    return (
        f"{len(entries)} active writer(s): {holders}. "
        "Release them (pipeline.admission.release) or wait, then re-run."
    )
