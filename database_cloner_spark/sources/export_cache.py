"""Content-keyed cache for derived test/fixture exports.

The JSON-collection and ORC exports materialize a derived copy of a
source table once per namespace (driver correctness runs re-read them
hundreds of times). The cache key covers the source's CONTENT identity
(path + mtime + size), not just its path: regenerating the fixtures at
the same sf_dir must invalidate the export, otherwise a stale derived
copy silently diverges from the parquet the oracle reads (review
finding on the earlier path-only md5 key).
"""

from __future__ import annotations

import getpass
import hashlib
import os
import tempfile
from collections.abc import Callable

from database_cloner_spark.sources.parquet import _files


def dataset_fingerprint(path: str) -> str:
    """Stable hex digest of a file's (or dataset directory's) identity:
    absolute path plus every member file's (relative path, size,
    mtime_ns) from the loader's walker, which is RECURSIVE — a
    partitioned dataset rewritten in place changes only leaf files
    inside subdirectories, whose parent dir keeps its (mtime, size), so
    a top-level-only stat would serve a stale export (ADVICE r4).
    Metadata-only — never reads data bytes. A missing path hashes its
    absolute path alone."""
    h = hashlib.md5(os.path.abspath(path).encode())
    if os.path.exists(path):
        h.update(repr(_files(path)).encode())
    return h.hexdigest()[:16]


def _cache_root() -> str:
    """Per-user 0o700 cache root: a predictable shared-tmp path could be
    pre-created or clobbered by another user on a multi-tenant host."""
    root = os.path.join(tempfile.gettempdir(), f"dcs_{getpass.getuser()}")
    os.makedirs(root, mode=0o700, exist_ok=True)
    return root


def cached_export(
    prefix: str, source_path: str, build: Callable[[str], None]
) -> str:
    """Return the path of a derived export of `source_path`, building it
    with `build(out_dir)` only when no complete (_SUCCESS-marked) export
    exists for the source's current content fingerprint.

    Concurrency-safe (r13, for the parallel suite runner and any
    multi-process deployment): the build lands in a pid-suffixed temp
    dir and is PUBLISHED with one atomic rename — two processes racing
    on a cold cache each build their own copy, exactly one rename wins,
    the loser discards its temp. A reader can never observe a
    half-built export at the published path."""
    import shutil

    key = dataset_fingerprint(source_path)
    out = os.path.join(_cache_root(), f"{prefix}_{key}")
    marker = os.path.join(out, "_SUCCESS")
    if os.path.exists(marker):
        return out
    tmp = f"{out}.build.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    if not os.path.exists(os.path.join(tmp, "_SUCCESS")):
        # builders that don't write a marker (non-Spark writers) still
        # need completion recorded for the fast path above
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
    # a stale UNMARKED published dir (pre-r13 partial build) blocks the
    # rename; it is junk by definition — remove it
    if os.path.isdir(out) and not os.path.exists(marker):
        shutil.rmtree(out, ignore_errors=True)
    try:
        os.rename(tmp, out)
    except OSError:
        if not os.path.exists(marker):
            raise
        shutil.rmtree(tmp, ignore_errors=True)  # another builder won
    return out
