"""Merge driver CORRECTNESS_r*.json results into the driver-green ledger.

The correctness driver verifies only the first N (observed: 50) keys of
``__spark_entry__.queries()`` per round. The ledger records, for every
key that has EVER received a green driver row, the LAST round it was
verified in and HOW it was verified:

    {"q_scan_full": {"round": 8, "mode": "hash"},
     "q_dedup_minhash": {"round": 7, "mode": "rows"}, ...}

- ``mode: "hash"`` — rows + schema + value-hash matched the DuckDB oracle.
- ``mode: "rows"``  — no oracle that round; the driver recorded a
  rows-only pass (SURVEY.md marks these keys ✗-oracle by design).

Since round 11 each green entry also carries ``sig``: the content
signature (registry.sig_of over builder source + oracle SQL) captured
AT MERGE TIME. Run this script at ROUND START, before editing any
query code — the code then on disk is exactly what the driver verified
at the previous round's end, so the captured signature identifies the
verified source. A key edited later stops matching its ledgered sig
and the registry rotation re-queues it ahead of unchanged green keys
(VERDICT r10 item 3). scripts/backfill_ledger_sigs.py reconstructed
the historical sigs from round-boundary commits once.

The merge-before-edits convention is ENFORCED since round 12 (ADVICE
r11): if the source tree is dirty at merge time, keys implemented in a
dirty module get NO sig (plus a warning) — a sig-less entry is treated
as edited by the rotation, so running the merge late can only cause
extra re-verification, never stamp unverified source as green.

The registry orders (a) never-verified keys and (b) keys whose ledger
entry is rows-only but that NOW carry an oracle (an upgrade that must
earn a fresh hash row) FIRST, then edited-since-green keys, then all
untouched green keys oldest-round-first, so successive driver rounds
rotate true least-recently-verified coverage
(VERDICT.md round 1 item 2; round 8 "Next round" item 2).

The ledger loads through registry.load_ledger, the reader the rotation
uses: an entry of an older dict shape (no round or mode) loads as
hash-verified in round 0, i.e. maximally stale.

Usage: python scripts/update_ledger.py CORRECTNESS_r01.json [more...]
"""

from __future__ import annotations

import json
import os
import re
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# `python scripts/update_ledger.py` puts scripts/ (not the repo root) on
# sys.path, which made the registry import inside _current_sig fail
# SILENTLY (the broad except) and merge every entry sig-less — caught by
# test_every_current_ledger_entry_carries_a_sig in round 12.
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from database_cloner_spark.registry import load_ledger  # noqa: E402

LEDGER = os.path.join(_REPO, "database_cloner_spark", "driver_ledger.json")


def _round_of(path: str) -> int:
    m = re.search(r"_r(\d+)", os.path.basename(path))
    return int(m.group(1)) if m else 0


def _dirty_source_files() -> set[str]:
    """Absolute paths of tracked source files with uncommitted changes.
    The round-start convention says this script runs BEFORE any
    round-N+1 edits; a dirty source tree means the code on disk may no
    longer be what the driver verified, so sigs derived from it would
    stamp unverified source as green-as-written (ADVICE r11). Keys
    whose own module is dirty get NO sig — the rotation then treats
    them as edited (maximally re-verifiable), the safe direction."""
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        out = subprocess.run(
            ["git", "status", "--porcelain", "--",
             "database_cloner_spark", "__spark_entry__.py"],
            cwd=repo, capture_output=True, text=True, timeout=30,
        ).stdout
    except Exception:
        return set()
    paths = set()
    for line in out.splitlines():
        # porcelain: XY <path> (or XY <old> -> <new> for renames)
        p = line[3:].split(" -> ")[-1].strip().strip('"')
        if p.endswith(".py"):
            paths.add(os.path.join(repo, p))
    return paths


def _current_sig(key: str, dirty: set[str] | None = None) -> str | None:
    """Signature of the key's CURRENT builder+oracle+helper source —
    valid as the verified-code signature only while the key's builder
    module AND every transitive helper module are unedited since the
    round boundary. None for keys no longer registered
    (renamed/removed) and for keys whose implementing or helper module
    is DIRTY at merge time (see _dirty_source_files)."""
    try:
        import inspect

        from database_cloner_spark.registry import (
            content_sig,
            helper_files,
            specs,
        )

        if dirty:
            spec = specs().get(key)
            if spec is not None:
                f = os.path.abspath(inspect.getfile(spec.builder))
                if f in dirty or helper_files(spec.builder) & dirty:
                    return None
        return content_sig(key)
    except Exception:
        return None


def main(paths: list[str]) -> None:
    # read the module attribute at CALL time (a def-time default would
    # freeze the original path and defeat test monkeypatching)
    ledger = load_ledger(LEDGER)
    dirty = _dirty_source_files()
    skipped_sigs: list[str] = []
    for path in paths:
        rnd = _round_of(path)
        with open(path) as f:
            rows = json.load(f)
        for key, row in rows.items():
            if row.get("hash_match") is True:
                mode = "hash"
            elif row.get("err") == "no_oracle" and row.get("spark_rows") is not None:
                # Rows-only by design (SURVEY.md marks these ✗-oracle).
                mode = "rows"
            else:
                # FAIL row: drop the entry so the key re-enters the
                # never-verified front — but only if this file is at
                # least as new as the ledgered pass (merging an OLDER
                # round's file must not erase a newer green row).
                prev = ledger.get(key)
                if prev is None or rnd >= prev["round"]:
                    ledger.pop(key, None)
                continue
            prev = ledger.get(key)
            if prev is None or rnd >= prev["round"]:
                entry = {"round": rnd, "mode": mode}
                sig = _current_sig(key, dirty)
                if sig is not None:
                    entry["sig"] = sig
                elif dirty:
                    skipped_sigs.append(key)
                ledger[key] = entry
    with open(LEDGER, "w") as f:
        json.dump(dict(sorted(ledger.items())), f, indent=0)
        f.write("\n")
    n_hash = sum(1 for v in ledger.values() if v["mode"] == "hash")
    if skipped_sigs:
        print(
            "WARNING: worktree dirty at merge time — the round-start "
            "convention is merge-before-edits. Sigs omitted for "
            f"{len(skipped_sigs)} keys in dirty modules (they will "
            f"re-verify as if edited): {', '.join(sorted(skipped_sigs)[:8])}"
            f"{' ...' if len(skipped_sigs) > 8 else ''}"
        )
    print(
        f"ledger: {len(ledger)} driver-green keys "
        f"({n_hash} hash, {len(ledger) - n_hash} rows-only) -> {LEDGER}"
    )


if __name__ == "__main__":
    main(sys.argv[1:])
