"""Backfill content signatures into driver_ledger.json.

Each ledger entry records the ROUND whose driver run verified the key.
The code the driver saw is the repo tree at that round's boundary
commit ("round N: verdict/advice/correctness/bench"). This script
extracts each needed boundary tree into a temporary directory (git
archive) and, in a subprocess there, reads every registered key's
builder source and oracle SQL from that tree while the CURRENT
registry's helper walker collects the helper sources. The hash is
computed here by the current registry.sig_of, so there is one
signature definition for every round. The sig for each entry's own
round is written into the ledger. Rerun it whenever the signature
definition changes.

A key whose historical source cannot be recovered (registered later
than its ledger round claims, import failure in the old tree) keeps no
sig — the rotation treats sig-less entries as edited, i.e. maximally
re-verifiable, which is the safe direction.

Usage: python scripts/backfill_ledger_sigs.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REGISTRY_PY = os.path.join(REPO, "database_cloner_spark", "registry.py")
sys.path.insert(0, REPO)

from database_cloner_spark.registry import sig_of  # noqa: E402
from scripts.update_ledger import LEDGER, load_ledger  # noqa: E402

# Runs inside each historical tree (PYTHONPATH = that tree): the tree's
# registry supplies builders and oracles, and the CURRENT registry.py,
# loaded by file path under a private name (argv[1]; registered in
# sys.modules before it runs, because its dataclass looks itself up
# there), walks their helpers. Emits {key: [builder_source, oracle, [helper sources...]]};
# hashing happens in THIS process via sig_of.
_EXTRACT = r"""
import importlib.util, inspect, json, sys
spec = importlib.util.spec_from_file_location("_current_registry", sys.argv[1])
walker = sys.modules[spec.name] = importlib.util.module_from_spec(spec)
spec.loader.exec_module(walker)
from database_cloner_spark import registry

out = {}
for name, qs in registry.specs().items():
    try:
        src = inspect.getsource(qs.builder)
    except (OSError, TypeError):
        src = qs.builder.__qualname__
    out[name] = [src, qs.oracle, walker.helper_sources(qs.builder)]
print(json.dumps(out))
"""


def _boundary_commit(rnd: int) -> str | None:
    out = subprocess.run(
        ["git", "log", "--format=%H %s"], cwd=REPO, capture_output=True, text=True
    ).stdout
    for line in out.splitlines():
        sha, _, subject = line.partition(" ")
        if subject.startswith(f"round {rnd}: verdict"):
            return sha
    return None


def _sources_at(commit: str) -> dict[str, list]:
    with tempfile.TemporaryDirectory(prefix="dcs_sig_") as tree:
        archive = subprocess.run(
            ["git", "archive", commit], cwd=REPO, check=True, capture_output=True
        ).stdout
        subprocess.run(["tar", "-x", "-C", tree], input=archive, check=True)
        proc = subprocess.run(
            [sys.executable, "-c", _EXTRACT, REGISTRY_PY],
            cwd=tree, capture_output=True, text=True, timeout=600,
            env={**os.environ, "PYTHONPATH": tree},
        )
        if proc.returncode != 0:
            print(f"  extract failed at {commit[:8]}: {proc.stderr[-400:]}")
            return {}
        return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> None:
    ledger = load_ledger(LEDGER)
    rounds = sorted({v["round"] for v in ledger.values()})
    per_round: dict[int, dict[str, list]] = {}
    for rnd in rounds:
        commit = _boundary_commit(rnd)
        if commit is None:
            print(f"round {rnd}: no boundary commit — entries stay sig-less")
            continue
        print(f"round {rnd}: extracting sources at {commit[:8]} ...")
        per_round[rnd] = _sources_at(commit)

    filled = missing = 0
    for key, entry in ledger.items():
        srcs = per_round.get(entry["round"], {})
        if key in srcs:
            row = srcs[key]
            helpers = row[2] if len(row) > 2 else None
            entry["sig"] = sig_of(row[0], row[1], helpers)
            filled += 1
        else:
            missing += 1
    with open(LEDGER, "w") as f:
        json.dump(dict(sorted(ledger.items())), f, indent=0)
        f.write("\n")
    print(f"backfilled {filled} sigs ({missing} entries left sig-less)")


if __name__ == "__main__":
    main()
