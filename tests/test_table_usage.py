"""registry.tables_used drives adversarial-suite selection.

The sets are derived from builder/helper load() literals and oracle SQL;
tests/test_plans.py checks them against the tables each executed plan
scans. This guards the shape: every key reads something, only known
fixture tables, and the one declared whole-dir override holds.
"""

from __future__ import annotations

from database_cloner_spark.registry import specs, tables_used
from database_cloner_spark.sources.parquet import TABLES


def test_every_key_reads_known_tables():
    bad = {
        name: sorted(tables_used(name))
        for name in specs()
        if not tables_used(name) or not tables_used(name) <= set(TABLES)
    }
    assert not bad, f"empty or unknown table usage: {bad}"
    assert tables_used("q_scan_binary") == frozenset(TABLES)
