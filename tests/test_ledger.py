"""update_ledger merge semantics + registry ledger-format migration.

Pinned after the r9 code review: (1) a FAIL row from an OLDER round's
CORRECTNESS file must not erase a NEWER round's green entry (catch-up
merges and re-runs are explicitly supported by the multi-file CLI);
(2) a legacy dict-shaped entry must load as maximally-stale, never
KeyError the rotation.
"""

from __future__ import annotations

import importlib.util
import json
import os

_SPEC = importlib.util.spec_from_file_location(
    "update_ledger",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "scripts", "update_ledger.py"),
)
update_ledger = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(update_ledger)


def _run_merge(tmp_path, monkeypatch, ledger_before, files):
    """files: list of (filename, rows-dict) merged in order."""
    ledger_path = str(tmp_path / "driver_ledger.json")
    if ledger_before is not None:
        with open(ledger_path, "w") as f:
            json.dump(ledger_before, f)
    monkeypatch.setattr(update_ledger, "LEDGER", ledger_path)
    paths = []
    for fname, rows in files:
        p = str(tmp_path / fname)
        with open(p, "w") as f:
            json.dump(rows, f)
        paths.append(p)
    update_ledger.main(paths)
    with open(ledger_path) as f:
        return json.load(f)


def test_older_fail_row_cannot_erase_newer_green(tmp_path, monkeypatch):
    led = _run_merge(
        tmp_path, monkeypatch,
        {"q_x": {"round": 9, "mode": "hash"}},
        [("CORRECTNESS_r08.json", {"q_x": {"err": "FAIL", "spark_rows": None}})],
    )
    assert led["q_x"] == {"round": 9, "mode": "hash"}


def test_same_or_newer_fail_row_does_demote(tmp_path, monkeypatch):
    led = _run_merge(
        tmp_path, monkeypatch,
        {"q_x": {"round": 8, "mode": "hash"}},
        [("CORRECTNESS_r09.json", {"q_x": {"err": "FAIL", "spark_rows": None}})],
    )
    assert "q_x" not in led


def test_older_green_row_cannot_downgrade_round(tmp_path, monkeypatch):
    led = _run_merge(
        tmp_path, monkeypatch,
        {"q_x": {"round": 9, "mode": "hash"}},
        [("CORRECTNESS_r07.json", {"q_x": {"hash_match": True}})],
    )
    assert led["q_x"]["round"] == 9


def test_rows_only_pass_records_rows_mode(tmp_path, monkeypatch):
    led = _run_merge(
        tmp_path, monkeypatch, None,
        [("CORRECTNESS_r09.json",
          {"q_r": {"err": "no_oracle", "spark_rows": 12},
           "q_h": {"hash_match": True}})],
    )
    assert led["q_r"] == {"round": 9, "mode": "rows"}
    assert led["q_h"] == {"round": 9, "mode": "hash"}


def test_legacy_shapes_load_as_stale(tmp_path, monkeypatch):
    # a dict with bare values migrates, never raises
    path = str(tmp_path / "led.json")
    with open(path, "w") as f:
        json.dump({"q_a": True, "q_b": "green"}, f)
    loaded = update_ledger.load_ledger(path)
    assert loaded == {
        "q_a": {"round": 0, "mode": "hash"},
        "q_b": {"round": 0, "mode": "hash"},
    }


def test_registry_migrates_legacy_dict_ledger(monkeypatch, tmp_path):
    from database_cloner_spark import registry

    path = str(tmp_path / "led.json")
    with open(path, "w") as f:
        json.dump({"q_a": True}, f)
    monkeypatch.setattr(registry, "_LEDGER_PATH", path)
    green = registry.load_ledger()
    assert green == {"q_a": {"round": 0, "mode": "hash"}}


# --- content-signature staleness (VERDICT r10 item 3) ------------------------


def test_merge_records_content_sig_for_registered_keys(tmp_path, monkeypatch):
    from database_cloner_spark import registry

    # decouple from whatever happens to be dirty in the dev tree
    monkeypatch.setattr(update_ledger, "_dirty_source_files", lambda: set())
    led = _run_merge(
        tmp_path, monkeypatch, None,
        [("CORRECTNESS_r11.json",
          {"q_scan_full": {"hash_match": True},     # real registered key
           "q_not_registered": {"hash_match": True}})],
    )
    assert led["q_scan_full"]["sig"] == registry.content_sig("q_scan_full")
    assert "sig" not in led["q_not_registered"]


def test_dirty_module_key_gets_no_sig(tmp_path, monkeypatch):
    """ADVICE r11: merging with uncommitted edits in a key's module
    must NOT stamp the (unverified) edited source as green-as-written —
    the entry stays sig-less, which the rotation treats as edited."""
    import inspect

    from database_cloner_spark import registry

    spec = registry.specs()["q_scan_full"]
    dirty_file = os.path.abspath(inspect.getfile(spec.builder))
    monkeypatch.setattr(
        update_ledger, "_dirty_source_files", lambda: {dirty_file}
    )
    led = _run_merge(
        tmp_path, monkeypatch, None,
        [("CORRECTNESS_r11.json", {"q_scan_full": {"hash_match": True}})],
    )
    assert led["q_scan_full"]["round"] == 11
    assert "sig" not in led["q_scan_full"]


def test_clean_tree_merge_still_records_sig(tmp_path, monkeypatch):
    monkeypatch.setattr(update_ledger, "_dirty_source_files", lambda: set())
    from database_cloner_spark import registry

    led = _run_merge(
        tmp_path, monkeypatch, None,
        [("CORRECTNESS_r11.json", {"q_scan_full": {"hash_match": True}})],
    )
    assert led["q_scan_full"]["sig"] == registry.content_sig("q_scan_full")


def test_rotation_puts_edited_green_keys_ahead_of_unchanged(tmp_path, monkeypatch):
    """Three green keys, same round: the one whose ledgered sig no
    longer matches current code (and the one with NO sig — pre-sig
    ledger era) must both precede the sig-matching key; a never-green
    key still precedes everything."""
    from database_cloner_spark import registry

    registry._ensure_loaded()
    keys = list(registry._REGISTRY)[:4]
    pending_k, edited_k, sigless_k, fresh_k = keys
    path = str(tmp_path / "led.json")
    with open(path, "w") as f:
        json.dump({
            edited_k: {"round": 5, "mode": "hash", "sig": "0" * 16},
            sigless_k: {"round": 5, "mode": "hash"},
            fresh_k: {"round": 5, "mode": "hash",
                      "sig": registry.content_sig(fresh_k)},
        }, f)
    monkeypatch.setattr(registry, "_LEDGER_PATH", path)
    order = registry._rotation_order(keys)
    assert order.index(pending_k) == 0
    assert order.index(fresh_k) == 3
    assert {order[1], order[2]} == {edited_k, sigless_k}


def test_every_current_ledger_entry_carries_a_sig():
    """The r11 backfill filled all historical entries; future merges
    must not regress to sig-less entries for registered keys."""
    from database_cloner_spark import registry

    green = registry.load_ledger()
    assert green, "ledger unexpectedly empty"
    missing = [k for k, v in green.items()
               if "sig" not in v and k in registry.specs()]
    assert not missing, f"sig-less ledger entries: {missing}"


def test_helper_module_edit_changes_content_sig():
    """VERDICT r13 item 3: the r13 llm/dedup.py evaluator rewrite never
    bumped q_dedup_embedding*'s signatures because sig_of saw only the
    registered builder's own text. helper_sources must now reach the
    evaluator transitively (builder -> dedup.embedding_neardup_pairs ->
    _cos_pairs_in_group), and a changed helper source must change the
    signature."""
    import inspect

    from database_cloner_spark import registry
    from database_cloner_spark.llm import dedup

    for key in ("q_dedup_embedding", "q_dedup_embedding_bucketed"):
        spec = registry.get_query(key)
        helpers = registry.helper_sources(spec.builder)
        assert any("_cos_pairs_in_group" in h for h in helpers), key
        src = inspect.getsource(spec.builder)
        base = registry.sig_of(src, spec.oracle, helpers)
        mutated = [h + "\n# edited" if "_cos_pairs_in_group" in h else h
                   for h in helpers]
        assert registry.sig_of(src, spec.oracle, mutated) != base, key
        # and llm/dedup.py is in the dirty-check file set
        files = registry.helper_files(spec.builder)
        assert any(f.endswith("llm/dedup.py") for f in files), key


def test_helper_walk_reaches_module_attribute_helpers(monkeypatch):
    """`pkgmod.attr` call sites (the dominant builder idiom) must
    resolve: q_graph_pagerank reaches _pagerank_ranks via the joins
    module's own globals, q_text_langid reaches language_id via the
    llmtext module alias. Function-local package imports resolve too
    (`from database_cloner_spark.functions.bloom import build_bloom`
    inside q_join_bloom_semi; `from database_cloner_spark.llm import
    dedup as _dedup` inside q_graph_degree), the count-table keys
    reach functions/ranks.py through its module alias, and a dict
    constant's value is part of the signature."""
    from database_cloner_spark import registry
    from database_cloner_spark.queries import dataquality

    def reaches(key: str, needle: str) -> bool:
        helpers = registry.helper_sources(registry.get_query(key).builder)
        return any(needle in h for h in helpers)

    assert reaches("q_graph_pagerank", "def _pagerank_ranks")
    assert reaches("q_text_langid", "def language_id")
    assert reaches("q_join_bloom_semi", "def build_bloom")
    assert reaches("q_graph_degree", "def _pair_intersections")
    assert reaches("q_agg_quartiles", "def pick")
    assert reaches("q_stats_mannwhitney", "def running")

    def benford_sig() -> str:
        spec = registry.get_query("q_dq_benford")
        return registry.sig_of(
            "", spec.oracle, registry.helper_sources(spec.builder)
        )

    base = benford_sig()
    monkeypatch.setitem(dataquality._BENFORD_PPM, 1, dataquality._BENFORD_PPM[1] + 1)
    assert benford_sig() != base


def test_content_sig_is_independent_of_the_hash_seed():
    """Every key's content signature is the same in two processes whose
    string hash seeds differ: a set-valued constant (the parquet
    loader's `_UTC_ALIASES`, reached by every key that loads a table)
    must not hash in its per-process iteration order."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import json\n"
        "from database_cloner_spark import registry\n"
        "print(json.dumps({k: registry.content_sig(k) for k in registry.specs()}))\n"
    )

    def sigs(seed: str) -> dict:
        env = {**os.environ, "PYTHONHASHSEED": seed}
        out = subprocess.run(
            [sys.executable, "-c", script], cwd=repo, env=env,
            capture_output=True, text=True, check=True,
        ).stdout
        return json.loads(out.splitlines()[-1])

    a, b = sigs("1"), sigs("2")
    assert a, "no registered keys"
    moved = sorted(k for k in a if a[k] != b.get(k))
    assert a.keys() == b.keys() and not moved, f"seed-dependent sigs: {moved}"
