"""The query registry is derived from the plans modules' ``*_ORACLES``
dicts and ordered stalest-first from the committed CORRECTNESS_r*.json
ledger, so the certified first-50 window needs no hand edits."""

from __future__ import annotations

import glob
import importlib
import json
import os
import pkgutil
import re

import __spark_entry__ as entry_mod
from map_reduce_rpc_spark import plans
from map_reduce_rpc_spark.plans import parity, relational

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 50


def _ledger_rounds() -> dict[str, int]:
    """Last fully green round per query, read straight from the ledger."""
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        with open(path) as fh:
            for name, r in json.load(fh).items():
                ok = r["rows_match"] and r["schema_match"] and r["hash_match"]
                if ok and r["err"] is None:
                    last[name] = max(last.get(name, 0), int(m.group(1)))
    return last


def _oracle_dicts() -> dict[str, dict[str, str]]:
    """Every ``*_ORACLES`` dict in the plans package, by module name."""
    out = {}
    for info in pkgutil.iter_modules(plans.__path__):
        mod = importlib.import_module(f"{plans.__name__}.{info.name}")
        for attr, val in vars(mod).items():
            if attr.endswith("_ORACLES") and isinstance(val, dict):
                out[f"{info.name}.{attr}"] = val
    return out


def test_window_is_wordcount_then_stalest_first():
    names = list(entry_mod.queries())
    assert names[0] == "wordcount"
    rounds = _ledger_rounds()
    window, rest = names[1:WINDOW], names[WINDOW:]
    stalest_outside = min(rounds.get(n, 0) for n in rest)
    assert all(rounds.get(n, 0) <= stalest_outside for n in window), [
        (n, rounds.get(n, 0)) for n in window if rounds.get(n, 0) > stalest_outside
    ]


def test_never_certified_query_lands_in_slot_two(monkeypatch):
    def zz_registry_probe(spark, sf_dir):
        raise NotImplementedError

    monkeypatch.setattr(relational, "zz_registry_probe", zz_registry_probe, raising=False)
    monkeypatch.setitem(relational.RELATIONAL_ORACLES, "zz_registry_probe", "SELECT 1 AS x")
    qs = entry_mod.queries()
    assert list(qs)[:2] == ["wordcount", "zz_registry_probe"]
    assert qs["zz_registry_probe"] is zz_registry_probe
    assert entry_mod.oracle_sql()["zz_registry_probe"] == "SELECT 1 AS x"


def test_no_oracle_key_in_two_dicts():
    seen: dict[str, str] = {}
    dupes = []
    for where, d in _oracle_dicts().items():
        for key in d:
            if key in seen:
                dupes.append((key, seen[key], where))
            seen[key] = where
    assert not dupes
    assert set(seen) == set(entry_mod.oracle_sql()) == set(entry_mod.queries())


def test_functions_are_looked_up_per_call(monkeypatch):
    def rebound(spark, sf_dir):
        raise NotImplementedError

    monkeypatch.setattr(parity, "wordcount", rebound)
    assert entry_mod.queries()["wordcount"] is rebound


def test_ledger_read_is_independent_of_cwd(monkeypatch, tmp_path):
    before = list(entry_mod.queries())
    monkeypatch.chdir(tmp_path)
    entry_mod._last_green_rounds.cache_clear()
    assert list(entry_mod.queries()) == before
