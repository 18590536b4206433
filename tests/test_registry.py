"""The registry is pure; the fingerprint ledger and the default
selection are committed files that only an explicit act changes.

- reading the registry (``all_queries()``, the driver contract, the
  CLI listing) never writes ``QUERY_HASHES.json``, even when a query's
  code no longer matches its ledger entry;
- the committed ledger matches the tree (restamp with
  ``python scripts/query_ledger.py``);
- every name in the committed default selection (``tests/_smoke.py``)
  is a registry query.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import __spark_entry__
from _smoke import SMOKE
from swarm_spark.queries import all_queries

ROOT = Path(__file__).resolve().parent.parent
LEDGER = ROOT / "QUERY_HASHES.json"
sys.path.insert(0, str(ROOT / "scripts"))

import query_ledger  # noqa: E402


def test_reading_the_registry_leaves_the_ledger_alone(monkeypatch, capsys):
    from swarm_spark.cli import main as cli_main
    from swarm_spark.ops_queries import OPS

    before = LEDGER.read_bytes()
    name, (_fn, sql) = next(iter(OPS.items()))

    def q_probe(spark, sf):
        return "a body no ledger entry has recorded"

    # one registered query whose code no longer matches its ledger
    # entry, and one query the ledger has never seen
    monkeypatch.setitem(OPS, name, (q_probe, sql))
    monkeypatch.setitem(OPS, "zz_ledger_probe", (q_probe, None))

    assert all_queries()[name][0] is q_probe
    assert "zz_ledger_probe" in __spark_entry__.queries()
    assert name in __spark_entry__.oracle_sql()
    assert cli_main(["query", "--list"]) == 0
    assert "zz_ledger_probe" in json.loads(capsys.readouterr().out)
    assert LEDGER.read_bytes() == before, "reading the registry rewrote the ledger"


def test_committed_ledger_matches_the_tree(capsys):
    assert query_ledger.main(["--check"]) == 0, capsys.readouterr().out


def test_stale_names_changed_missing_and_dropped_entries():
    fps = {"same": "f1", "changed": "f2", "new": "f3"}
    ledger = {
        "same": {"fp": "f1", "since": 3},
        "changed": {"fp": "old", "since": 3},
        "dropped": {"fp": "f4", "since": 2},
    }
    assert query_ledger.stale(fps, ledger) == ["changed", "dropped", "new"]


def test_smoke_selection_names_registry_queries():
    unknown = sorted(SMOKE - set(all_queries()))
    assert not unknown, f"tests/_smoke.py names unregistered queries: {unknown}"
