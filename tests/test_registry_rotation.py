"""Driver-window rotation: the correctness driver oracles only the
first 50 entries of ``__spark_entry__.queries()``, so the driver
contract orders queries by last-driver-checked-GREEN round ascending
(never-checked first, and a query whose latest row was RED re-enters
the window immediately). These tests pin that policy against the
CORRECTNESS_r*.json history at repo root, and pin the source
fingerprint behind ``since`` (``scripts/query_ledger.py``).
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

from __spark_entry__ import (
    _change_rounds,
    _driver_order,
    _last_green_round,
    _rotation_key,
    _row_is_green,
    queries,
)
from swarm_spark.queries import all_queries

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "scripts"))

import query_ledger  # noqa: E402
from query_ledger import _imported_objects, source_fingerprint  # noqa: E402

DRIVER_WINDOW = 50


def _newest_correctness() -> dict | None:
    files = sorted(ROOT.glob("CORRECTNESS_r*.json"))
    if not files:
        return None
    return json.loads(files[-1].read_text())


def test_ordering_is_deterministic():
    first = list(queries())
    _driver_order.cache_clear()
    assert list(queries()) == first


def test_never_checked_queries_lead():
    last = _last_green_round()
    names = list(queries())
    never = {n for n in names if n not in last}
    if never:
        assert set(names[: len(never)]) == never


def test_window_holds_the_stalest_queries():
    """The 50-query window must be exactly the 50 smallest by the
    rotation key (never-checked, then source-changed-since-green, then
    least-recently-green; registration order breaking ties): no query
    outside the window may sort below one inside. While the registry
    held <= 100 queries this implied "every unchecked query is in the
    next window"; past 100 the pigeonhole makes that impossible, and
    the correct (and sufficient) invariant is the ordering one —
    staleness strictly drives admission, so coverage lag is the
    provable ceil(N/50)-round bound pinned by the simulation test
    below."""
    newest = _newest_correctness()
    if newest is None:
        return
    last = _last_green_round()
    since = _change_rounds()
    reg_index = {n: i for i, n in enumerate(all_queries())}
    names = list(queries())
    keys = {n: _rotation_key(n, last, since, reg_index) for n in names}
    inside_max = max(keys[n][:2] for n in names[:DRIVER_WINDOW])
    outside_min = (
        min(keys[n][:2] for n in names[DRIVER_WINDOW:])
        if len(names) > DRIVER_WINDOW
        else inside_max
    )
    assert inside_max <= outside_min, "a lower-key query sits outside the window"
    # and every query RED in the newest file re-enters immediately
    red = [
        n
        for n in names
        if n in newest and not _row_is_green(newest.get(n))
    ]
    missing = [n for n in red if n not in set(names[:DRIVER_WINDOW])]
    assert not missing, f"red queries outside driver window: {missing}"


def test_row_is_green_semantics():
    assert _row_is_green({"rows_match": True, "hash_match": True, "err": None})
    # rows-only check: hash flag absent or null is still green
    assert _row_is_green({"rows_match": True, "hash_match": None, "err": None})
    assert _row_is_green({"rows_match": True})
    # any explicit failure or error is red
    assert not _row_is_green({"rows_match": False, "err": None})
    assert not _row_is_green({"rows_match": True, "hash_match": False})
    assert not _row_is_green({"rows_match": True, "schema_match": False})
    assert not _row_is_green({"rows_match": True, "err": "boom"})
    assert not _row_is_green(None)
    assert not _row_is_green("garbage")


def _sim_rotate(names: list[str], since: dict[str, int]):
    """The driver's ordering of ``names`` for a simulated ledger
    ``since`` map, through the contract's own :func:`_rotation_key`."""
    reg = {n: i for i, n in enumerate(names)}
    return lambda last: sorted(names, key=lambda n: _rotation_key(n, last, since, reg))


def test_every_query_checked_within_ceil_n_over_window_rounds(tmp_path):
    """Simulate the driver across rounds: each round writes green rows
    for the FIRST 50 entries of the rotated order; within any
    ceil(N/50) consecutive rounds, every registry query must have at
    least one row (the tight pigeonhole bound — equal to "every other
    round" while N <= 100). Before round 5, 10 names that were just
    checked are restamped (their code changed): they enter round 5's
    window through the source-changed tier, and the bound holds again
    for every span of rounds after the restamp."""
    names = list(queries())  # current registry, any starting order
    span = -(-len(names) // DRIVER_WINDOW)  # ceil(N/window)
    restamp_round = 5
    since = {n: 1 for n in names}  # all code in effect before round 1
    rotate = _sim_rotate(names, since)

    def write_round(rnd: int, checked: list[str]):
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(
            json.dumps({n: {"rows_match": True, "hash_match": True} for n in checked})
        )

    def checked_in(rnd: int) -> set[str]:
        return set(json.loads((tmp_path / f"CORRECTNESS_r{rnd:02d}.json").read_text()))

    for rnd in range(1, restamp_round + span + 1):
        last = _last_green_round(tmp_path)
        if rnd == restamp_round:
            restamped = sorted(checked_in(rnd - 1))[:10]
            since.update(dict.fromkeys(restamped, rnd))
        order = rotate(last)
        write_round(rnd, order[:DRIVER_WINDOW])
        if rnd == restamp_round:
            late = set(restamped) - checked_in(rnd)
            assert not late, f"restamped queries left out of the next window: {late}"
        if rnd >= span and (rnd < restamp_round or rnd - span >= restamp_round):
            seen: set[str] = set()
            for k in range(rnd - span + 1, rnd + 1):
                seen |= checked_in(k)
            missing = set(names) - seen
            assert not missing, (
                f"r{rnd}: not checked within {span} rounds: {missing}"
            )


def test_red_row_reenters_next_window(tmp_path):
    """A query that FAILS its oracle in round N must be inside the
    first-50 window in round N+1 (the ADVICE r5 finding: a red row
    used to count as 'checked' and rotate out)."""
    names = list(queries())
    rotate = _sim_rotate(names, {n: 1 for n in names})

    # round 1: first 50 all get rows, but one fails its hash and one errors
    order1 = rotate(_last_green_round(tmp_path))
    window1 = order1[:DRIVER_WINDOW]
    failed, errored = window1[0], window1[1]
    rows = {}
    for n in window1:
        if n == failed:
            rows[n] = {"rows_match": True, "schema_match": True, "hash_match": False}
        elif n == errored:
            rows[n] = {"rows_match": None, "err": "AnalysisException: boom"}
        else:
            rows[n] = {"rows_match": True, "schema_match": True, "hash_match": True}
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(rows))

    order2 = rotate(_last_green_round(tmp_path))
    window2 = set(order2[:DRIVER_WINDOW])
    assert failed in window2, "hash-failed query rotated out of the window"
    assert errored in window2, "errored query rotated out of the window"
    # and the genuinely-green ones from round 1 defer as before
    green = [n for n in window1 if n not in (failed, errored)]
    assert all(order2.index(g) >= order2.index(failed) for g in green[:3])


def test_source_changed_query_reenters_window(tmp_path):
    """A query whose implementation changes AFTER its last green driver
    row must sort ahead of still-verified queries (the r6 VERDICT hole:
    text_strip_segments/pack_bins changed in r5 and coasted on r4
    rows). Simulated against a throwaway ledger root, restamped with
    the ledger tool and read back by the rotation."""

    def q_v1(spark, sf):
        return "v1"

    def q_v2(spark, sf):
        return "v2-different-body"

    def q_other(spark, sf):
        return "other"

    sql = "SELECT 1 AS n"
    assert source_fingerprint(q_v1, sql) == source_fingerprint(q_v1, sql)
    assert source_fingerprint(q_v1, sql) != source_fingerprint(q_v2, sql)
    assert source_fingerprint(q_v1, sql) != source_fingerprint(q_v1, "SELECT 2 AS n")

    def restamp(registry):
        query_ledger.update(query_ledger.fingerprints(registry), tmp_path)
        return _change_rounds(tmp_path)

    reg1 = {"alpha": (q_v1, sql), "beta": (q_other, sql)}
    # initial sighting before any driver round: since=1 for both
    since = restamp(reg1)
    assert since == {"alpha": 1, "beta": 1}
    # round 1: both green → last_green=1 >= since=1 → both defer (pri 2)
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps(
            {
                "alpha": {"rows_match": True, "hash_match": True},
                "beta": {"rows_match": True, "hash_match": True},
            }
        )
    )
    last = _last_green_round(tmp_path)
    reg_index = {"alpha": 0, "beta": 1}
    k_alpha = _rotation_key("alpha", last, restamp(reg1), reg_index)
    assert k_alpha[0] == 2, "green-and-unchanged query should be priority 2"

    # alpha's implementation changes (round 2 in progress): restamp
    reg2 = {"alpha": (q_v2, sql), "beta": (q_other, sql)}
    since2 = restamp(reg2)
    assert since2["alpha"] == 2 and since2["beta"] == 1
    k_alpha = _rotation_key("alpha", last, since2, reg_index)
    k_beta = _rotation_key("beta", last, since2, reg_index)
    assert k_alpha[0] == 1 and k_beta[0] == 2
    assert k_alpha < k_beta, "source-changed query must sort ahead of verified ones"
    # ledger is stable: same code → same since on every later restamp
    assert restamp(reg2)["alpha"] == 2

    # round 2's driver row lands green → alpha is verified again and defers
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"alpha": {"rows_match": True, "hash_match": True}})
    )
    last = _last_green_round(tmp_path)
    k_alpha = _rotation_key("alpha", last, restamp(reg2), reg_index)
    assert k_alpha[0] == 2


def test_local_import_dependency_changes_fingerprint(tmp_path, monkeypatch):
    """ADVICE r7 (high): ``from .dep import helper`` inside a query
    function binds a LOCAL variable, invisible to the ``__globals__``
    walk — an edit to the imported helper (not the query body) must
    still flip the query's fingerprint. Exercised against a throwaway
    package via the patchable ``query_ledger._FP_PKG`` prefix, with both
    the relative and absolute import spellings."""
    import importlib

    pkg = tmp_path / "fp_probe_pkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "dep.py").write_text("def helper():\n    return 1\n")
    (pkg / "q.py").write_text(
        "def q(spark, sf):\n"
        "    from .dep import helper\n"
        "    return helper()\n"
        "def q_abs(spark, sf):\n"
        "    from fp_probe_pkg.dep import helper\n"
        "    return helper()\n"
    )
    monkeypatch.syspath_prepend(str(tmp_path))
    monkeypatch.setattr(query_ledger, "_FP_PKG", "fp_probe_pkg")

    def load():
        for m in [m for m in sys.modules if m.startswith("fp_probe_pkg")]:
            del sys.modules[m]
        return importlib.import_module("fp_probe_pkg.q")

    m1 = load()
    fp_rel_1 = source_fingerprint(m1.q, None)
    fp_abs_1 = source_fingerprint(m1.q_abs, None)
    # rewrite the DEPENDENCY only; the query functions are byte-identical
    (pkg / "dep.py").write_text("def helper():\n    return 2  # changed\n")
    m2 = load()
    assert m2.q.__code__.co_code == m1.q.__code__.co_code
    assert source_fingerprint(m2.q, None) != fp_rel_1
    assert source_fingerprint(m2.q_abs, None) != fp_abs_1
    # identical content on reload → identical fingerprint (no churn)
    m3 = load()
    assert source_fingerprint(m3.q, None) == source_fingerprint(m2.q, None)


def test_imported_objects_resolves_registry_pattern():
    """The AST import walker must resolve the registry's dominant
    pattern — a function-local ``from .ops.x import f`` — to the real
    helper object, so the helper's source lands in the fingerprint."""
    import inspect

    from swarm_spark.ops_queries import OPS
    from swarm_spark.ops.text import top_ngrams

    fn = OPS["corpus_top_ngrams"][0]
    objs = _imported_objects(inspect.getsource(fn), fn.__module__)
    assert top_ngrams in objs, "local `from .ops.text import top_ngrams` unresolved"


def test_imported_objects_spellings():
    """Every import spelling the walker claims to cover: relative
    `from .m import f`, absolute `from pkg.m import f`, plain
    `import pkg.m`, submodule `from pkg import m`, star, and a nested
    def — all against the real package (ADVICE r8: the bytecode scan
    was version-fragile on exactly the relative case)."""
    import swarm_spark.ops.text as text_mod
    from swarm_spark.ops.text import top_ngrams

    owner = "swarm_spark.ops_queries"
    src = (
        "def q(spark, sf):\n"
        "    from .ops.text import top_ngrams\n"
        "    return top_ngrams\n"
    )
    assert top_ngrams in _imported_objects(src, owner)
    src = "def q():\n    from swarm_spark.ops.text import top_ngrams\n"
    assert top_ngrams in _imported_objects(src, owner)
    src = "def q():\n    import swarm_spark.ops.text\n"
    assert text_mod in _imported_objects(src, owner)
    src = "def q():\n    from swarm_spark.ops import text\n"
    assert text_mod in _imported_objects(src, owner)
    src = "from swarm_spark.ops.text import *\n"
    assert text_mod in _imported_objects(src, owner)
    src = (
        "def q():\n"
        "    def inner():\n"
        "        from .ops.text import top_ngrams\n"
        "        return top_ngrams\n"
        "    return inner\n"
    )
    assert top_ngrams in _imported_objects(src, owner), "nested def import missed"
    # non-package imports resolve to nothing
    assert _imported_objects("def q():\n    import json\n", owner) == []


def test_fallout_was_green_most_recently():
    """Queries displaced past the window must have a green row in the
    round they were last checked (we only defer verified queries)."""
    names = list(queries())
    last = _last_green_round()
    files = {
        int(p.name[len("CORRECTNESS_r") : -len(".json")]): json.loads(p.read_text())
        for p in ROOT.glob("CORRECTNESS_r*.json")
    }
    for n in names[DRIVER_WINDOW:]:
        assert n in last, f"{n} has never been driver-checked green yet overflows"
        assert _row_is_green(files[last[n]][n]), (
            f"{n} overflows the window but was not green in r{last[n]}"
        )
