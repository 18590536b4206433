"""Source-fingerprint ledger for the query registry (``QUERY_HASHES.json``).

Each query is recorded as ``{"fp": <code identity>, "since": <round>}``.
The driver-window rotation in ``__spark_entry__.py`` reads ``since``
so that a query whose code changed after its last green
``CORRECTNESS_r*.json`` row re-enters the next window. Only this tool
writes the ledger: restamping is a deliberate act.

Run:  python scripts/query_ledger.py           # restamp stale entries
      python scripts/query_ledger.py --check   # exit 1 and list them

A restamped entry gets ``since`` = the round in progress (newest
``CORRECTNESS_r*.json`` round + 1); unchanged entries keep theirs, and
entries for names no longer registered are dropped.
"""

from __future__ import annotations

import argparse
import ast
import functools
import hashlib
import importlib
import inspect
import json
import re
import sys
import textwrap
import types
from collections.abc import Callable
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

# package prefix whose modules/objects count toward a query's source
# fingerprint (module-level so tests can aim the walker at a fixture
# package)
_FP_PKG = "swarm_spark"


def _imported_objects(src: str, owner_module: str) -> list:
    """Objects brought in by import STATEMENTS anywhere in ``src`` (a
    function's source text) — resolved from the AST, because a
    function-local ``from .ops.x import helper`` binds a LOCAL variable
    that the ``__globals__`` walk in :func:`source_fingerprint` can
    never see (the dominant import pattern in this registry). AST, not
    bytecode, so the walk does not depend on the CPython version. For
    ``from M import a, b`` the imported attributes are returned
    (submodules resolve too); for a plain ``import M`` or a
    ``from M import *`` the module object itself is (hashed whole-file —
    coarse on purpose). Only ``_FP_PKG`` modules resolve; anything else
    returns nothing. Nested defs are covered by the same parse."""
    try:
        tree = ast.parse(textwrap.dedent(src))
    except SyntaxError:
        return []

    def in_pkg(mod: str) -> bool:
        return mod == _FP_PKG or mod.startswith(_FP_PKG + ".")

    def load(mod: str):
        try:
            return importlib.import_module(mod)
        except ImportError:
            return None

    out: list = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if in_pkg(alias.name):
                    m = load(alias.name)
                    if m is not None:
                        out.append(m)
        elif isinstance(node, ast.ImportFrom):
            if node.level:  # relative: strip `level` trailing components
                parts = owner_module.split(".")
                if len(parts) < node.level:
                    continue
                base = ".".join(parts[: -node.level]) or parts[0]
                full = f"{base}.{node.module}" if node.module else base
            else:
                full = node.module or ""
            if not in_pkg(full):
                continue
            mod = load(full)
            if mod is None:
                continue
            for alias in node.names:
                if alias.name == "*":
                    out.append(mod)
                    continue
                attr = getattr(mod, alias.name, None)
                if attr is None:  # `from pkg import submod` not yet bound
                    attr = load(f"{full}.{alias.name}")
                if attr is not None:
                    out.append(attr)
    return out


def source_fingerprint(fn: Callable, sql: str | None) -> str:
    """Hex digest of a query's *code identity*: the source text of the
    query function plus every ``swarm_spark`` function/class/module it
    transitively references, plus its oracle SQL. Two queries whose
    implementation (at any depth inside the package) or oracle changed
    get different digests; edits outside the package (tests, docs) do
    not perturb it. Pieces are sorted before hashing so traversal order
    can't flip the digest between processes.
    """
    pieces: list[str] = [sql or ""]
    seen: set[int] = set()
    stack: list[object] = [fn]
    root_id = id(fn)
    while stack:
        obj = stack.pop()
        if id(obj) in seen:
            continue
        seen.add(id(obj))
        if isinstance(obj, functools.partial):
            stack.append(obj.func)
            continue
        if isinstance(obj, types.ModuleType):
            name = getattr(obj, "__name__", "")
            f = getattr(obj, "__file__", None)
            if name.startswith(_FP_PKG) and f:
                # module referenced as an object: hash the whole file
                # (coarse on purpose — any edit inside it restamps)
                try:
                    pieces.append(Path(f).read_text())
                except OSError:
                    pieces.append(name)
            continue
        mod = getattr(obj, "__module__", None) or ""
        in_pkg = mod == _FP_PKG or mod.startswith(_FP_PKG + ".")
        if not (in_pkg or id(obj) == root_id):
            continue
        if isinstance(obj, type):
            try:
                pieces.append(inspect.getsource(obj))
            except (OSError, TypeError):
                pieces.append(obj.__qualname__)
            stack.extend(
                v for v in vars(obj).values() if isinstance(v, types.FunctionType)
            )
        elif isinstance(obj, types.FunctionType):
            try:
                src = inspect.getsource(obj)
            except (OSError, TypeError):
                src = None
            pieces.append(src if src is not None else obj.__qualname__)
            if src is not None:
                # function-local `from .ops.x import f` binds a local —
                # invisible to __globals__; resolve from the AST (one
                # parse covers nested defs too)
                stack.extend(_imported_objects(src, mod))
            g = obj.__globals__
            codes = [obj.__code__]
            while codes:
                code = codes.pop()
                codes.extend(c for c in code.co_consts if isinstance(c, types.CodeType))
                stack.extend(g[n] for n in code.co_names if n in g)
    pieces.sort()
    return hashlib.sha256("\x00".join(pieces).encode()).hexdigest()


def current_round(root: Path = ROOT) -> int:
    """The driver round in progress: newest ``CORRECTNESS_r*.json`` + 1."""
    rounds = [
        int(m.group(1))
        for p in root.glob("CORRECTNESS_r*.json")
        if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", p.name))
    ]
    return max(rounds, default=0) + 1


def read_ledger(root: Path = ROOT) -> dict:
    try:
        return json.loads((root / "QUERY_HASHES.json").read_text())
    except (OSError, ValueError):
        return {}


def fingerprints(registry: dict[str, tuple[Callable, str | None]]) -> dict[str, str]:
    return {name: source_fingerprint(fn, sql) for name, (fn, sql) in registry.items()}


def stale(fps: dict[str, str], ledger: dict) -> list[str]:
    """Names whose ledger entry disagrees with ``fps``: fingerprint
    changed, entry missing, or entry for a query no longer registered."""
    return sorted(
        n for n in fps.keys() | ledger.keys()
        if (ledger.get(n) or {}).get("fp") != fps.get(n)
    )


def update(fps: dict[str, str], root: Path = ROOT) -> list[str]:
    """Rewrite the ledger at ``root`` to match ``fps``; returns the
    stale names it restamped or dropped."""
    ledger = read_ledger(root)
    names = stale(fps, ledger)
    rnd = current_round(root)
    out = {
        n: {"fp": fp, "since": rnd if n in names else ledger[n]["since"]}
        for n, fp in fps.items()
    }
    if out != ledger:
        (root / "QUERY_HASHES.json").write_text(
            json.dumps(out, indent=1, sort_keys=True) + "\n"
        )
    return names


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "--check", action="store_true",
        help="list stale entries and exit 1 instead of rewriting the ledger",
    )
    args = ap.parse_args(argv)

    from swarm_spark.queries import all_queries

    fps = fingerprints(all_queries())
    if args.check:
        names = stale(fps, read_ledger())
        if names:
            print(
                f"QUERY_HASHES.json is stale for {len(names)} queries: "
                f"{', '.join(names)}\nrestamp with: python scripts/query_ledger.py"
            )
        return 1 if names else 0
    print(json.dumps({"restamped": update(fps)}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
