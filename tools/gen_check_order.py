#!/usr/bin/env python
"""Derive the driver-check order: football_data_pipeline_spark/check_order.json.

The driver hash-checks only the first ``registry.DRIVER_CAP`` queries
of ``__spark_entry__.queries()``. This script orders every registered
query, without starting Spark, by this key:

1. overdue first: its last green row (``CORRECTNESS_r*.json``: rows,
   schema and value hash match, no error) is at least
   ``ceil(len(QUERIES) / DRIVER_CAP)`` rounds — one full rotation —
   older than the newest committed round;
2. touched first: its module, or a package module it imports
   transitively (``ast``-parsed import graph), is in
   ``git diff --name-only`` since the commit that added the
   CORRECTNESS file of its last green round;
3. last green round, oldest first;
4. query name — not registration index, which depends on the order a
   process happens to import the operator modules in.

The file records ``touched`` (the only input that needs git) and
``order``; ``tests/test_check_order.py`` re-derives both. Run after
changing any package module, and after a new CORRECTNESS_rN.json
lands::

    python tools/gen_check_order.py
"""

from __future__ import annotations

import ast
import glob
import importlib.util
import json
import math
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

PACKAGE = "football_data_pipeline_spark"


def last_green() -> tuple[dict[str, int], int]:
    """(query → newest round with a green row, newest committed round)."""
    last: dict[str, int] = {}
    newest = 0
    for path in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"CORRECTNESS_r(\d+)\.json$", path).group(1))
        newest = max(newest, rnd)
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            green = row["rows_match"] and row["schema_match"] and row["hash_match"]
            if green and row["err"] is None:
                last[name] = max(last.get(name, 0), rnd)
    return last, newest


def order(names: list[str], last: dict[str, int], newest: int, touched: set[str], cap: int) -> list[str]:
    """``names`` sorted by the key in the module docstring. A query
    with no green row counts as round 0."""
    stale = math.ceil(len(names) / cap)

    def key(n: str) -> tuple:
        rnd = last.get(n, 0)
        return (newest - rnd < stale, n not in touched, rnd, n)

    return sorted(names, key=key)


def _module_files() -> dict[str, str]:
    """Dotted module name → file, for every module in the package."""
    mods = {}
    for path in glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"), recursive=True):
        parts = os.path.relpath(path, ROOT)[: -len(".py")].split(os.sep)
        if parts[-1] == "__init__":
            parts.pop()
        mods[".".join(parts)] = path
    return mods


def import_graph() -> dict[str, set[str]]:
    """Module → the package modules its source imports (any scope)."""
    mods = _module_files()
    graph = {}
    for name, path in mods.items():
        package = name if path.endswith("__init__.py") else name.rpartition(".")[0]
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        targets = []
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                targets += [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                base = importlib.util.resolve_name("." * node.level + (node.module or ""), package)
                # `from pkg import sub` loads the submodule pkg.sub
                targets += [base] + [f"{base}.{a.name}" for a in node.names]
        deps = set()
        for t in targets:
            parts = t.split(".")
            # importing a.b.c also runs a/__init__ and a/b/__init__
            deps |= {m for m in (".".join(parts[: i + 1]) for i in range(len(parts))) if m in mods}
        graph[name] = deps - {name}
    return graph


def closure(module: str, graph: dict[str, set[str]]) -> set[str]:
    """``module`` plus every package module it imports, transitively."""
    seen, todo = set(), [module]
    while todo:
        m = todo.pop()
        if m not in seen:
            seen.add(m)
            todo += graph.get(m, ())
    return seen


def touched_queries(
    query_modules: dict[str, str],
    graph: dict[str, set[str]],
    last: dict[str, int],
    changed_since: dict[int, set[str]],
) -> set[str]:
    """Queries whose module closure meets the modules changed since
    their last green round (``changed_since[round]``); a query with no
    green row is touched."""
    return {
        n
        for n, mod in query_modules.items()
        if n not in last or closure(mod, graph) & changed_since[last[n]]
    }


def changed_modules(rnd: int) -> set[str]:
    """Package modules changed in the working tree since the commit
    that added CORRECTNESS_r{rnd:02d}.json."""
    git = ["git", "-C", ROOT]
    commit = subprocess.run(
        git + ["log", "-n1", "--diff-filter=A", "--format=%H", "--", f"CORRECTNESS_r{rnd:02d}.json"],
        check=True, capture_output=True, text=True,
    ).stdout.strip()
    if not commit:
        raise RuntimeError(f"no commit adds CORRECTNESS_r{rnd:02d}.json")
    files = subprocess.run(
        git + ["diff", "--name-only", commit, "--", PACKAGE],
        check=True, capture_output=True, text=True,
    ).stdout.split()
    return {f[: -len(".py")].replace("/", ".").removesuffix(".__init__") for f in files if f.endswith(".py")}


def derive_touched(last: dict[str, int]) -> set[str]:
    import football_data_pipeline_spark.all_queries  # noqa: F401
    from football_data_pipeline_spark.registry import QUERIES

    query_modules = {n: q.fn.__module__ for n, q in QUERIES.items()}
    changed = {rnd: changed_modules(rnd) for rnd in set(last.values())}
    return touched_queries(query_modules, import_graph(), last, changed)


def main() -> None:
    import football_data_pipeline_spark.all_queries  # noqa: F401
    from football_data_pipeline_spark.registry import DRIVER_CAP, ORDER_FILE, QUERIES

    names = list(QUERIES)
    last, newest = last_green()
    touched = derive_touched(last)
    out = {
        "touched": [n for n in names if n in touched],
        "order": order(names, last, newest, touched, DRIVER_CAP),
    }
    with open(ORDER_FILE, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(f"wrote {ORDER_FILE}: {len(names)} queries, {len(touched)} touched")


if __name__ == "__main__":
    main()
