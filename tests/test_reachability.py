"""No package function or class may be reached only from tests/.

Every top-level def in the package must be reachable from a root: a
registered op (@register), module-level code, the CLI (__main__.py),
tools/, perfbench/, bench.py, regress.py or __spark_entry__.py. Reach
is followed through the AST by name, transitively: a reached def
reaches every name its body references. Names are matched, not
resolved, so dead code that shares a name with live code goes unseen;
live code is never flagged. Pure AST, no Spark.

KEEP names the defs kept on purpose although only tests reach them,
each with its reason. Their helpers count as reached. An entry that
some root now reaches, or that no longer exists, fails the second test,
so the list only shrinks.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "kinesis_to_firehose_spark"

KEEP = {
    # reference implementations the property tests compare against
    "minhash_lsh_pairs": "ungated LSH pairs, the reference for the gated path",
    "approx_distinct_raw": "exact + HLL distincts, the reference for approx_distinct",
    "hll_partition_merge_raw": "raw sketch-merge plan, the reference for the op",
    # ROADMAP item 3 wires these into the consume CLI
    "shard_lag_listener": "per-shard lag telemetry for consume",
    "drop_stats_stream": "stats.go drop-stats stream for consume",
    # plan-inspection helpers for the plan-shape tests
    "has_broadcast_join": "plan-inspection helper (plans/explain.py)",
    "pushed_filters": "plan-inspection helper (plans/explain.py)",
    "read_schemas": "plan-inspection helper (plans/explain.py)",
    "wholestage_codegen_ids": "plan-inspection helper (plans/explain.py)",
    # library surface
    "skewed_corpus": "adversarial-skew input generator for the dedup tests",
    "register_views": "spark.sql surface over the oracle table names",
    "unregister_views": "drops the views register_views made",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(node: ast.AST) -> set[str]:
    """Every name a node references: bare, attribute and imported."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _is_op(node: ast.AST) -> bool:
    for d in node.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        if isinstance(f, ast.Name) and f.id == "register":
            return True
    return False


def _program_files():
    yield from ROOT.glob("*.py")
    for top in (PKG, "tools", "perfbench"):
        yield from (ROOT / top).rglob("*.py")


def _defs_and_roots() -> tuple[dict[str, list[ast.AST]], set[str]]:
    """Package top-level defs by name (ops excluded: the registry
    reaches them), and the names every root references."""
    defs: dict[str, list[ast.AST]] = {}
    roots: set[str] = set()
    for path in _program_files():
        in_pkg = path.relative_to(ROOT).parts[0] == PKG
        for node in ast.parse(path.read_text()).body:
            if in_pkg and isinstance(node, _DEFS) and not _is_op(node):
                defs.setdefault(node.name, []).append(node)
                for d in node.decorator_list:  # run at import
                    roots |= _names(d)
            else:
                roots |= _names(node)
    return defs, roots


def _reached(defs: dict[str, list[ast.AST]], roots: set[str]) -> set[str]:
    seen: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for node in defs.get(name, ()):
            todo.extend(_names(node))
    return seen


def test_no_package_def_is_reached_only_from_tests():
    defs, roots = _defs_and_roots()
    reached = _reached(defs, roots | set(KEEP))
    unreached = sorted(set(defs) - reached)
    assert not unreached, (
        "package defs no op, CLI, tool or benchmark reaches — wire them "
        f"in or delete them with their tests: {unreached}"
    )


def test_keep_list_names_only_unreached_defs():
    defs, roots = _defs_and_roots()
    reached = _reached(defs, roots)
    stale = sorted(n for n in KEEP if n not in defs or n in reached)
    assert not stale, f"drop these from KEEP: {stale}"
