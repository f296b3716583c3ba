"""Repo-wide broadcast-safety lint (r10, per VERDICT r9 #1).

Flags any `F.broadcast(X)` where X plausibly derives from an
SF-proportional (fact/corpus) table WITHOUT an intervening bounded
aggregation — the class of plan bug that passes every local[32] test
and then hits the broadcast limit / OOMs on a 1000-executor cluster
(the r9 `prefix_filter_jaccard_pairs` sizes-broadcast).

Heuristic dataflow, per function scope:
 - taint SOURCES: attribute access on the SF-proportional table names
   (`load(...).lineitem`, `t.documents`, ...) and known
   token-proportional helpers (`shingle_table`);
 - taint CLEARS at a bounded aggregation: a global `.agg(...)`, a
   `groupBy(...).agg/...count/pivot` whose keys contain NO entity-id
   column, `.limit(n)`, `.summary()`, `.describe()`, and
   `distinct()/dropDuplicates()` over non-entity columns;
 - taint PERSISTS through select/filter/join/withColumn/sample/etc.,
   and through `groupBy(<entity id>)` — a per-doc/per-user/per-order
   aggregate is still corpus-proportional (exactly the r9 bug).

Usage: python tools/broadcast_lint.py  -> one line per hit, exit 1.
The same logic is imported by tests/test_plans.py as a hard gate with
positive/negative self-tests.
"""

from __future__ import annotations

import ast
import os
import sys

# SF-proportional tables: every TPC-H table that scales with SF plus
# the LLM-pipeline corpora. region/nation are bounded (5/25 rows).
UNBOUNDED_TABLES = {
    "lineitem",
    "orders",
    "customer",
    "supplier",
    "part",
    "partsupp",
    "events",
    "documents",
    "embeddings",
}

# helpers whose RESULT is corpus/token-proportional by construction
# (_contrib_edges: the supplier↔part edge table, one row per distinct
# lineitem (supplier, part) pair in each direction)
TAINTED_HELPERS = {"shingle_table", "_contrib_edges"}

# grouping keys that keep an aggregate entity-proportional: one output
# row per document / user / order / part / supplier / embedding. A
# groupBy on any of these does NOT bound the result.
ENTITY_KEYS = {
    "doc_id",
    "user_id",
    "event_id",
    "emb_id",
    "id",
    "id_a",
    "id_b",
    "o_orderkey",
    "l_orderkey",
    "c_custkey",
    "o_custkey",
    "s_suppkey",
    "l_suppkey",
    "ps_suppkey",
    "p_partkey",
    "l_partkey",
    "ps_partkey",
    "custkey",
    "orderkey",
    "partkey",
    "suppkey",
}

# methods that pass cardinality through unchanged (or grow it): taint
# persists through these. Anything not otherwise classified defaults
# to pass-through on the receiver.
_GROUPY = {"groupBy", "groupby", "rollup", "cube"}


def _strings_in(node: ast.AST) -> set[str]:
    return {
        n.value
        for n in ast.walk(node)
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
    }


def _groupby_keys(node: ast.Call) -> set[str] | None:
    """If `node`'s receiver chain contains a groupBy/rollup/cube call
    (possibly through .pivot(...)), return the union of string literals
    in its args; else None (global agg)."""
    cur = node.func.value if isinstance(node.func, ast.Attribute) else None
    while isinstance(cur, ast.Call) and isinstance(cur.func, ast.Attribute):
        if cur.func.attr in _GROUPY:
            keys: set[str] = set()
            for a in cur.args:
                keys |= _strings_in(a)
            return keys
        if cur.func.attr == "pivot":
            cur = cur.func.value
            continue
        break
    return None


def unbounded(node: ast.AST, taint: set[str]) -> bool:
    """True if the frame expression is plausibly SF-proportional."""
    if isinstance(node, ast.Name):
        return node.id in taint
    if isinstance(node, ast.Attribute):
        if node.attr in UNBOUNDED_TABLES:
            return True
        return unbounded(node.value, taint)
    if not isinstance(node, ast.Call):
        return False
    f = node.func
    if isinstance(f, ast.Name):
        if f.id in TAINTED_HELPERS:
            return True
        # unknown bare helper: bounded unless an arg is itself a fact
        # table expression passed straight through (conservative pass)
        return False
    if not isinstance(f, ast.Attribute):
        return False
    m = f.attr
    if m in ("agg", "count", "applyInPandas", "applyInPandasWithState"):
        keys = _groupby_keys(node)
        if keys is None:
            # global agg / DataFrame.count(): bounded
            return False
        return bool(keys & ENTITY_KEYS)
    if m in ("limit", "summary", "describe", "freqItems", "crosstab"):
        return False
    if m in ("distinct", "dropDuplicates", "drop_duplicates"):
        if _strings_in(node) & ENTITY_KEYS:
            return True
        return False
    if m in ("join", "crossJoin", "union", "unionAll", "unionByName"):
        return unbounded(f.value, taint) or any(
            unbounded(a, taint) for a in node.args
        )
    if m == "broadcast":
        return any(unbounded(a, taint) for a in node.args)
    # default: select/filter/where/withColumn/withColumnRenamed/alias/
    # orderBy/sort/sample/na/fillna/replace/cache/persist/checkpoint/
    # localCheckpoint/repartition/coalesce/hint — pass-through
    return unbounded(f.value, taint)


def _scope_nodes(scope: ast.AST) -> list[ast.AST]:
    if isinstance(scope, ast.Module):
        return [
            n
            for stmt in scope.body
            if not isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef))
            for n in ast.walk(stmt)
        ]
    return list(ast.walk(scope))


def _tainted_names(nodes: list[ast.AST]) -> set[str]:
    taint: set[str] = set()
    changed = True
    while changed:
        changed = False
        for node in nodes:
            if not isinstance(node, ast.Assign):
                continue
            if unbounded(node.value, taint):
                for tgt in node.targets:
                    if isinstance(tgt, ast.Name) and tgt.id not in taint:
                        taint.add(tgt.id)
                        changed = True
    return taint


WAIVER_MARK = "broadcast-ok:"


def scope_broadcast_violations(
    tree: ast.AST, src_lines: list[str] | None = None
) -> tuple[list[int], list[tuple[int, str]]]:
    """(violation line numbers, waived (line, reason) pairs) for
    F.broadcast(<unbounded frame>) calls. A site is waived when the
    call's line — or the line immediately above it — carries a
    `# broadcast-ok: <why this frame is bounded by design>` comment;
    waivers are returned so the test suite can pin the exact inventory
    (adding one is a conscious, reviewable act, not a silent escape)."""
    hits: list[int] = []
    waived: list[tuple[int, str]] = []
    scopes: list[ast.AST] = [tree] + [
        n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)
    ]
    for scope in scopes:
        nodes = _scope_nodes(scope)
        taint = _tainted_names(nodes)
        for node in nodes:
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "broadcast"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "F"
            ):
                continue
            if not any(unbounded(a, taint) for a in node.args):
                continue
            reason = None
            if src_lines is not None:
                for ln in (node.lineno, node.lineno - 1):
                    if 1 <= ln <= len(src_lines) and WAIVER_MARK in src_lines[ln - 1]:
                        reason = src_lines[ln - 1].split(WAIVER_MARK, 1)[1].strip()
                        break
            if reason is not None:
                waived.append((node.lineno, reason))
            else:
                hits.append(node.lineno)
    return sorted(set(hits)), sorted(set(waived))


def lint_package(pkg_root: str) -> tuple[list[str], list[tuple[str, str]]]:
    """(violations as path:line, waivers as (basename, reason))."""
    problems: list[str] = []
    waivers: list[tuple[str, str]] = []
    for root, _dirs, files in os.walk(pkg_root):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            with open(path) as fh:
                src = fh.read()
            tree = ast.parse(src, filename=path)
            hits, waived = scope_broadcast_violations(tree, src.splitlines())
            for line in hits:
                problems.append(f"{path}:{line}")
            for _line, reason in waived:
                waivers.append((fname, reason))
    return problems, waivers


if __name__ == "__main__":
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(here, "data_warehouse_data_mining_spark")
    hits, waivers = lint_package(pkg)
    for h in hits:
        print("BROADCAST-UNBOUNDED", h)
    for fname, reason in waivers:
        print("WAIVED", fname, "--", reason)
    print(f"{len(hits)} violation(s), {len(waivers)} waiver(s)")
    sys.exit(1 if hits else 0)
