"""Which queries a change affects: every query whose implementing code
changed, printed as the test node ids that re-check it (its
``test_oracle_parity`` case, or ``test_all_queries_run`` for a query
without an oracle), so the claim "these queries still match" is a
computation:

    python scripts/check_rotation.py [--base REF]

- ``--base`` defaults to the newest commit whose subject starts with
  "round " (the driver's round-end commit) or "PR <n>:" (the previous
  change of the PR series).
- Changed files under the package come from ``git diff base..HEAD``
  plus the working tree.
- EVERY changed file is attributed at FUNCTION/constant/dict-entry
  granularity (r11.2): AST line spans on both diff sides find the
  changed top-level names, a reverse-reference closure propagates
  touched helpers AND module constants to their consumers, and the
  names intersect with fixtures/query_deps.json's traced
  ``path::root_qualname`` execution sites (regenerate with
  scripts/gen_query_deps.py) — so a purely ADDITIVE module edit no
  longer implicates every query in the file. plans/queries.py and
  plans/oracle.py intersect with the query/oracle key sets directly
  (subscript assigns like ``ORACLE_SQL["q"] = ...`` included).

Exit 0 = the affected queries are printed, one node id a line, to run
as ``python -m pytest <ids>``; exit 1 = an affected query is missing from
fixtures/query_deps.json (regenerate it with scripts/gen_query_deps.py).
"""

from __future__ import annotations

import argparse
import ast
import difflib
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
PKG = "kafkatosparktokudu_spark"
ORACLE_TESTS = "tests/test_queries_oracle.py"


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, check=True, capture_output=True, text=True
    ).stdout


def _base_from_log(log: str) -> str | None:
    """The newest commit in ``git log --format='%H %s'`` output whose
    subject starts with "round " (the old driver's round-end commit) or
    "PR <n>:" (one commit per change in the PR series)."""
    for line in log.splitlines():
        sha, _, subject = line.partition(" ")
        if subject.startswith("round ") or re.match(r"PR \d+:", subject):
            return sha
    return None


def _default_base() -> str:
    base = _base_from_log(_git("log", "--format=%H %s"))
    if base is None:
        raise SystemExit("no 'round N' or 'PR N:' commit found; pass --base")
    return base


def _top_entries(src: str):
    """(name, value_node, span) per top-level definition: functions,
    classes, constants (Name-target assigns), subscript assigns like
    ``ORACLE_SQL["q"] = ...`` (attributed to the string key), and
    dict-literal entries (attributed per key)."""
    out = []
    for node in ast.parse(src).body:
        span = (node.lineno, node.end_lineno or node.lineno)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out.append((node.name, node, span))
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            val = node.value
            if isinstance(val, ast.Dict):
                for k, v in zip(val.keys, val.values):
                    if isinstance(k, ast.Constant) and isinstance(k.value, str):
                        out.append(
                            (k.value, v, (k.lineno, v.end_lineno or v.lineno))
                        )
                continue
            for t in targets:
                if isinstance(t, ast.Name):
                    out.append((t.id, val, span))
                elif (
                    isinstance(t, ast.Subscript)
                    and isinstance(t.slice, ast.Constant)
                    and isinstance(t.slice.value, str)
                ):
                    out.append((t.slice.value, val, span))
    return out


def _name_refs(src: str) -> dict[str, set[str]]:
    """name -> top-level names its body references (for the closure:
    touching a helper OR a module constant implicates its consumers)."""
    entries = _top_entries(src)
    top = {name for name, _, _ in entries}

    def names_in(node) -> set[str]:
        if node is None:
            return set()
        return {n.id for n in ast.walk(node) if isinstance(n, ast.Name)} & top

    refs: dict[str, set[str]] = {}
    for name, node, _ in entries:
        refs.setdefault(name, set()).update(names_in(node) - {name})
    return refs


def _changed_names(base_src: str, head_src: str) -> set[str]:
    """Names whose body text changed between the two versions (every
    definition site attributed independently), expanded through the
    reverse-reference closure (changed helper OR module constant ->
    consumers)."""
    base_ent = [(n, s, e) for n, _, (s, e) in _top_entries(base_src)]
    head_ent = [(n, s, e) for n, _, (s, e) in _top_entries(head_src)]
    touched: set[str] = set()
    base_lines, head_lines = base_src.splitlines(), head_src.splitlines()
    sm = difflib.SequenceMatcher(None, base_lines, head_lines, autojunk=False)
    for tag, i1, i2, j1, j2 in sm.get_opcodes():
        if tag == "equal":
            continue
        for entries, lo, hi in ((base_ent, i1 + 1, i2), (head_ent, j1 + 1, j2)):
            for name, s, e in entries:
                if s <= hi and e >= lo:
                    touched.add(name)
    # closure: a consumer of a touched helper is itself touched
    refs = _name_refs(head_src)
    changed = True
    while changed:
        changed = False
        for name, used in refs.items():
            if name not in touched and used & touched:
                touched.add(name)
                changed = True
    return touched


def verdict(
    affected: set[str], queries: list[str], oracles: set[str], deps: dict
) -> tuple[list[str], int]:
    """(lines to print, exit code) for the ``affected`` query names: the
    ``test_oracle_parity`` node id of each affected query with an oracle,
    ``test_all_queries_run`` once for those without, and exit 1 when an
    affected query is missing from the deps map."""
    live = sorted(q for q in affected if q in queries)
    lines = [f"affected queries ({len(live)}):"]
    lines += [f"{ORACLE_TESTS}::test_oracle_parity[{q}]" for q in live if q in oracles]
    if any(q not in oracles for q in live):
        lines.append(f"{ORACLE_TESTS}::test_all_queries_run")
    missing = [q for q in live if q not in deps]
    if missing:
        lines.append(f"NOT IN DEPS MAP (regenerate gen_query_deps.py): {missing}")
    return lines, int(bool(missing))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default=None)
    args = ap.parse_args()
    base = args.base or _default_base()

    changed_files = set(
        _git("diff", "--name-only", base, "--", PKG).splitlines()
    ) | set(_git("diff", "--name-only", "--", PKG).splitlines())
    changed_files = {f for f in changed_files if f.endswith(".py")}

    from kafkatosparktokudu_spark.plans.oracle import ORACLE_SQL
    from kafkatosparktokudu_spark.plans.queries import QUERIES

    with open(os.path.join(REPO, "fixtures", "query_deps.json"), encoding="utf-8") as fh:
        deps = json.load(fh)

    def _srcs(path: str) -> tuple[str, str]:
        try:
            base_src = _git("show", f"{base}:{path}")
        except subprocess.CalledProcessError:
            base_src = ""  # file is new this round: everything in it changed
        with open(os.path.join(REPO, path), encoding="utf-8") as fh:
            return base_src, fh.read()

    affected: set[str] = set()
    plans = {f"{PKG}/plans/queries.py": set(QUERIES),
             f"{PKG}/plans/oracle.py": set(ORACLE_SQL)}
    for plans_file, keys in plans.items():
        if plans_file not in changed_files:
            continue
        affected |= _changed_names(*_srcs(plans_file)) & keys
    for f in sorted(changed_files - set(plans)):
        if not os.path.exists(os.path.join(REPO, f)):
            # deleted file: conservatively implicate every query that
            # executed anything in it
            affected |= {
                q for q, sites in deps.items()
                if any(s.startswith(f + "::") for s in sites)
            }
            continue
        changed = _changed_names(*_srcs(f))
        hits = {f"{f}::{n}" for n in changed}
        affected |= {q for q, sites in deps.items() if hits & set(sites)}

    print(f"base: {base[:12]}  changed package files: {len(changed_files)}")
    lines, code = verdict(affected, list(QUERIES), set(ORACLE_SQL), deps)
    print("\n".join(lines))
    return code


if __name__ == "__main__":
    sys.exit(main())
