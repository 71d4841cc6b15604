"""Mechanical rotation check (VERDICT r10 #3/#9): every query whose
implementing code changed this round must sit inside the driver's
front-50 CORRECTNESS window (= the first 50 keys of QUERIES).

The r10 miss this closes: NOTES claimed "dd07/tx19 rotated in", but
tx19_bpe_merges — whose merge-table path WAS touched — never made the
window, and nothing caught it. Now the claim is a computation:

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

Exit 0 = every affected query is inside the window (prints the set so
NOTES can quote it); exit 1 = violations listed.
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
WINDOW = 50


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


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default=None)
    ap.add_argument("--window", type=int, default=WINDOW)
    args = ap.parse_args()
    base = args.base or _default_base()

    changed_files = set(
        _git("diff", "--name-only", base, "--", PKG).splitlines()
    ) | set(_git("diff", "--name-only", "--", PKG).splitlines())
    changed_files = {f for f in changed_files if f.endswith(".py")}

    from kafkatosparktokudu_spark.plans.oracle import ORACLE_SQL
    from kafkatosparktokudu_spark.plans.queries import QUERIES

    order = list(QUERIES)
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

    missing = [q for q in sorted(affected) if q not in deps and q in order]
    window = order[: args.window]
    overflow = sorted(q for q in affected if q in order and q not in set(window))
    idle_slots = [q for q in window if q not in affected]
    print(f"base: {base[:12]}  changed package files: {len(changed_files)}")
    print(f"affected queries ({len(affected)}): {sorted(affected)}")
    if missing:
        print(f"NOT IN DEPS MAP (regenerate gen_query_deps.py): {missing}")
    if not overflow:
        print(
            f"rotation OK: all affected queries sit inside the "
            f"front-{args.window} window"
        )
        return 0
    # Wide-refactor rounds can implicate more queries than the window
    # holds. The invariant then: the window must be SATURATED — no slot
    # wasted on an unaffected query while an affected one waits outside.
    if not idle_slots:
        print(
            f"rotation OK (window saturated): {len(overflow)} affected "
            f"queries overflow a fully-packed front-{args.window} — quote "
            f"the overflow in NOTES for next round's rotation: {overflow}"
        )
        return 0
    print(
        f"ROTATION VIOLATION: affected queries outside the window "
        f"({len(overflow)}): {overflow}\n"
        f"while unaffected queries hold window slots ({len(idle_slots)}): "
        f"{idle_slots}"
    )
    return 1


if __name__ == "__main__":
    sys.exit(main())
