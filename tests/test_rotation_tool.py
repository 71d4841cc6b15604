"""The rotation checker's attribution machinery (scripts/
check_rotation.py) is itself load-bearing now — these pin its semantics
on synthetic before/after sources, no git or Spark needed."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

_spec = importlib.util.spec_from_file_location(
    "check_rotation",
    Path(__file__).resolve().parent.parent / "scripts" / "check_rotation.py",
)
check_rotation = importlib.util.module_from_spec(_spec)
sys.modules["check_rotation"] = check_rotation
_spec.loader.exec_module(check_rotation)
_changed_names = check_rotation._changed_names


BASE = '''
TAU = 0.5

def helper(x):
    return x * TAU

def query_a(df):
    return helper(df)

def query_b(df):
    return df + 1

ORACLE = {
    "query_a": "SELECT 1",
    "query_b": "SELECT 2",
}

ORACLE["query_c"] = """
    SELECT 3
"""
'''


def test_additive_change_implicates_nothing_existing():
    """Appending a NEW function must implicate only itself — the r11.2
    precision fix (file-level deps spread an additive text.py edit to
    every tx query)."""
    head = BASE + "\n\ndef query_new(df):\n    return df\n"
    assert _changed_names(BASE, head) == {"query_new"}


def test_constant_change_propagates_to_consumers():
    """Touching a module constant implicates the functions referencing
    it (TAU -> helper -> query_a), but not unrelated query_b."""
    head = BASE.replace("TAU = 0.5", "TAU = 0.7")
    got = _changed_names(BASE, head)
    assert got == {"TAU", "helper", "query_a"}


def test_dict_entry_and_subscript_assign_attribution():
    """Oracle entries change independently — both the dict-literal form
    and the ORACLE["key"] = ... subscript form (the latter was a blind
    spot before r11.2)."""
    head = BASE.replace('"query_b": "SELECT 2"', '"query_b": "SELECT 22"')
    assert _changed_names(BASE, head) == {"query_b"}
    head2 = BASE.replace("SELECT 3", "SELECT 33")
    assert _changed_names(BASE, head2) == {"query_c"}


def test_body_edit_implicates_function_and_callers():
    head = BASE.replace("return x * TAU", "return x * TAU * 2")
    got = _changed_names(BASE, head)
    assert got == {"helper", "query_a"}


def test_new_file_marks_everything():
    got = _changed_names("", BASE)
    assert {"TAU", "helper", "query_a", "query_b", "query_c"} <= got


def test_default_base_is_the_newest_round_or_pr_commit():
    """Without --base the diff starts at the newest "PR <n>:" or "round "
    commit, so a change is checked against the previous one, not the
    start of the series; other subjects never qualify."""
    log = "\n".join(
        [
            "aaa re-anchor @ PR 5: ROADMAP",
            "bbb Fix PR 3: a typo",
            "ccc PR 13: [simplicity] A rollup view commits its base version",
            "ddd PR 11: [simplicity] One manifest commit per write",
            "eee round 14: verdict/advice/correctness/bench",
        ]
    )
    assert check_rotation._base_from_log(log) == "ccc"
    assert check_rotation._base_from_log(log.split("\n", 3)[3]) == "ddd"
    assert check_rotation._base_from_log(log.splitlines()[-1]) == "eee"
    assert check_rotation._base_from_log("fff PR: no number\nggg prose") is None


def test_verdict_lists_parity_node_ids_and_fails_only_on_missing_deps():
    """The verdict names every affected query's re-check as a pytest node
    id — its oracle parity case, or the run-everything test for a query
    without an oracle — whatever the query's position in QUERIES (no
    front-N window). It exits 1 only when an affected query is missing
    from the deps map; names that are no query (an oracle-only key) are
    dropped."""
    queries = [f"q{i:02d}" for i in range(60)]
    oracles = set(queries) - {"q55"}
    deps = {q: [] for q in queries if q != "q57"}
    lines, code = check_rotation.verdict({"q03", "q55", "gone"}, queries, oracles, deps)
    assert code == 0
    assert lines == [
        "affected queries (2):",
        "tests/test_queries_oracle.py::test_oracle_parity[q03]",
        "tests/test_queries_oracle.py::test_all_queries_run",
    ]
    lines, code = check_rotation.verdict({"q57"}, queries, oracles, deps)
    assert code == 1
    assert lines[1] == "tests/test_queries_oracle.py::test_oracle_parity[q57]"
    assert "q57" in lines[-1] and "NOT IN DEPS MAP" in lines[-1]
    assert not hasattr(check_rotation, "WINDOW")
