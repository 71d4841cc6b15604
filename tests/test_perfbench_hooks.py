"""The benchmark's traced run (``perfbench/run.py --trace 1``) wraps package
functions by name. A package change that renames or re-signatures one of
them breaks the traced run silently, and only a change to the benchmark may
repair it — so the hook targets are pinned here, read straight from
``perfbench/workloads.py``."""

from __future__ import annotations

import ast
import importlib
import inspect
from pathlib import Path

WORKLOADS = Path(__file__).resolve().parent.parent / "perfbench" / "workloads.py"


def _imports(body: list[ast.stmt]) -> dict[str, tuple[str, str | None]]:
    """Local name → (module, attribute or None) for the imports in ``body``
    (not descending into nested functions)."""
    out: dict[str, tuple[str, str | None]] = {}
    for node in body:
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    out[a.asname] = (a.name, None)
                else:
                    top = a.name.split(".", 1)[0]
                    out[top] = (top, None)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            for a in node.names:
                out[a.asname or a.name] = (node.module, a.name)
    return out


def _wrap_targets() -> list[tuple[str, str, str]]:
    """(owner name, module, attribute) of every ``tracer.wrap(owner,
    "attr", ...)`` call, resolved through the enclosing function's
    imports (falling back to the module's)."""
    tree = ast.parse(WORKLOADS.read_text(encoding="utf-8"))
    module_imports = _imports(tree.body)
    found = []
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        scope = {**module_imports, **_imports(fn.body)}
        for call in ast.walk(fn):
            if not (
                isinstance(call, ast.Call)
                and isinstance(call.func, ast.Attribute)
                and call.func.attr == "wrap"
                and isinstance(call.func.value, ast.Name)
                and call.func.value.id == "tracer"
            ):
                continue
            owner, attr = call.args[0], call.args[1]
            assert isinstance(owner, ast.Name) and isinstance(attr, ast.Constant)
            assert owner.id in scope, f"wrap owner {owner.id!r} is not an import"
            found.append((owner.id, scope[owner.id], attr.value))
    return found


def _resolve(module: str, name: str | None):
    mod = importlib.import_module(module)
    return mod if name is None else getattr(mod, name)


def test_perfbench_wrap_targets_exist():
    targets = _wrap_targets()
    assert len(targets) >= 5, targets  # the parse found the hooks at all
    for owner_name, (module, name), attr in targets:
        owner = _resolve(module, name)
        assert hasattr(owner, attr), f"{owner_name}.{attr} (perfbench hook) is gone"


def test_upsert_many_affected_is_third_parameter():
    """The traced run reads ``affected`` from a merge call as keyword or
    third positional argument."""
    from kafkatosparktokudu_spark import cdc

    params = list(inspect.signature(cdc.upsert_many).parameters)
    assert params[1:3] == ["merges", "affected"], params


def test_sync_batch_calls_the_traced_functions():
    """The traced run's ``cdc.affected_buckets_ms_p50``,
    ``cdc.buckets_touched_per_batch`` and ``merge.write_amp_bytes`` come
    from wrapping ``cdc.affected_buckets`` and ``cdc.upsert_many`` and
    reading ``upsert_many``'s ``affected`` argument. If ``sync_batch``
    stopped reaching them through those module names, the figures would
    read 0 without any error."""
    from kafkatosparktokudu_spark import cdc

    tree = ast.parse(Path(inspect.getsourcefile(cdc)).read_text(encoding="utf-8"))
    (fn,) = [
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "sync_batch"
    ]
    calls = [
        c for c in ast.walk(fn)
        if isinstance(c, ast.Call) and isinstance(c.func, ast.Name)
    ]
    assert any(c.func.id == "affected_buckets" for c in calls)
    assert any(
        c.func.id == "upsert_many" and any(k.arg == "affected" for k in c.keywords)
        for c in calls
    )
