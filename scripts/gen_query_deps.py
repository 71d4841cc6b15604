"""Generate fixtures/query_deps.json: query key -> package files whose
code executes when the query builds/runs at sf0.001.

Why: every query whose implementing code a change touched must be
re-checked. This map makes that set mechanical: scripts/check_rotation.py
diffs the change's files against it and prints the tests to run.

Granularity: FUNCTION-level everywhere (r11.2) — each row maps a query
to the ``path::root_qualname`` code objects that actually executed
(captured live with a profile hook over a real run — no hand-maintained
table to drift; nested/local functions attribute to their top-level
root). check_rotation.py AST-diffs each changed file to its changed
top-level names (constants propagate to the functions referencing them)
and intersects with these rows, so an ADDITIVE module edit no longer
implicates every query in the file. plans/queries.py and
plans/oracle.py keep their special handling (every query trivially
executes its own wrapper).

Run after adding queries (tests/test_docs_index.py pins coverage):

    python scripts/gen_query_deps.py                 # full regen (~30 min)
    python scripts/gen_query_deps.py --only dd16,st07  # update named rows
"""

from __future__ import annotations

import json
import os
import sys
import threading

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PKG_DIR = os.path.join(REPO, "kafkatosparktokudu_spark")
SF = "/root/testdata/sf0.001"
OUT = os.path.join(REPO, "fixtures", "query_deps.json")
# attributed at finer granularity by check_rotation.py
EXCLUDE = {
    "kafkatosparktokudu_spark/plans/queries.py",
    "kafkatosparktokudu_spark/plans/oracle.py",
    "kafkatosparktokudu_spark/plans/__init__.py",
}


def main() -> None:
    import argparse

    from kafkatosparktokudu_spark.plans.queries import QUERIES
    from kafkatosparktokudu_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated query names: update just these rows in the "
        "existing map (for newly added queries); stale rows are pruned",
    )
    args = ap.parse_args()

    spark = get_spark(app_name="query-deps", master="local[8]", shuffle_partitions=8)
    deps: dict[str, list[str]] = {}
    todo = dict(QUERIES)
    if args.only:
        names = [n.strip() for n in args.only.split(",") if n.strip()]
        unknown = sorted(set(names) - set(QUERIES))
        if unknown:
            raise SystemExit(f"unknown queries: {unknown}")
        with open(OUT, encoding="utf-8") as fh:
            deps = {k: v for k, v in json.load(fh).items() if k in QUERIES}
        todo = {n: QUERIES[n] for n in names}
    for i, (name, fn) in enumerate(todo.items()):
        sites: set[str] = set()

        def prof(frame, event, arg, _sites=sites):
            if event in ("call", "c_call"):
                code = frame.f_code
                f = code.co_filename
                if f.startswith(PKG_DIR):
                    root = code.co_qualname.split(".", 1)[0]
                    _sites.add(f"{os.path.relpath(f, REPO)}::{root}")

        # foreachBatch bodies run on streaming microbatch THREADS —
        # threading.setprofile covers threads started while tracing
        threading.setprofile(prof)
        sys.setprofile(prof)
        try:
            fn(spark, SF).count()
        finally:
            sys.setprofile(None)
            threading.setprofile(None)
        deps[name] = sorted(
            s for s in sites if s.split("::", 1)[0] not in EXCLUDE
        )
        print(f"[{i + 1}/{len(todo)}] {name}: {len(deps[name])} sites", flush=True)

    with open(OUT, "w", encoding="utf-8") as fh:
        json.dump(deps, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {OUT} ({len(deps)} queries)")


if __name__ == "__main__":
    main()
