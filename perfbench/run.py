"""CDC sync benchmark: one workload per run.

    python3 perfbench/run.py --workload drain_hot --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (every
end-to-end metric with ``--trace 0``, every per-layer metric with
``--trace 1``). The lines before it list every figure with its unit. The
exit code is 0 only when the run finished and every output matched the
reference replay and the DuckDB oracle. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
DEADLINE_S = 175  # a run must end within 180 s


def _import_package() -> None:
    sys.path.insert(0, REPO)
    try:
        import kafkatosparktokudu_spark  # noqa: F401
        import kafkatosparktokudu_spark.cdc  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the package from {REPO}: {exc}", file=sys.stderr)
        sys.exit(2)


def _on_alarm(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def _on_term(signum, frame):
    raise SystemExit(f"stopped by signal {signum}")  # so Env.close still runs


def run_one(args) -> int:
    import workloads as W
    from harness import Env
    from spans import Tracer

    signal.signal(signal.SIGALRM, _on_alarm)
    signal.signal(signal.SIGTERM, _on_term)
    signal.alarm(DEADLINE_S)
    cpus = len(os.sched_getaffinity(0))
    env = Env(args.workload, cpus)
    tracer = Tracer() if args.trace else None
    try:
        res = W.WORKLOADS[args.workload](env, args.seed, args.seconds, tracer)
        if tracer is not None:
            # the reference replay itself, against the program on the
            # repo's hand-written OGG fixture
            res.extra["replay_selfcheck_wrong_rows"] = W.selfcheck_replay(env.spark)
            res.wrong_rows += res.extra["replay_selfcheck_wrong_rows"]
            res.mark("selfcheck")
        W.finish_common(env, res)
    except Exception:  # report and exit non-zero without a result line
        traceback.print_exc()
        return 1
    finally:
        env.close()
        signal.alarm(0)
    res.mark("close")

    res.extra["failed_frac"] = res.failed / res.attempted if res.attempted else 1.0
    res.extra["wrong_rows"] = res.wrong_rows
    names = W.PER_LAYER if args.trace else W.E2E
    source = res.layer if args.trace else res.e2e
    metrics = {n: {"value": float(source.get(n, 0.0)), "unit": u} for n, u in names.items()}
    for n, u in W.E2E.items():
        if n in res.e2e:
            print(f"{args.workload} {n} = {res.e2e[n]:.6g} {u}")
    for n, u in W.UNBOUNDED.items():  # printed, not declared in BENCHMARK.json
        if n in res.extra:
            print(f"{args.workload} {n} = {res.extra[n]:.6g} {u}")
    for n, v in sorted(res.layer.items()):
        print(f"{args.workload} {n} = {v:.6g} {W.PER_LAYER.get(n, '')}")
    print(json.dumps({"workload": args.workload, "seed": args.seed, "detail": res.extra}))
    correct = res.wrong_rows == 0
    print(json.dumps({
        "correct": correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    sys.stdout.flush()
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload in turn, each in its own process."""
    import workloads as W

    worst = 0
    for w in W.WORKLOADS:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        sys.stdout.write(proc.stdout)
        worst = max(worst, proc.returncode)
    return worst


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True,
                   choices=["drain_hot", "live_wide", "serve_reads", "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    _import_package()
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
