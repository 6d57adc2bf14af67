"""Benchmark entry point: run one workload and print its metrics.

    python3 perfbench/run.py --workload report_queries --seed 1 --seconds 12 --trace 0

Run it from the repository root. It reads the project's sf0.1 test
tables from ``perfbench/data``, fills the DuckDB oracle cache once per
checkout, then starts ``worker.py`` in a fresh process group and waits
for it. ``--seed`` permutes the order in
which the workload's queries run; the program only ever sees query names
and a data directory.

With ``--trace 0`` the printed metrics are the end-to-end ones, with
``--trace 1`` the per-layer ones. Human-readable lines come first; the
last line of standard output is one JSON object. Details per pass and
per query go to ``perfbench/_work/results/``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
#: the project's sf0.1 test tables for the timed passes, sf0.001 for the warm-up
DATA_DIR = os.path.join(HERE, "data", "sf0.1")
WARM_DIR = os.path.join(HERE, "data", "sf0.001")
#: a run must finish within 180 s; the worker gets what is left of this,
#: after the first run in a checkout has filled the oracle cache (about 15 s)
DEADLINE_S = 170.0
_PR_SET_CHILD_SUBREAPER = 36

sys.path.insert(0, ROOT)


def load_workloads() -> dict:
    with open(os.path.join(HERE, "workloads.json")) as fh:
        return json.load(fh)["workloads"]


def ensure_oracles(names: list[str], data_dir: str, cache: str) -> None:
    """Compute the DuckDB answers not cached yet.

    Answers for every workload are filled on the first run in a checkout,
    so later runs of any workload only read them.
    """
    from __spark_entry__ import oracle_sql

    from perfbench.oracle import Oracle

    sqls = oracle_sql()
    no_oracle = [n for n in names if n not in sqls]
    if no_oracle:
        raise SystemExit(f"perfbench: no oracle for {no_oracle}")
    oracle = Oracle(data_dir, cache)
    try:
        for n in names:
            oracle.answer(n, sqls[n])
    finally:
        oracle.close()


def run_worker(argv: list[str], env: dict, cwd: str, timeout: float, log: str) -> int:
    """Run the worker in its own process group; leave no process behind."""
    with open(log, "w") as fh:
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.worker", *argv],
            env=env,
            cwd=cwd,
            stdout=fh,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
    try:
        return proc.wait(timeout=max(timeout, 1.0))
    except subprocess.TimeoutExpired:
        print(f"perfbench: worker exceeded {timeout:.0f} s, killed", file=sys.stderr)
        return -1
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        # the JVM and Python workers were re-parented to us (subreaper)
        while True:
            try:
                os.waitpid(-1, 0)
            except ChildProcessError:
                break


def summarise(res: dict, trace: bool) -> tuple[dict, list[str]]:
    """Metrics for the JSON line, and human-readable lines."""
    from perfbench.metrics import median_with_count, rollup

    plain = [p for p in res["passes"] if not p["traced"]]
    lines = []
    if not trace:
        query_p50, n = median_with_count([t for p in plain for t in p["query_s"].values()])
        values = {
            "run_s": (statistics.median(p["run_s"] for p in plain), "s"),
            "query_p50_s": (query_p50, "s"),
            "cpu_s": (statistics.median(p["cpu_s"] for p in plain), "CPU-s"),
            "peak_rss_mb": (statistics.median(p["peak_rss_mb"] for p in plain), "MiB"),
            "setup_s": (res["setup_s"], "s"),
        }
        for k, (v, u) in values.items():
            extra = f"  (median of {n} query runs)" if k == "query_p50_s" else ""
            lines.append(f"{k:>14} = {v:.4f} {u}{extra}")
        lines.append(f"{'passes':>14} = {len(plain)} (medians over passes)")
        by_q = {q: statistics.median(p["query_s"].get(q, 0.0) for p in plain) for q in res["queries"]}
        for q, t in sorted(by_q.items(), key=lambda kv: -kv[1]):
            lines.append(f"    {q:<36} {t:8.3f} s")
        # peak_rss_mb is printed but not gated: the JVM's committed heap,
        # which dominates it, varies by a quarter between identical runs
        gated = {m["name"] for m in bench_config()["end_to_end"]}
        return {k: {"value": v, "unit": u} for k, (v, u) in values.items() if k in gated}, lines
    traced = next(p for p in res["passes"] if p["traced"])
    layers = traced["layers"]
    tot = rollup(list(layers.values()), traced["cores"])
    tot["plans.pinned_bytes_max"] = tot.pop("plans.pinned_bytes")
    tot["trace.overhead_s"] = traced["trace_overhead_s"]
    tot["trace.run_delta_s"] = traced["run_s"] - statistics.median(p["run_s"] for p in plain)
    units = {m["name"]: m["unit"] for m in bench_config()["per_layer"]}
    # a metric name without a record key is an error, not a zero
    metrics = {k: {"value": float(tot[k]), "unit": u} for k, u in units.items()}
    for k, m in metrics.items():
        lines.append(f"{k:>28} = {m['value']:.6g} {m['unit']}")
    return metrics, lines


def bench_config() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one perfbench workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument(
        "--seconds",
        type=float,
        required=True,
        help="accepted but unused: every run makes the same number of passes",
    )
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t0 = time.monotonic()
    ctypes.CDLL(None, use_errno=True).prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    # on SIGTERM, unwind through run_worker's cleanup instead of dying at once
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    workloads = load_workloads()
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    names = list(workloads[args.workload]["queries"])
    random.Random(args.seed).shuffle(names)

    cache = os.path.join(WORK, "oracle")
    every_query = sorted({q for w in workloads.values() for q in w["queries"]})
    ensure_oracles(every_query, DATA_DIR, cache)

    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    shutil.rmtree(tmp, ignore_errors=True)
    cwd = os.path.join(tmp, "cwd")
    for d in ("cwd", "py", "java", "spark"):
        os.makedirs(os.path.join(tmp, d))
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out = os.path.join(results, f"{tag}.json")
    if os.path.exists(out):
        os.remove(out)

    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        TMPDIR=os.path.join(tmp, "py"),
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark"),
        # keep the JVM's scratch files, and its perf-counter file, out of /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(tmp, 'java')} -XX:-UsePerfData",
    )
    argv = [
        "--workload", args.workload,
        "--queries", ",".join(names),
        "--data-dir", DATA_DIR,
        "--warm-dir", WARM_DIR,
        "--oracle-cache", cache,
        "--trace", str(args.trace),
        "--t0", repr(time.monotonic()),
        "--out", out,
    ]  # fmt: skip
    rc = run_worker(argv, env, cwd, DEADLINE_S - (time.monotonic() - t0), out + ".log")
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        print(f"perfbench: worker failed (exit {rc}); see {out}.log", file=sys.stderr)
        return 1
    with open(out) as fh:
        res = json.load(fh)

    failed = set(res["errors"]) | {q for q, why in res["verdicts"].items() if why}
    metrics, lines = summarise(res, bool(args.trace))
    attempted = len(names)
    print(f"perfbench {args.workload}: seed {args.seed}, {attempted} queries, order {names}")
    for line in lines:
        print(line)
    print(f"{'fail_ratio':>14} = {len(failed) / attempted:.4f}  ({len(failed)}/{attempted})")
    for q in sorted(failed):
        print(f"    FAILED {q}: {res['errors'].get(q) or res['verdicts'].get(q)}")
    print(
        json.dumps(
            {
                "correct": not failed,
                "attempted": attempted,
                "failed": len(failed),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
