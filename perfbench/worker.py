"""One benchmark run: the Python process that hosts the Spark session.

``run.py`` starts this module as a child process. It runs the workload's
queries as one closed-loop client: each query is built with the
program's registered function and materialised through the no-op sink,
and the next query starts only after that write has returned.

1. set-up, once per run: start a Spark application with the program's
   ``get_session`` and run every workload query once on the small
   warm-up tables, which compiles their plan shapes;
2. ``PASSES`` timed passes over the bench tables, each in a fresh
   Spark application so it starts with empty session memos (their keys
   include the application id). A traced run traces its second pass.

After the last pass, outside any timed region, every frame that pass
materialised is collected once more and compared with its DuckDB
oracle, so the check covers the very frames that were timed. The
result is written as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

from perfbench import procfs
from perfbench.oracle import Oracle, mismatch

#: timed passes per run; the count does not depend on measured speed, so a
#: faster program is measured over as many passes as its parent
PASSES = 2
#: settings the benchmark adds to the program's session: console output only
OBSERVE_CONF = {"spark.ui.showConsoleProgress": "false"}


def _materialise(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Run:
    def __init__(self, args: argparse.Namespace):
        from __spark_entry__ import queries

        from employee_data_management_system_data_engineering_solution_spark.session import (
            get_session,
        )

        self.args = args
        self.get_session = get_session
        self.fns = queries()
        self.names = args.queries.split(",")
        self.errors: dict[str, str] = {}
        self.frames: dict = {}
        self.spark = None

    def _fail(self, name: str, where: str) -> None:
        self.errors.setdefault(name, f"{where}: {traceback.format_exc(limit=3)}")
        print(f"perfbench: {name} failed in {where}", file=sys.stderr)

    def new_application(self) -> None:
        if self.spark is not None:
            self.spark.stop()
        self.spark = self.get_session(
            f"perfbench-{self.args.workload}", extra_conf=OBSERVE_CONF
        )

    def warm_up(self) -> dict[str, float]:
        # a fixed order, so the seed's permutation only reaches timed passes
        times = {}
        for name in sorted(self.names):
            t = time.perf_counter()
            try:
                _materialise(self.fns[name](self.spark, self.args.warm_dir))
            except Exception:
                self._fail(name, "warm-up")
            times[name] = time.perf_counter() - t
        return times

    def timed_pass(self, traced: bool) -> dict:
        me = os.getpid()
        tracer = None
        if traced:
            from perfbench.spark_trace import Tracer

            tracer = Tracer(self.spark, me)
        # start every pass from a collected heap, so no pass inherits the
        # previous one's garbage (in GC pauses or in its resident set)
        self.spark.sparkContext._jvm.System.gc()
        pids = procfs.tree(me)
        procfs.reset_peak_rss(pids)
        cpu0 = procfs.cpu_seconds(pids)
        times: dict[str, float] = {}
        layers: dict[str, dict] = {}
        self.frames = {}
        t_start = time.perf_counter()
        for name in self.names:
            if tracer:
                tracer.begin()
            t0, p0 = time.time(), time.perf_counter()
            try:
                df = self.fns[name](self.spark, self.args.data_dir)
                t1 = time.time()
                _materialise(df)
            except Exception:
                self._fail(name, "timed pass")
                continue
            times[name] = time.perf_counter() - p0
            self.frames[name] = df
            if tracer:
                layers[name] = tracer.end(name, (t0, t1), (t1, time.time()), df)
        run_s = time.perf_counter() - t_start
        pids = procfs.tree(me)
        out = {
            "traced": traced,
            "run_s": run_s,
            "query_s": times,
            "cpu_s": procfs.cpu_seconds(pids) - cpu0,
            "peak_rss_mb": procfs.peak_rss_mib(pids),
        }
        if tracer:
            tracer.close()
            out["layers"] = layers
            out["cores"] = tracer.cores
            out["trace_overhead_s"] = tracer.overhead_s
        return out

    def verify(self) -> dict[str, str | None]:
        """Each query's mismatch against its oracle (None when equal)."""
        from __spark_entry__ import oracle_sql

        def collect(item):
            name, df = item
            try:
                return name, df.toPandas()
            except Exception:
                self._fail(name, "verification")
                return name, None

        # the frames are collected concurrently: nothing is timed here, and
        # the per-action fixed cost would otherwise dominate a light workload
        with ThreadPoolExecutor(max_workers=os.cpu_count() or 4) as pool:
            outputs = list(pool.map(collect, sorted(self.frames.items())))
        sqls = oracle_sql()
        oracle = Oracle(self.args.data_dir, self.args.oracle_cache)
        try:
            return {
                name: mismatch(got, oracle.answer(name, sqls[name]))
                for name, got in outputs
                if got is not None
            }
        finally:
            oracle.close()

    def main(self) -> dict:
        self.new_application()
        warm_s = self.warm_up()
        setup_s = time.monotonic() - self.args.t0
        passes: list[dict] = []
        for i in range(PASSES):
            self.new_application()
            passes.append(self.timed_pass(traced=bool(self.args.trace) and i == PASSES - 1))
        v0 = time.monotonic()
        verdicts = self.verify()
        verify_s = time.monotonic() - v0
        self.spark.stop()
        return {
            "workload": self.args.workload,
            "queries": self.names,
            "setup_s": setup_s,
            "warm_up_s": warm_s,
            "passes": passes,
            "verify_s": verify_s,
            "verdicts": verdicts,
            "errors": self.errors,
        }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--queries", required=True, help="comma-separated, in run order")
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--warm-dir", required=True)
    ap.add_argument("--oracle-cache", required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--t0", type=float, required=True, help="monotonic time the run started")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    result = Run(args).main()
    tmp = args.out + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(result, fh)
    os.replace(tmp, args.out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
