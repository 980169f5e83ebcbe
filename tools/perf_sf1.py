"""Run a perfbench workload one decade up: delta_refresh at sf1.

Usage:  python tools/perf_sf1.py [--workload delta_refresh] [--sf SF]
                                 [--seed 101] [--seconds 60] [--trace 0]

perfbench runs delta_refresh at sf0.1 (600k lineitem edges over 20,000
part keys), where the per-job scheduling floor, not the data, sets most
of a pass.  This tool runs the same workload classes with only their
scale factor changed: at sf1 delta_refresh preserves 6M edges over
200,000 keys.  The set-up, passes, timings and output checks are
perfbench's own (`perfbench/run.py::run_workload`, one set-up instead of
two, since generating sf1 inputs takes about a minute); perfbench is
imported, not edited.  Inputs are generated from the seed under
`.perfbench_work/` and removed at exit, so nothing is downloaded.

`--sf` defaults to ten times the workload's own scale factor: sf1 for
delta_refresh, sf0.02 for `--workload graph_fixpoint`, which runs the
fixpoint workload the same way.

Prints perfbench's metric lines (cold_s, refresh_s, refresh_speedup,
setup_s, peak_rss_mb: the peak resident memory of this process, the JVM
and its Python workers) and, last, one JSON line, which adds end_rss_mb:
the same sum after the last pass, with the workload's state still
live; driver_py_rss_mb: this Python process alone at that point; and
arrow_mb: the Arrow buffers it holds then (an MRBGStore that keeps its
state on the driver holds it there).  Off by default: no test or
benchmark runs it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import pyarrow as pa

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import run as perfbench  # noqa: E402  (perfbench/run.py)


def _own_rss() -> int:
    with open("/proc/self/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="delta_refresh",
                    choices=("delta_refresh", "graph_fixpoint"))
    ap.add_argument("--sf", type=float, default=None,
                    help="scale factor (default: ten times the workload's)")
    ap.add_argument("--seed", type=int, default=101)
    ap.add_argument("--seconds", type=float, default=60.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"sf-{os.getpid()}")
    perfbench.prepare_env(work)
    rss = perfbench.PeakRss()
    rss.start()
    spark = None
    try:
        import workloads
        from spans import Tracer
        from i2mapreduce_spark.session import get_spark

        base = workloads.WORKLOADS[args.workload]
        sf = args.sf or 10 * base.sf
        scaled = type(f"{args.workload}_sf", (base,), {"sf": sf})
        t = time.perf_counter()
        spark = get_spark(app_name=f"perf-sf-{args.workload}",
                          shuffle_partitions=perfbench.SHUFFLE_PARTITIONS)
        session_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        wl = scaled(spark, Tracer(spark, bool(args.trace)), work, args.seed)
        lines, result = perfbench.run_workload(
            wl, session_s, args.seconds, bool(args.trace), rss, setup_reps=1)
        # the resident set while the workload's state is still live
        now = perfbench.PeakRss()
        now.sample()
        result["end_rss_mb"] = now.peak / perfbench.MB
        result["driver_py_rss_mb"] = _own_rss() / perfbench.MB
        result["arrow_mb"] = pa.total_allocated_bytes() / perfbench.MB
    finally:
        if spark is not None:
            perfbench.shutdown(spark)
        rss.stop()
        rss.reap()
        shutil.rmtree(work, ignore_errors=True)
    result["sf"] = sf
    result["peak_rss_mb"] = rss.peak / perfbench.MB
    print("\n".join(lines))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
