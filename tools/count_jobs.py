"""Count the Spark jobs and fixpoint rounds of query keys.

Usage:  python tools/count_jobs.py <sf_dir> <key> [key ...]

Each key runs four times in one `local[4]` session with
`shuffle_partitions=8`; the first (cold) call fills the lazy table
caches and is not counted.  After the WARM_CALLS warm calls the tool
prints one line per key:

    <key>  rows=<n>  jobs=<n>  pinned=<n>  md5=<sorted-row digest>  iterate=[(cap, rounds, converged), ...]

- jobs: the jobs a warm call and its `collect()` start and that succeed,
  counted with `setJobGroup` + `statusTracker().getJobIdsForGroup` once
  the listener bus has drained (a job read earlier can still be
  missing); the fewest over the warm calls.  On near-empty inputs AQE
  races query stages against each other, and a call whose stages finish
  in an unlucky order re-plans and runs one to three extra jobs
  (measured on agg_rfm_segments over the empty sf0 fixture: 2 jobs in
  10 of 16 calls, 3-5 in the rest), so one call's count is not a
  property of the code.
- pinned: the persisted RDD ids the last warm call adds to
  `getPersistentRDDs()` (by id set, so an id that ContextCleaner drops
  meanwhile is not counted): the frames a call leaves pinned, e.g. the
  loop checkpoints it never releases
- iterate: one `(max_iters, rounds run, converged)` triple per
  `plans.iterate.iterate()` call, in call order
- md5: digest of the sorted collected rows, to compare outputs between
  two checkouts of the engine
"""

from __future__ import annotations

import hashlib
import importlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import i2mapreduce_spark  # noqa: E402
from i2mapreduce_spark.queries import build_registry  # noqa: E402
from i2mapreduce_spark.session import get_spark  # noqa: E402

# the package re-exports the function ``iterate`` under the module's name
plans_iterate = importlib.import_module("i2mapreduce_spark.plans.iterate")

#: warm calls per key; the job count is the fewest among them
WARM_CALLS = 3


def _trace_iterate(calls: list) -> None:
    """Record every `iterate()` call, wherever a module imported it."""
    fn = plans_iterate.iterate

    def traced(state0, step, max_iters, *args, **kwargs):
        res = fn(state0, step, max_iters, *args, **kwargs)
        calls.append((max_iters, res.iterations, res.converged))
        return res

    for name, mod in list(sys.modules.items()):
        if (name.startswith(i2mapreduce_spark.__name__)
                and getattr(mod, "iterate", None) is fn):
            mod.iterate = traced


def main() -> int:
    if len(sys.argv) < 3:
        raise SystemExit(__doc__)
    sf_dir, keys = sys.argv[1], sys.argv[2:]
    queries, _ = build_registry()
    unknown = sorted(set(keys) - set(queries))
    if unknown:
        raise SystemExit(f"unknown keys: {unknown}")
    calls: list = []
    _trace_iterate(calls)
    spark = get_spark(cpus="4", shuffle_partitions=8)
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()

    def persisted() -> set[int]:
        return set(sc._jsc.getPersistentRDDs().keys())

    for key in keys:
        queries[key](spark, sf_dir).collect()
        jobs = []
        for call in range(WARM_CALLS):
            calls.clear()
            group = f"count_jobs.{key}.{call}"
            sc.setJobGroup(group, key)
            before = persisted()
            try:
                rows = queries[key](spark, sf_dir).collect()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            pinned = len(persisted() - before)
            bus.waitUntilEmpty()
            tracker = sc.statusTracker()
            jobs.append(sum(
                1 for j in tracker.getJobIdsForGroup(group)
                if (info := tracker.getJobInfo(j)) is not None
                and info.status == "SUCCEEDED"
            ))
        digest = hashlib.md5(
            "\n".join(sorted(repr(tuple(r)) for r in rows)).encode()
        ).hexdigest()
        print(f"{key}  rows={len(rows)}  jobs={min(jobs)}  pinned={pinned}  md5={digest}  "
              f"iterate={calls}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
