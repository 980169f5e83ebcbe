"""Generic iterative-computation driver (ref ops A9/A10/A13, SURVEY §2A).

The reference makes map/reduce tasks persistent across iterations, caches
static "structure" data at the task, and joins it each iteration against
the evolving "state" via a user Projector; a fixpoint check ends the loop.

The Spark equivalents, all realized here:
- persistent tasks      -> long-lived executors + `.cache()`d structure
  partitions (free);
- Projector             -> the join key: structure and state are
  `repartition(n, key)`-ed ONCE so every per-iteration join is
  co-partitioned and reuses the exchange (no re-shuffle of the big side);
- fixpoint              -> either a fixed iteration count (deterministic,
  used by the hash/golden-checked queries) or an epsilon on an
  aggregated state delta;
- incremental restart (A13) -> pass `state0` = previously converged state
  (the warm start drops iterations-to-converge; asserted in tests).

Lineage control: logical plans double per iteration; `localCheckpoint`
(eager) every `checkpoint_every` iterations truncates them.  No option
selects a reliable `checkpoint()` to HDFS: `$I2MR_CKPT_LEVEL` sets only
the local checkpoint's storage level (see checkpoint_without_stats), and
at 100 TB the reliable variant would replace that one call site.
"""

from __future__ import annotations

import logging
import os
import warnings
from collections.abc import Callable
from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame

#: one-time latch for the checkpoint_without_stats fallback warning —
#: the fallback silently reverts every iterative loop to the quadratic
#: stats-compounding behavior, so it must be visible in logs (r7 advice)
_STATS_RESET_FALLBACK_WARNED = False
_RELEASE_LOGGED = False


def checkpoint_without_stats(df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager=True)`` that also RESETS the plan's
    statistics — the load-bearing half for iterative loops.

    Spark's ``Dataset.checkpoint`` carries the pre-checkpoint plan's
    estimated ``Statistics`` onto the resulting ``LogicalRDD``
    (``originStats``).  Catalyst's size-only join estimate is
    ``left.sizeInBytes * right.sizeInBytes``, so in a loop whose step
    joins the state two or three times the carried estimate is SQUARED
    or CUBED every iteration: the BigInt's bit-length doubles per round
    (measured: 44 bits at iter 1 -> 9,915 bits at iter 8 on the CC
    kernel) and from ~iteration 17 the driver spends its time in
    Toom-Cook BigInteger multiplication inside
    ``SizeInBytesOnlyStatsPlanVisitor`` — per-iteration wall DOUBLES
    (measured 1.1s -> 33s by iter 22; a 30-iteration converge at 10x
    data took 860s of which >90% was stats arithmetic).  On a 1000-node
    cluster the same garbage-stats compounding would serialize every
    iteration on the driver.

    The carried estimate is worthless anyway (2^9915 bytes), and its
    only consumer is the broadcast-join threshold — which such a value
    can never pass — so rebuilding the checkpointed ``LogicalRDD`` with
    ``originStats = None`` (falls back to ``defaultSizeInBytes``)
    changes no plan choice while making stats arithmetic O(1) again.
    Uses the JVM constructor directly (no public API resets stats);
    falls back to the plain checkpoint if the internals ever move.

    Storage level: Spark's localCheckpoint default keeps blocks
    DESERIALIZED in the unified pool (JVM ``MEMORY_AND_DISK_DESER``).
    On a real-executor heap (8 GiB / 8 cores) the sf100 heavy fixpoints
    die unrolling those object vectors (measured: iter_scc OOM in
    ``DeserializedValuesHolder``/``PrimitiveVector.resize`` — the
    object-array doubling blows a tight heap before the spill path can
    bail).  ``$I2MR_CKPT_LEVEL`` overrides the level for EVERY loop
    checkpoint: serialized levels (pyspark ``MEMORY_AND_DISK`` — note
    pyspark's constant IS the serialized variant — or ``DISK_ONLY``)
    unroll through chunked byte buffers with exact accounting, so they
    degrade to disk instead of OOM.  Unset keeps Spark's default so the
    toy-SF driver bench is unaffected; the sf100 sweep legs set
    ``MEMORY_AND_DISK``.
    """
    level = os.environ.get("I2MR_CKPT_LEVEL")
    if level:
        ckpt = df.localCheckpoint(
            eager=True, storageLevel=getattr(StorageLevel, level))
    else:
        ckpt = df.localCheckpoint(eager=True)
    try:
        spark = ckpt.sparkSession
        jvm = spark._jvm
        plan = ckpt._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return ckpt
        none = jvm.scala.Option.empty()
        new_plan = jvm.org.apache.spark.sql.execution.LogicalRDD(
            plan.output(),
            plan.rdd(),
            plan.outputPartitioning(),
            plan.outputOrdering(),
            plan.isStreaming(),
            plan.stream(),
            spark._jsparkSession,
            none,  # originStats: reset — see above
            none,  # originConstraints: derived from the same deep plan
        )
        new_jdf = getattr(
            jvm.org.apache.spark.sql.classic, "Dataset"
        ).ofRows(spark._jsparkSession, new_plan)
        return DataFrame(new_jdf, spark)
    except Exception as exc:
        # The reset touches Spark internals (LogicalRDD constructor arity,
        # classic.Dataset.ofRows) pinned by tests on pyspark 4.1.2; if a
        # Spark upgrade moves them, every iterative loop silently regains
        # the quadratic stats-compounding cost this function removes.
        # Warn ONCE so the de-optimization shows up in logs instead of
        # only as a perf cliff.
        global _STATS_RESET_FALLBACK_WARNED
        if not _STATS_RESET_FALLBACK_WARNED:
            _STATS_RESET_FALLBACK_WARNED = True
            warnings.warn(
                "checkpoint_without_stats: stats reset unavailable on this "
                f"Spark build ({type(exc).__name__}: {exc}); iterative loops "
                "fall back to plain localCheckpoint and may hit quadratic "
                "driver-side stats compounding. Pin pyspark==4.1.2 or port "
                "the LogicalRDD rebuild.",
                RuntimeWarning,
                stacklevel=2,
            )
        return ckpt  # stats reset is a de-pessimization only


def is_local_checkpoint(df: DataFrame) -> bool:
    """True when `df` is already a materialized local checkpoint
    (its analyzed plan is a LogicalRDD).

    Loop operators use this for input OWNERSHIP: an edges frame the
    caller already checkpointed must be neither re-checkpointed (a
    second full block copy) nor released on exit (the caller may read
    it again — e.g. warm-start keys call connected_components twice on
    the same frame).  Same internals probe as release_checkpoint;
    returns False on any mismatch, which degrades to an extra (safe)
    checkpoint copy."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        return plan.getClass().getSimpleName() == "LogicalRDD"
    except Exception:
        return False


def release_checkpoint(df: DataFrame) -> None:
    """Drop the cached blocks behind a SUPERSEDED local checkpoint, or
    behind the checkpoint a column projection of one reads.

    localCheckpoint persists its RDD and nothing ever unpersists it, so
    a fixpoint loop that checkpoints every round pins O(iterations)
    state copies in the unified memory pool.  Local-checkpoint blocks
    are the lineage itself (not evictable like ordinary cache), so on a
    bounded heap they squeeze EXECUTION memory until shuffles die with
    UNABLE_TO_ACQUIRE_MEMORY — measured r10 on the sf10 CC fixpoint at
    the 8 GiB default heap, where partition-count scaling alone could
    not save it (512 partitions failed identically; the resident set,
    not the task working set, was the constraint).  Releasing the
    previous round's checkpoint once the NEXT eager checkpoint has
    re-rooted the lineage makes loop memory O(1) rounds.

    Only call on checkpoints the caller itself created and that nothing
    downstream will read again — the blocks are the only copy, so any
    later action on a released frame fails.  Best-effort: on internals
    mismatch the blocks simply age out with the session (pre-r10
    behavior).

    A released frame that IS read again fails far from here, as a
    missing-rdd-block error inside some later job — so the first
    release logs once (r10 advice): a `BlockNotFoundException` /
    "block rdd_N_M not found" stack trace in a session whose log shows
    this latch means some caller retained a superseded iterate() state.
    """
    global _RELEASE_LOGGED
    try:
        plan = df._jdf.queryExecution().analyzed()
        while plan.getClass().getSimpleName() == "Project":
            plan = plan.child()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
            if not _RELEASE_LOGGED:
                _RELEASE_LOGGED = True
                logging.getLogger(__name__).info(
                    "release_checkpoint: dropping superseded local-"
                    "checkpoint blocks (logged once per session); a later "
                    "missing-rdd-block failure means a released state was "
                    "retained — see iterate() docstring"
                )
    except Exception:
        pass


@dataclass
class IterationResult:
    state: DataFrame
    iterations: int
    converged: bool
    deltas: list[float]


def iterate(
    state0: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    max_iters: int,
    delta_fn: Callable[[DataFrame, DataFrame], float] | None = None,
    tol: float | None = None,
    checkpoint_every: int | None = None,
) -> IterationResult:
    """Run `state = step(state, i)` until max_iters or delta < tol.

    `delta_fn(old, new) -> float` triggers one Spark action per iteration
    (the reference's global fixpoint barrier, SURVEY §3.2); without it the
    loop is fully lazy between checkpoints.

    `checkpoint_every=None` (the default) picks the cadence automatically:
    1 when a delta_fn is set (actions on uncheckpointed plans re-execute
    the chain since the last checkpoint — quadratic work in the interval),
    else 2 (shallow plans keep per-stage scheduling overhead linear in
    iterations).  An explicit value is always respected; with a delta_fn
    the fixpoint check then fires only on checkpoint boundaries, against
    the PREVIOUS CHECKPOINTED state (so the delta job never recomputes a
    lazy chain) — the measured delta spans `checkpoint_every` steps, a
    conservative stop for any contracting iteration.

    Memory contract (r10): each superseded in-loop checkpoint is
    RELEASED (its blocks dropped — the only copy) as soon as a newer
    eager checkpoint re-roots the lineage, keeping loop memory O(1)
    rounds.  Consequently `step` and `delta_fn` must not retain
    references to intermediate states for use in LATER iterations
    (e.g. a closure stashing frames, or a delta_fn deferring its
    action): any action on a state from two or more checkpoints ago
    fails with a missing-rdd-block error.  `delta_fn` runs its action
    before the release; `state0` and the returned final state are never
    released here.
    """
    state = state0
    deltas: list[float] = []
    converged = False
    i = 0
    if checkpoint_every is None:
        checkpoint_every = 1 if (delta_fn is not None and tol is not None) else 2
    fresh = False  # is `state` already materialized by a checkpoint?
    check_state = state0  # last state a delta was measured against
    # the loop's own previous checkpoint: released (blocks dropped) as
    # soon as a newer eager checkpoint re-roots the lineage, so loop
    # memory is O(1) rounds, not O(iterations) — see release_checkpoint.
    # state0 is caller-owned and never released here.
    prev_own: DataFrame | None = None
    for i in range(1, max_iters + 1):
        new_state = step(state, i)
        fresh = i % checkpoint_every == 0
        if fresh:
            new_state = checkpoint_without_stats(new_state)
        state = new_state
        if delta_fn is not None and tol is not None and fresh:
            # measured BEFORE the superseded checkpoint is released —
            # delta_fn may read the old state
            d = delta_fn(check_state, new_state)
            deltas.append(d)
            check_state = new_state
            if d < tol:
                converged = True
        if fresh:
            if prev_own is not None:
                release_checkpoint(prev_own)
            prev_own = new_state
        if converged:
            break
    if not fresh:
        # final checkpoint so callers get a bounded plan (skipped when the
        # last loop step already materialized — re-checkpointing an
        # in-memory state would burn one extra job per call)
        state = checkpoint_without_stats(state)
        if prev_own is not None:
            release_checkpoint(prev_own)
    return IterationResult(state=state, iterations=i, converged=converged, deltas=deltas)
