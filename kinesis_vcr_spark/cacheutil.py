"""Cache and checkpoint lifetime: bounded-liveness persist tracking and
the round rule of the iterative graph loops.

**Tracked persists (ADVICE r09).** Operators that persist an internal
frame (a dup-digest set, a batch's decoded hashes) have no natural
place to unpersist it — the caller consumes a lazy DataFrame built over
the cache. Leaving the handles live accumulates one cached relation per
call in a long-lived session (bench loops, streaming drivers) with
nothing but a blanket ``spark.catalog.clearCache()`` to free them. The
registry here bounds liveness to "the latest call per scope": each
tracked call first evicts (non-blocking) whatever its scope tracked
before. A caller that interleaves two calls before consuming either
only loses the speedup — the evicted plan recomputes — never
correctness.

**Rounds.** ``components``, ``kcore``, ``bfs`` and ``pagerank`` each
keep their own algorithm and control flow and share one rule per round:

- :func:`truncate` cuts the lineage. Without it iteration i re-plans
  all i−1 predecessors and the job DAG explodes within ten rounds. The
  default is an executor-memory ``localCheckpoint``; a
  ``checkpoint_dir`` selects a reliable, executor-loss-safe
  ``checkpoint()`` into that directory (the 100 TB multi-hour posture,
  VERDICT r02), which stays eager because durability is its point.
- :func:`settle` is one round's bookkeeping: a lazy truncate, then ONE
  full count. The count computes every partition, so it is also the
  job that materializes the checkpoint — one job per round instead of
  a checkpoint job plus a probe. A ``limit(1)`` probe would be wrong:
  it can stop with the checkpoint only partly materialized. The count
  runs on the checkpoint's internal row RDD: a DataFrame ``count()``
  adds an aggregation exchange, and so a second job, per round. On the
  durable posture the eager checkpoint write is one more job per round.
- :func:`release` frees the previous round's blocks as soon as the new
  round is materialized, instead of when GC happens to collect the
  handle. ``DataFrame.unpersist()`` is a no-op on a checkpointed frame;
  the blocks belong to the RDD behind the handle ``localCheckpoint``
  returned (a ``select`` on that handle is a new plan). Reading a
  released checkpoint fails (``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``), so
  a loop releases only what neither its next round nor its returned
  frame reads.
- :func:`broadcast_if_small` broadcasts a node-sized side while an
  exact row count (from :func:`settle`) is within
  :data:`BROADCAST_ROWS_MAX`, so the edge table never shuffles, and
  leaves the join to the planner past it.
"""

from __future__ import annotations

import json
import logging
import time

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_LOG = logging.getLogger(__name__)

# Cumulative node sets (kcore's removed set, bfs's visited set) grow
# without bound on graphs where most nodes qualify — an unconditional
# broadcast hint would hit Spark's 8 GB broadcast limit or OOM the
# driver. Below this many rows (~hundreds of MB of long ids at worst) the
# broadcast join is the strictly better plan.
BROADCAST_ROWS_MAX = 5_000_000

_TRACKED: dict[str, list[DataFrame]] = {}


def evict_tracked(scope: str) -> None:
    """Unpersist (non-blocking) everything ``scope`` tracked."""
    for cached in _TRACKED.get(scope, ()):
        try:
            cached.unpersist(blocking=False)
        except Exception:  # session already stopped — nothing to free
            pass
    _TRACKED[scope] = []


def persist_tracked(scope: str, df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for eviction by the next
    ``evict_tracked(scope)`` call."""
    _TRACKED.setdefault(scope, []).append(df.persist())
    return df


def truncate(
    df: DataFrame, checkpoint_dir: str | None = None, eager: bool = True
) -> DataFrame:
    """``df`` with its lineage cut: ``localCheckpoint(eager)``, or with
    ``checkpoint_dir`` an eager reliable ``checkpoint()`` into it."""
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=eager)
    df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
    return df.checkpoint()


def release(df: DataFrame) -> None:
    """Free ``df``'s blocks now: unpersist a cached frame, and the RDD
    behind a checkpoint handle (as returned by :func:`truncate`).
    ``df`` must not be read afterwards if it is a checkpoint."""
    if df.is_cached:
        df.unpersist()
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def settle(
    df: DataFrame,
    loop: str,
    round: int,
    prev: DataFrame | None = None,
    where: Column | str | None = None,
    checkpoint_dir: str | None = None,
) -> tuple[DataFrame, int]:
    """One round: truncate ``df`` (lazily, or eagerly on the durable
    posture), count it in full (only the rows matching ``where`` when
    given), release ``prev`` and log one INFO JSON record (loop, round,
    n, seconds). Returns the checkpoint handle and the count."""
    t0 = time.perf_counter()
    df = truncate(df, checkpoint_dir, eager=checkpoint_dir is not None)
    counted = df if where is None else df.where(where)
    n = counted._jdf.queryExecution().toRdd().count()
    if prev is not None:
        release(prev)
    _LOG.info(json.dumps({
        "loop": loop, "round": round, "n": n,
        "seconds": time.perf_counter() - t0,
    }))
    return df, n


def broadcast_if_small(df: DataFrame, rows: int) -> DataFrame:
    """``df`` hinted for broadcast while ``rows`` (its exact row count)
    is within :data:`BROADCAST_ROWS_MAX`; unhinted past it."""
    return F.broadcast(df) if rows <= BROADCAST_ROWS_MAX else df
