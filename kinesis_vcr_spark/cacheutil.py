"""Cache and checkpoint lifetime: the one module that persists,
checkpoints or frees a frame, and the round rule of the iterative
graph loops.

**The lifetime rule.** :func:`hold` bounds a frame's liveness to one
frame per scope; :func:`release` ends it early and deletes a reliable
checkpoint's files. Nothing else in the engine calls ``persist``,
``unpersist``, ``cache``, ``checkpoint`` or ``localCheckpoint``
(``tests/test_cacheutil.py`` scans for it).

A frame that a lazily returned plan reads (a dup-digest set, a batch's
decoded hashes, an edge table with three join branches) has no natural
place to be freed: the caller consumes the plan after the operator has
returned. So each :func:`hold` first releases what its scope held, then
persists (or lazily ``localCheckpoint``-s) the new frame and holds it
until the scope's next call. Release comes first, so a re-persisted
plan never reuses a stale cache entry (a cached scan over a parquet
path would otherwise serve the last call's rows to a call over the same
path with new data). Reading a plan after its scope's next call
recomputes a persisted frame: only the speedup is lost. A checkpointed
frame cannot be recomputed, so once an action has materialized it such
a read fails (``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``): consume a result
before the next call of its scope. A frame consumed inside its function
is held and then ended early by :func:`release`.

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
- :func:`release` frees the previous round's blocks (and, on the
  durable posture, deletes its ``rdd-*`` directory) as soon as the new
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

_HELD: dict[str, DataFrame] = {}


def hold(scope: str, df: DataFrame, checkpoint: bool = False) -> DataFrame:
    """Release what ``scope`` held, then persist ``df`` (with
    ``checkpoint`` a lazy ``localCheckpoint``, which also truncates the
    plan of every consumer) and hold it until the scope's next call.
    Returns the held frame."""
    held = _HELD.pop(scope, None)
    if held is not None:
        try:
            release(held)
        except Exception:  # session already stopped — nothing to free
            pass
    df = df.localCheckpoint(eager=False) if checkpoint else df.persist()
    _HELD[scope] = df
    return df


def truncate(
    df: DataFrame, checkpoint_dir: str | None = None, eager: bool = True
) -> DataFrame:
    """``df`` with its lineage cut: ``localCheckpoint(eager)``, or with
    ``checkpoint_dir`` an eager reliable ``checkpoint()`` into it."""
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    # every setCheckpointDir makes a new UUID directory under
    # checkpoint_dir: set it only when the current one is elsewhere
    Path = sc._jvm.org.apache.hadoop.fs.Path
    want = Path(checkpoint_dir)
    want = want.getFileSystem(sc._jsc.hadoopConfiguration()).makeQualified(want)
    current = sc._jsc.sc().getCheckpointDir()
    if not (current.isDefined() and want.equals(Path(current.get()).getParent())):
        sc.setCheckpointDir(checkpoint_dir)
    return df.checkpoint()


def release(df: DataFrame) -> None:
    """Free ``df``'s blocks now: unpersist a cached frame, and the RDD
    behind a checkpoint handle (as returned by :func:`truncate` or
    :func:`hold`), deleting a reliable checkpoint's directory. A scope
    holding ``df`` drops it. ``df`` must not be read afterwards if it is
    a checkpoint."""
    for scope in [s for s, h in _HELD.items() if h is df]:
        del _HELD[scope]
    if df.is_cached:
        df.unpersist()
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRDD":
        return
    rdd = plan.rdd()
    if not rdd.isCheckpointed():
        # a lazy checkpoint no action has run yet holds no blocks, and
        # unpersisting it would make its first read fail
        return
    rdd.unpersist(False)
    path = rdd.getCheckpointFile()
    if path.isDefined():
        sc = df.sparkSession.sparkContext
        p = sc._jvm.org.apache.hadoop.fs.Path(path.get())
        p.getFileSystem(sc._jsc.hadoopConfiguration()).delete(p, True)


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
