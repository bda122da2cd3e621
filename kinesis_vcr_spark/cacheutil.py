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

**The posture.** Checkpoints are executor-memory ``localCheckpoint``
blocks by default; they are lost with their executor, so on a
multi-hour 100 TB run one executor loss kills the job (VERDICT r02).
A deployment that wants the durable posture gives the context a
checkpoint directory (``--conf spark.checkpoint.dir=…`` or
``SparkContext.setCheckpointDir``); this module reads it there and
never sets it. Then :func:`truncate` (and so every round) writes an
eager reliable ``checkpoint()`` into it, and ``hold(…,
checkpoint=True)`` persists, which a lost executor can recompute.
Every loop gets the posture without code of its own.

**Rounds.** ``components``, ``kcore``, ``bfs``, ``pagerank``, the
chunked ``triangle_counts`` and ``semantic_dedup``'s verdict ids each
keep their own algorithm and control flow and share one rule per round:

- :func:`settle` is one round: a lazy truncate (eager on the durable
  posture; without it iteration i re-plans all i−1 predecessors and
  the job DAG explodes within ten rounds), then ONE full count. The
  count computes every partition, so it is also the job that
  materializes the checkpoint — one job per round instead of a
  checkpoint job plus a probe. A ``limit(1)`` probe would be wrong: it
  can stop with the checkpoint only partly materialized. The count
  runs on the checkpoint's internal row RDD: a DataFrame ``count()``
  adds an aggregation exchange, and so a second job, per round. On the
  durable posture the checkpoint write is one more job per round.
- The round is then held under the loop's scope, and the scope's
  previous round is released (its blocks freed and, on the durable
  posture, its ``rdd-*`` directory deleted) as soon as the new round is
  materialized, instead of when GC happens to collect the handle. The
  last round is what the returned frame reads, so it stays held until
  the loop's next call: like any held result, consume it first.
  ``DataFrame.unpersist()`` is a no-op on a checkpointed frame; the
  blocks belong to the RDD behind the handle ``localCheckpoint``
  returned (a ``select`` on that handle is a new plan).
- :func:`truncate` alone is for temporaries a function releases before
  it returns (components' edge list and start labels, pagerank's
  weights).
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


def _durable(df: DataFrame) -> bool:
    """The context has a checkpoint directory: the durable posture."""
    return df.sparkSession.sparkContext.getCheckpointDir() is not None


def _drop(scope: str) -> None:
    """Release what ``scope`` held, if anything."""
    held = _HELD.pop(scope, None)
    if held is not None:
        try:
            release(held)
        except Exception:  # session already stopped — nothing to free
            pass


def hold(scope: str, df: DataFrame, checkpoint: bool = False) -> DataFrame:
    """Release what ``scope`` held, then persist ``df`` (with
    ``checkpoint`` a lazy ``localCheckpoint``, which also truncates the
    plan of every consumer; on the durable posture a persist) and hold
    it until the scope's next call. Returns the held frame."""
    _drop(scope)
    if checkpoint and not _durable(df):
        df = df.localCheckpoint(eager=False)
    else:
        df = df.persist()
    _HELD[scope] = df
    return df


def truncate(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df`` with its lineage cut: ``localCheckpoint(eager)``, or on
    the durable posture an eager reliable ``checkpoint()``."""
    if _durable(df):
        return df.checkpoint()
    return df.localCheckpoint(eager=eager)


def release(df: DataFrame) -> None:
    """Free ``df``'s blocks now: unpersist a cached frame, and the RDD
    behind a checkpoint handle (as returned by :func:`truncate`,
    :func:`hold` or :func:`settle`), deleting a reliable checkpoint's
    directory. A scope holding ``df`` drops it. ``df`` must not be read
    afterwards if it is a checkpoint."""
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
    where: Column | str | None = None,
) -> tuple[DataFrame, int]:
    """One round: truncate ``df`` (lazily, or eagerly on the durable
    posture), count it in full (only the rows matching ``where`` when
    given), hold it under scope ``loop`` in place of the scope's last
    round, which is released, and log one INFO JSON record (loop,
    round, n, seconds). Returns the checkpoint handle and the count."""
    t0 = time.perf_counter()
    df = truncate(df, eager=False)
    counted = df if where is None else df.where(where)
    n = counted._jdf.queryExecution().toRdd().count()
    _drop(loop)
    _HELD[loop] = df
    _LOG.info(json.dumps({
        "loop": loop, "round": round, "n": n,
        "seconds": time.perf_counter() - t0,
    }))
    return df, n


def broadcast_if_small(df: DataFrame, rows: int) -> DataFrame:
    """``df`` hinted for broadcast while ``rows`` (its exact row count)
    is within :data:`BROADCAST_ROWS_MAX`; unhinted past it."""
    return F.broadcast(df) if rows <= BROADCAST_ROWS_MAX else df
