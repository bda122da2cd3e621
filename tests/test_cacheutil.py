"""Cache and checkpoint lifetime (kinesis_vcr_spark/cacheutil.py): the
one module that persists, checkpoints or frees; held-scope isolation,
release order and post-release recompute safety; the iterative loops'
round rule — superseded rounds released, one log record per round, no
extra jobs."""

from __future__ import annotations

import ast
import gc
import json
import logging
import re
from pathlib import Path

import pytest

from kinesis_vcr_spark import cacheutil
from kinesis_vcr_spark.operators.bfs import bfs_distances
from kinesis_vcr_spark.operators.components import connected_components
from kinesis_vcr_spark.operators.kcore import kcore_nodes
from kinesis_vcr_spark.operators.pagerank import pagerank_micro
from kinesis_vcr_spark.operators.semdedup import semantic_dedup
from kinesis_vcr_spark.operators.triangles import triangle_counts


def test_scopes_release_independently_and_results_survive(spark):
    a = cacheutil.hold(
        "scope_a", spark.range(100).selectExpr("id", "id * 2 AS v")
    )
    b = cacheutil.hold("scope_b", spark.range(50))
    assert a.count() == 100 and b.count() == 50
    assert a.storageLevel.useMemory and b.storageLevel.useMemory

    # the scope's next hold releases first, then holds the new frame
    c = cacheutil.hold("scope_a", spark.range(7))
    assert not a.storageLevel.useMemory  # unpersisted
    assert b.storageLevel.useMemory  # other scope untouched
    # released frames still COMPUTE correctly (cache loss, not data loss)
    assert a.where("v >= 100").count() == 50
    assert c.count() == 7
    assert cacheutil._HELD["scope_a"] is c

    # release ends a hold early and the scope stops holding it
    cacheutil.release(b)
    assert not b.storageLevel.useMemory
    assert "scope_b" not in cacheutil._HELD
    cacheutil.release(c)


def test_hold_tolerates_dead_session_handles(spark):
    # a held handle whose unpersist raises must not break the next hold
    class Boom:
        is_cached = True

        def unpersist(self, blocking=False):
            raise RuntimeError("session gone")

    cacheutil._HELD["scope_x"] = Boom()
    c = cacheutil.hold("scope_x", spark.range(3))  # must not raise
    assert cacheutil._HELD["scope_x"] is c
    cacheutil.release(c)


def test_rehold_before_first_read_keeps_lazy_checkpoint_readable(spark):
    # a lazy checkpoint no action has materialized holds no blocks, so
    # the scope's next hold leaves it readable instead of breaking it
    a = cacheutil.hold("scope_y", spark.range(20), checkpoint=True)
    c = cacheutil.hold("scope_y", spark.range(3), checkpoint=True)
    assert a.where("id >= 10").count() == 10
    cacheutil.release(c)


LIFETIME_CALL = re.compile(
    r"\.persist\(|\.unpersist\(|\.cache\(|localCheckpoint\(|"
    r"\.checkpoint\(|setCheckpointDir"
)


def test_only_cacheutil_persists_checkpoints_or_frees():
    """One module owns every frame's lifetime: a persist, checkpoint or
    free anywhere else in the engine bypasses the held scopes and the
    round rule. The checkpoint posture is the context's: no engine
    code sets the checkpoint directory (a deployment does, with
    ``spark.checkpoint.dir``), and no operator or ``cacheutil``
    function takes a ``checkpoint_dir`` (in ``streaming/`` that name is
    a streaming query's ``checkpointLocation``, a different thing)."""
    own = Path(cacheutil.__file__).resolve()
    pkg = own.parent
    offenders = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if p.resolve() != own and LIFETIME_CALL.search(p.read_text())
    )
    assert offenders == []
    sets_dir, takes_dir = [], []
    for p in sorted(pkg.rglob("*.py")):
        source = p.read_text()
        name = str(p.relative_to(pkg))
        nodes = list(ast.walk(ast.parse(source)))
        if any(
            isinstance(n, ast.Attribute) and n.attr == "setCheckpointDir"
            for n in nodes
        ) or any("spark.checkpoint.dir" in c for c in _code_strings(source)):
            sets_dir.append(name)
        if (name.startswith("operators/") or name == "cacheutil.py") and any(
            isinstance(n, ast.arg) and n.arg == "checkpoint_dir" for n in nodes
        ):
            takes_dir.append(name)
    assert sets_dir == []
    assert takes_dir == []


RDD_DATA_PATH = re.compile(
    r"mapPartitions\(|\.rdd\.(?:map|flatMap|foreach)|\.parallelize\(|"
    r"createDataFrame\(\s*[\w.]*\.rdd\b"
)
LAYOUT_LITERAL = re.compile(r"(?:^|/)(?:dt|shard)=")


def _code_strings(source: str) -> list[str]:
    """String constants of a module, f-string pieces included,
    docstrings excluded."""
    tree = ast.parse(source)
    docstrings = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef))
        and node.body
        and isinstance(node.body[0], ast.Expr)
    }
    return [
        node.value
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and id(node) not in docstrings
    ]


def test_no_pickled_rdd_path_and_one_archive_layout_owner():
    """Python executors run on Arrow (``mapInArrow``/``applyInPandas``),
    never on pickled RDD rows; and only ``sources/archive.py`` spells the
    archive's ``dt=``/``shard=`` directories, so the recorder,
    compaction and the listing cannot drift apart."""
    pkg = Path(cacheutil.__file__).resolve().parent
    owner = pkg / "sources" / "archive.py"
    rdd, layout = [], []
    for p in sorted(pkg.rglob("*.py")):
        source = p.read_text()
        name = str(p.relative_to(pkg))
        if RDD_DATA_PATH.search(source):
            rdd.append(name)
        if p != owner and any(map(LAYOUT_LITERAL.search, _code_strings(source))):
            layout.append(name)
    assert rdd == []
    assert layout == []


def _chain(spark, n, a="src", b="dst"):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n)], f"{a} long, {b} long"
    )


def _k4_tail(spark, n):
    """K4 on {1..4} with an ``n``-edge path 4-10-11-… hanging off it."""
    path = [4, *range(10, 10 + n)]
    return spark.createDataFrame(
        [(i, j) for i in range(1, 5) for j in range(i + 1, 5)]
        + list(zip(path, path[1:])),
        "src long, dst long",
    )


def _pagerank_graph(spark):
    return spark.createDataFrame(
        [(i % 13, (i * 7 + 3) % 17) for i in range(40)], "s long, d long"
    )


# loop -> (call(spark, depth), ((depth, job ceiling),)*2)
LOOPS = {
    "components": (
        lambda spark, d: connected_components(_chain(spark, d)),
        ((3, 24), (12, 69)),
    ),
    "kcore": (
        lambda spark, d: kcore_nodes(_k4_tail(spark, d), "src", "dst", 2),
        ((2, 15), (8, 33)),
    ),
    "bfs": (
        lambda spark, d: bfs_distances(
            _chain(spark, d, "s", "d"), "s", "d",
            spark.createDataFrame([(0,)], "seed long"), "seed", 50,
        ),
        ((3, 19), (10, 47)),
    ),
    "pagerank": (
        lambda spark, d: pagerank_micro(
            _pagerank_graph(spark), "s", "d", iterations=d
        ),
        ((3, 19), (9, 47)),
    ),
}


def _stored(jsc, first):
    """Ids of the RDDs with stored blocks created after ``first``."""
    return {i.id() for i in jsc.getRDDStorageInfo() if i.id() > first}


def _held(first):
    """Ids of the RDDs behind the held checkpoint frames created after
    ``first``."""
    plans = (
        df._jdf.queryExecution().analyzed() for df in cacheutil._HELD.values()
    )
    return {
        p.rdd().id()
        for p in plans
        if p.getClass().getSimpleName() == "LogicalRDD"
        and p.rdd().id() > first
    }


@pytest.mark.parametrize("loop", list(LOOPS))
def test_loops_release_superseded_rounds(spark, count_jobs, loop):
    """After a collected call at most the returned frame's checkpoint
    stays held, whatever the round count (GC off, so nothing but the
    loop's own release frees a block), and the call launches no more
    jobs than measured with the round helper (the ceilings are exact
    counts, repeated across runs). After both calls the only blocks
    the test left are the loop's held round: the previous call's
    result went at the second call, not when GC collected its handle."""
    call, depths = LOOPS[loop]
    jsc = spark.sparkContext._jsc.sc()
    start = jsc.newRddId()
    held = []
    gc.disable()
    try:
        for depth, ceiling in depths:
            first = jsc.newRddId()
            jobs, _ = count_jobs(lambda: call(spark, depth).collect())
            held.append(len(_stored(jsc, first)))
            assert jobs <= ceiling, (depth, jobs)
        stored = _stored(jsc, start)
    finally:
        gc.enable()
    assert held[0] == held[1] <= 1, held
    assert stored == _held(start) and len(stored) == 1, stored


# op -> (call(spark), held frames a collected call leaves)
RESULTS = {
    # the verdict ids and the components round they join
    "semantic_dedup": (
        lambda spark: semantic_dedup(
            spark.createDataFrame(
                [(0, [1.0, 0.0]), (1, [1.0, 0.001]), (2, [0.0, 1.0])],
                "vec_id long, embedding array<double>",
            ),
            threshold=0.999, k_clusters=1,
        ),
        2,
    ),
    "triangle_counts": (
        lambda spark: triangle_counts(
            spark.createDataFrame(
                [(a, b) for a in range(5) for b in range(a + 1, 5)],
                "s long, d long",
            ),
            "s", "d", pivot_chunks=2,
        ),
        1,
    ),
}


@pytest.mark.parametrize("op", list(RESULTS))
def test_results_read_only_held_rounds(spark, op):
    """The checkpoints a returned frame reads are held, not left for
    GC: after two collected calls (GC off) the only blocks stored are
    the held frames of the last call."""
    call, n = RESULTS[op]
    jsc = spark.sparkContext._jsc.sc()
    start = jsc.newRddId()
    gc.disable()
    try:
        for _ in range(2):
            call(spark).collect()
        stored = _stored(jsc, start)
    finally:
        gc.enable()
    assert stored == _held(start) and len(stored) == n, stored


def test_settle_logs_one_record_per_round(spark, caplog):
    caplog.set_level(logging.INFO, logger=cacheutil.__name__)
    connected_components(_chain(spark, 6)).collect()
    rounds = [
        json.loads(r.getMessage())
        for r in caplog.records
        if r.name == cacheutil.__name__
    ]
    assert [r["round"] for r in rounds] == list(range(1, 8))
    assert {r["loop"] for r in rounds} == {"components"}
    assert rounds[-1]["n"] == 0 and all(r["n"] > 0 for r in rounds[:-1])


def test_release_frees_cached_and_checkpointed_blocks(spark):
    jsc = spark.sparkContext._jsc.sc()

    def held(first):
        return [i.id() for i in jsc.getRDDStorageInfo() if i.id() > first]

    first = jsc.newRddId()
    ckpt = cacheutil.truncate(spark.range(50).selectExpr("id % 7 AS k"))
    assert held(first)
    ckpt.unpersist()  # a no-op on a checkpoint: its RDD is not cached
    assert held(first)
    cacheutil.release(ckpt)
    assert not held(first)

    cached = spark.range(50).persist()
    assert cached.count() == 50
    cacheutil.release(cached)
    assert not cached.is_cached
