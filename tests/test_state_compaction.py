"""Round-7 state hardening: crash-window replay safety for the
streaming state tables (ADVICE r06) and offline compaction of the
ingest-scoped parquet layouts (VERDICT r06 item 6).

The crash tests simulate the exact window the ADVICE items name — the
batch's state write committed but the progress watermark not yet
bumped — by hand-planting the half-committed scope and then letting
the checkpoint replay the batch."""

from __future__ import annotations

import os

from pyspark.sql import Row
from pyspark.sql import functions as F

from kinesis_vcr_spark.operators.dedup import near_dup_pairs_minhash
from kinesis_vcr_spark.operators.dedup_index import (
    build_near_dup_index,
    compact_near_dup_index,
    load_near_dup_index,
    near_dup_against_index,
)
from kinesis_vcr_spark.operators.triangles import (
    _simple_undirected,
    triangles,
)
from kinesis_vcr_spark.streaming import ingest
from kinesis_vcr_spark.streaming.graph import compact_edge_state, triangle_step
from kinesis_vcr_spark.streaming.neardup import neardup_step

# ---------------------------------------------------------------------------
# rigs
# ---------------------------------------------------------------------------


def _edges(spark, pairs):
    return spark.createDataFrame([Row(a=a, b=b) for a, b in pairs])


def _write_chunk(spark, pairs, path):
    _edges(spark, pairs).coalesce(1).write.parquet(path)


def _run_triangles(spark, src, state, ckpt):
    stream = (
        spark.readStream.schema("a long, b long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = ingest.start(
        stream, ckpt, state, triangle_step(state, src_col="a", dst_col="b")
    )
    q.awaitTermination(300)


KW = dict(shingle_size=3, num_hashes=64, bands=16, char_ngrams=False)
THRESHOLD = 0.6

# two clone families split across the two batches: 12-word docs whose
# edited twins keep word-shingle Jaccard above the threshold
_BASE_A = "the quick brown fox jumps over the lazy dog near the old barn"
_BASE_B = "rain falls softly on the quiet village roofs while children sleep inside"
DOCS_B0 = [
    (1, _BASE_A),
    (2, _BASE_A.replace("lazy", "sleepy")),
    (3, _BASE_B),
    (4, "completely unrelated text about compilers and register allocation"),
]
DOCS_B1 = [
    (11, _BASE_A.replace("barn", "mill")),
    (12, _BASE_B.replace("quiet", "small")),
    (13, "another unrelated document discussing tidal patterns and moons"),
]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _run_neardup(spark, src, state, ckpt, pairs):
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = ingest.start(stream, ckpt, state, neardup_step(
        state, pairs, id_col="doc_id", text_col="text",
        threshold=THRESHOLD, band_member_cap=None, **KW,
    ))
    q.awaitTermination(300)


def _pairs_rows(spark, pairs_path):
    return [
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in spark.read.parquet(pairs_path)
        .select("id_a", "id_b", "jaccard")
        .collect()
    ]


# ---------------------------------------------------------------------------
# crash-window replay (ADVICE r06 items 1 and 3)
# ---------------------------------------------------------------------------


def test_triangle_replay_after_partial_edge_commit(spark, tmp_path):
    """Crash after the batch's edge write but before the progress bump:
    the replayed batch must NOT see its own edges in `old` (which would
    make fresh=∅ and silently lose the delta forever)."""
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    _write_chunk(spark, [(1, 2), (2, 3)], f"{src}/f0.parquet")
    _run_triangles(spark, src, state, ckpt)
    assert ingest.read_progress(state)["triangles"] == 0

    # simulate the crashed batch 1: its edges landed, progress did not
    batch1 = [(1, 3), (3, 4)]
    _simple_undirected(_edges(spark, batch1), "a", "b").write.mode(
        "overwrite"
    ).parquet(f"{state}/edges/ingest=b1")

    _write_chunk(spark, batch1, f"{src}/f1.parquet")
    _run_triangles(spark, src, state, ckpt)
    expected = triangles(
        _edges(spark, [(1, 2), (2, 3)] + batch1), "a", "b"
    ).count()
    assert expected == 1
    assert ingest.read_progress(state)["triangles"] == expected


def test_neardup_replay_after_partial_index_append(spark, tmp_path):
    """Crash after the index append but before the progress bump: the
    replayed batch must probe WITHOUT its own half-committed documents,
    or every pair it participates in is verified against a doubled
    shingle set and emitted in duplicate."""
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    pairs = str(tmp_path / "pairs")
    b0, b1 = _docs(spark, DOCS_B0), _docs(spark, DOCS_B1)

    _docs(spark, DOCS_B0).coalesce(1).write.parquet(f"{src}/f0.parquet")
    _run_neardup(spark, src, state, ckpt, pairs)
    assert ingest.read_progress(state)["last_batch_id"] == 0

    # simulate the crashed batch 1: pairs scope + index append landed
    # (some with garbage rows to prove the scope overwrite), progress
    # was never bumped
    spark.createDataFrame(
        [(999, 1000, 1.0)], "id_a long, id_b long, jaccard double"
    ).write.mode("overwrite").parquet(f"{pairs}/ingest=b1")
    build_near_dup_index(
        b1, f"{state}/index", "doc_id", "text",
        append=True, ingest_label="b1", **KW,
    )

    b1.coalesce(1).write.parquet(f"{src}/f1.parquet")
    _run_neardup(spark, src, state, ckpt, pairs)

    full = b0.unionByName(b1)
    expected = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in near_dup_pairs_minhash(
            full, "doc_id", "text", threshold=THRESHOLD,
            band_member_cap=None, **KW,
        ).collect()
    )
    assert expected, "fixture produced no cross-batch near-dup pairs"
    got = sorted(_pairs_rows(spark, pairs))
    assert got == expected  # exact multiset: no dup rows, no garbage
    assert ingest.read_progress(state)["pairs_emitted"] == len(expected)


# ---------------------------------------------------------------------------
# compaction (VERDICT r06 item 6)
# ---------------------------------------------------------------------------


def test_compact_edge_state_preserves_stream(spark, tmp_path):
    """Drain → compact → keep streaming: the count, the edge content,
    and every later delta are unchanged; the per-batch scopes collapse
    to one."""
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    _write_chunk(spark, [(1, 2), (2, 3)], f"{src}/f0.parquet")
    _write_chunk(spark, [(1, 3), (3, 4)], f"{src}/f1.parquet")
    _run_triangles(spark, src, state, ckpt)
    before = {
        (r.a, r.b) for r in spark.read.parquet(f"{state}/edges").collect()
    }
    count_before = ingest.read_progress(state)["triangles"]
    assert count_before == 1

    compact_edge_state(spark, state)
    scopes = [
        d for d in os.listdir(f"{state}/edges") if d.startswith("ingest=")
    ]
    assert scopes == ["ingest=_compacted"]
    after = {
        (r.a, r.b) for r in spark.read.parquet(f"{state}/edges").collect()
    }
    assert after == before
    assert ingest.read_progress(state)["triangles"] == count_before

    # the stream keeps going against the compacted state
    _write_chunk(spark, [(2, 4)], f"{src}/f2.parquet")
    _run_triangles(spark, src, state, ckpt)
    expected = triangles(
        _edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4), (2, 4)]), "a", "b"
    ).count()
    assert ingest.read_progress(state)["triangles"] == expected


def test_compact_near_dup_index_probe_identical(spark, tmp_path):
    """Build + labeled appends → compact → probe results are
    bit-identical, and later appends still work."""
    idx_path = str(tmp_path / "index")
    b0, b1 = _docs(spark, DOCS_B0), _docs(spark, DOCS_B1)
    build_near_dup_index(b0, idx_path, "doc_id", "text", **KW)
    build_near_dup_index(
        b1, idx_path, "doc_id", "text", append=True, ingest_label="b1", **KW
    )
    probe = _docs(
        spark, [(21, _BASE_A.replace("old", "red")), (22, "nothing similar")]
    )

    def run_probe():
        idx = load_near_dup_index(spark, idx_path)
        return sorted(
            (r.id_a, r.id_b, round(r.jaccard, 9))
            for r in near_dup_against_index(
                probe, idx, "doc_id", "text",
                threshold=THRESHOLD, band_member_cap=None,
            ).collect()
        )

    before = run_probe()
    assert before, "probe found no pairs against the index"
    compact_near_dup_index(spark, idx_path)
    for artifact in ("bands", "shingles"):
        scopes = [
            d
            for d in os.listdir(f"{idx_path}/{artifact}")
            if d.startswith("ingest=")
        ]
        assert scopes == ["ingest=_compacted"], artifact
    assert run_probe() == before

    # appending after compaction keeps working
    build_near_dup_index(
        probe, idx_path, "doc_id", "text", append=True,
        ingest_label="b2", **KW,
    )
    idx = load_near_dup_index(spark, idx_path)
    assert idx.shingles.count() == len(DOCS_B0) + len(DOCS_B1) + 2


# ---------------------------------------------------------------------------
# IVF default-label append accumulates (ADVICE r06 item 2)
# ---------------------------------------------------------------------------


def test_ivf_default_append_accumulates(spark, tmp_path):
    from kinesis_vcr_spark.operators.ivf import (
        append_ivf_index,
        build_ivf_index,
        load_ivf_index,
    )

    def vecs(ids):
        return spark.createDataFrame(
            [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in ids],
            "vec_id long, embedding array<float>",
        )

    path = str(tmp_path / "ivf")
    build_ivf_index(vecs(range(20)), path, k_centroids=4)
    # two DEFAULT-label appends: the second must not erase the first
    append_ivf_index(vecs(range(100, 105)), path)
    append_ivf_index(vecs(range(200, 205)), path)
    _, lists = load_ivf_index(spark, path)
    ids = {r.vec_id for r in lists.select("vec_id").collect()}
    assert ids == set(range(20)) | set(range(100, 105)) | set(range(200, 205))
    # an explicit labeled re-run still overwrites only itself
    append_ivf_index(vecs(range(300, 303)), path, ingest_label="day9")
    append_ivf_index(vecs(range(300, 304)), path, ingest_label="day9")
    _, lists = load_ivf_index(spark, path)
    ids = {r.vec_id for r in lists.select("vec_id").collect()}
    assert set(range(300, 304)) <= ids and len(ids) == 20 + 5 + 5 + 4


def test_compact_neardup_state_preserves_stream(spark, tmp_path):
    """Drain → compact (index scopes + pairs sink) → keep streaming:
    pairs parity with the batch pipeline still holds over the whole
    life of the stream and the progress counters keep accumulating."""
    from kinesis_vcr_spark.streaming.neardup import compact_neardup_state

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    pairs = str(tmp_path / "pairs")
    b0, b1 = _docs(spark, DOCS_B0), _docs(spark, DOCS_B1)
    b0.coalesce(1).write.parquet(f"{src}/f0.parquet")
    b1.coalesce(1).write.parquet(f"{src}/f1.parquet")
    _run_neardup(spark, src, state, ckpt, pairs)
    before = sorted(_pairs_rows(spark, pairs))
    progress_before = ingest.read_progress(state)
    assert before and progress_before["pairs_emitted"] == len(before)

    compact_neardup_state(spark, state, pairs)
    assert sorted(_pairs_rows(spark, pairs)) == before
    assert ingest.read_progress(state) == progress_before

    # stream a late twin batch against the compacted state
    late = _docs(spark, [(31, _BASE_B.replace("inside", "indoors"))])
    late.coalesce(1).write.parquet(f"{src}/f2.parquet")
    _run_neardup(spark, src, state, ckpt, pairs)
    full = b0.unionByName(b1).unionByName(late)
    expected = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in near_dup_pairs_minhash(
            full, "doc_id", "text", threshold=THRESHOLD,
            band_member_cap=None, **KW,
        ).collect()
    )
    assert len(expected) > len(before)
    assert sorted(_pairs_rows(spark, pairs)) == expected


def test_compact_ivf_index_probe_identical(spark, tmp_path):
    """IVF lists compaction: build + appends → compact → top-k results
    bit-identical; appends after compaction still work."""
    from kinesis_vcr_spark.operators.ivf import (
        append_ivf_index,
        build_ivf_index,
        compact_ivf_index,
        ivf_topk_indexed,
        load_ivf_index,
    )

    def vecs(ids):
        return spark.createDataFrame(
            [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in ids],
            "vec_id long, embedding array<float>",
        )

    path = str(tmp_path / "ivf")
    build_ivf_index(vecs(range(30)), path, k_centroids=4)
    append_ivf_index(vecs(range(100, 110)), path, ingest_label="day1")
    queries = vecs(range(500, 503)).withColumnRenamed("vec_id", "query_id")

    def topk():
        return sorted(
            (r.query_id, r.vec_id, r.cosine, r.rank)
            for r in ivf_topk_indexed(
                load_ivf_index(spark, path), queries, k=5, nprobe=2
            ).collect()
        )

    before = topk()
    assert before
    compact_ivf_index(spark, path)
    scopes = [
        d for d in os.listdir(f"{path}/lists") if d.startswith("ingest=")
    ]
    assert scopes == ["ingest=_compacted"]
    assert topk() == before
    append_ivf_index(vecs(range(200, 205)), path, ingest_label="day2")
    _, lists = load_ivf_index(spark, path)
    assert lists.count() == 30 + 10 + 5


def _scoped_state(spark, tmp_path, name):
    path = str(tmp_path / name)
    df = spark.createDataFrame([Row(x=i) for i in range(10)])
    df.where("x < 5").write.parquet(f"{path}/ingest=b0")
    df.where("x >= 5").write.parquet(f"{path}/ingest=b1")
    return path


def test_compact_crash_between_renames_recovers_new_generation(
    spark, tmp_path
):
    """Simulate the exact no-live-dir window (ADVICE r07): old
    generation renamed aside, completed __compacting (with _SUCCESS)
    not yet installed. The next compact_scoped_state call must install
    the new generation and preserve content."""
    import shutil

    path = _scoped_state(spark, tmp_path, "state_a")
    before = {r.x for r in spark.read.parquet(path).collect()}

    # build a COMPLETE new generation exactly as the swap would have
    spark.read.parquet(path).drop("ingest").coalesce(1).write.parquet(
        f"{path}__compacting/ingest=_compacted"
    )
    shutil.move(path, f"{path}__pre_compact")  # crash after rename #1
    assert not os.path.exists(path)

    from kinesis_vcr_spark.operators.compaction import compact_scoped_state

    compact_scoped_state(spark, path)
    assert {r.x for r in spark.read.parquet(path).collect()} == before
    assert os.listdir(path) == ["ingest=_compacted"]
    assert not os.path.exists(f"{path}__pre_compact")
    assert not os.path.exists(f"{path}__compacting")


def test_compact_crash_with_incomplete_tmp_restores_old(spark, tmp_path):
    """If the crash left an INCOMPLETE __compacting (no _SUCCESS), the
    old generation is restored instead."""
    import shutil

    path = _scoped_state(spark, tmp_path, "state_b")
    before = {r.x for r in spark.read.parquet(path).collect()}

    spark.read.parquet(path).drop("ingest").coalesce(1).write.parquet(
        f"{path}__compacting/ingest=_compacted"
    )
    os.remove(f"{path}__compacting/ingest=_compacted/_SUCCESS")
    shutil.move(path, f"{path}__pre_compact")

    from kinesis_vcr_spark.operators.compaction import compact_scoped_state

    compact_scoped_state(spark, path)
    assert {r.x for r in spark.read.parquet(path).collect()} == before
    assert os.listdir(path) == ["ingest=_compacted"]
