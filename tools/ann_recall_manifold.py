"""recall@5 of every approximate searcher on the planted clustered
MANIFOLD (queries/similarity.py::_manifold) vs exact brute force.

The r9/r10 PQ recall number (0.725) was measured on the near-random
fixture — PQ's adversarial case, where sub-quantizers can't exploit
structure. Real embedding spaces cluster; this tool measures the same
operators, at the same production-shaped settings as their *_topk
registry rows, on the planted manifold derived from the fixture —
the realistic-recall pins BASELINE cites (VERDICT r10 item 6).

Usage:  python tools/ann_recall_manifold.py [sf_dir]
        (default /root/testdata/sf0.1; the BASELINE pin runs sf1.0)

Prints one JSON line: {"sf_dir": ..., "n_corpus": N, "recall@5":
{"lsh": r, "ivf": r, "pq": r, "ivfpq": r}} where recall is averaged
over the MAN_PROBES probe queries against exact cosine top-5.
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _pairs(rows):
    by_q = defaultdict(set)
    for r in rows:
        by_q[r["query_id"]].add(r["vec_id"])
    return by_q


def _recall(exact, approx):
    per = [
        len(exact[q] & approx.get(q, set())) / len(exact[q])
        for q in exact
    ]
    return round(sum(per) / len(per), 4)


def _cluster_recall(approx, man_k: int):
    """Fraction of returned neighbors in the probe's true planted
    cluster — what ANN retrieval is FOR. Strict recall additionally
    demands the exact within-cluster fine ranking, which quantizers
    (PQ/IVF-PQ) deliberately erase inside a tight blob: their codes
    collapse, ADC can't order ~identical vectors, and strict recall
    craters while every returned row is still a correct cluster mate."""
    per = []
    for q, vids in approx.items():
        if not vids:
            continue
        c = q % man_k
        per.append(sum(1 for v in vids if v % man_k == c) / len(vids))
    return round(sum(per) / len(per), 4)


def main() -> None:
    from kinesis_vcr_spark.operators.ivf import ivf_topk
    from kinesis_vcr_spark.operators.ivfpq import build_ivfpq, ivfpq_topk
    from kinesis_vcr_spark.operators.pq import (
        pq_adc_topk,
        pq_encode_table,
        train_pq,
    )
    from kinesis_vcr_spark.operators.similarity import ann_topk, cosine_topk
    from kinesis_vcr_spark.queries.similarity import (
        MAN_K,
        MAN_TOP_K,
        _manifold,
    )
    from kinesis_vcr_spark.session import get_spark
    from kinesis_vcr_spark.tables import load_table

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("ann_recall_manifold")
    corpus, probes, _ = _manifold(load_table(spark, sf_dir, "embeddings"))
    corpus = corpus.persist()
    n = corpus.count()

    exact = _pairs(cosine_topk(corpus, probes, k=MAN_TOP_K).collect())

    approx = {}
    approx["lsh"] = _pairs(
        ann_topk(corpus, probes, k=MAN_TOP_K, planes=32, bands=8).collect()
    )
    approx["ivf"] = _pairs(
        ivf_topk(
            corpus, probes, k=MAN_TOP_K, k_centroids=16, nprobe=6
        ).collect()
    )
    cb = train_pq(corpus, m=32, ksub=32, refine_iterations=1)
    codes = pq_encode_table(corpus, cb)
    approx["pq"] = _pairs(
        pq_adc_topk(codes, probes, cb, k=MAN_TOP_K).collect()
    )
    # exact shortlist re-rank (r12): 1.5x expected cluster size, the
    # registry row's sizing — strict recall must be restored to 1.0
    # (the FAISS-refine second stage; VERDICT r11 item 1)
    from kinesis_vcr_spark.queries.similarity import (
        PQ_RERANK_CLUSTER_FACTOR,
    )

    r_short = max(
        4 * MAN_TOP_K, int(PQ_RERANK_CLUSTER_FACTOR * n / MAN_K) + 1
    )
    approx["pq_rerank"] = _pairs(
        pq_adc_topk(
            codes, probes, cb, k=MAN_TOP_K,
            rerank_vectors=corpus, shortlist=r_short, exclude_self=True,
        ).collect()
    )
    centroids, icb, icodes = build_ivfpq(
        corpus, k_centroids=8, m=32, ksub=32, refine_iterations=1
    )
    approx["ivfpq"] = _pairs(
        ivfpq_topk(
            icodes, centroids, icb, probes, k=MAN_TOP_K, nprobe=2
        ).collect()
    )
    approx["ivfpq_rerank"] = _pairs(
        ivfpq_topk(
            icodes, centroids, icb, probes, k=MAN_TOP_K, nprobe=2,
            rerank_vectors=corpus, shortlist=r_short, exclude_self=True,
        ).collect()
    )
    print(json.dumps({
        "sf_dir": sf_dir,
        "n_corpus": n,
        "recall@5": {m: _recall(exact, a) for m, a in approx.items()},
        "cluster_recall@5": {
            m: _cluster_recall(a, MAN_K) for m, a in approx.items()
        },
    }))


if __name__ == "__main__":
    main()
