"""E86 mergeable quantile sketch: deterministic bottom-k ticket sample.

Pins the two contracts the operator sells: (1) the sample is the
exact bottom-k by the engine-portable md5 ticket (verified against an
independent Python md5 reimplementation, which also exercises the
HLL-cut prefilter's "exact result anyway" claim); (2) quantile
estimates off the sample stay within the sampling error bound.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from kinesis_vcr_spark.operators.quantiles import (
    quantile_from_sketch,
    quantile_sketch,
)

SEED = "t-qsk"


def _py_ticket(seed: str, *parts) -> str:
    s = "\x1f".join([seed] + [str(p) for p in parts])
    return hashlib.md5(s.encode()).hexdigest()[:8]


def _fixture(spark, n=3000, groups=2):
    rows = [("g%d" % (i % groups), i, float((i * 37) % 1000)) for i in range(n)]
    return spark.createDataFrame(rows, "grp string, id long, v double")


def test_sketch_is_exact_bottom_k_by_ticket(spark):
    df = _fixture(spark, n=3000, groups=2)
    k = 64
    got = {
        r["grp"]: [(s["t"], s["v"]) for s in r["qs"]]
        for r in quantile_sketch(
            df, ["grp"], "v", ["id"], k=k, seed=SEED
        ).collect()
    }
    rows = df.collect()
    for g in ("g0", "g1"):
        expect = sorted(
            (_py_ticket(SEED, r["id"]), r["v"])
            for r in rows
            if r["grp"] == g
        )[:k]
        assert got[g] == expect


def test_quantile_error_bound_and_small_group_exact(spark):
    # one big group (sampled) + one small group (n < k: sample IS the
    # group, estimates are exact)
    n_big, k = 5000, 256
    rows = [("big", i, float(i)) for i in range(n_big)] + [
        ("small", 100000 + i, float(i)) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "grp string, id long, v double")
    sk = quantile_sketch(df, ["grp"], "v", ["id"], k=k, seed=SEED)
    probes = (0.25, 0.5, 0.75, 0.95)
    est = {
        (r["grp"], r["q"]): r["e"]
        for q in probes
        for r in sk.select(
            "grp",
            F.lit(q).alias("q"),
            quantile_from_sketch(F.col("qs"), q).alias("e"),
        ).collect()
    }
    for q in probes:
        # big group: values are 0..n-1, so rank error == value error / n
        err = abs(est[("big", q)] / n_big - q)
        bound = 4.0 * math.sqrt(q * (1 - q) / k) + 2.0 / k
        assert err <= bound, (q, est[("big", q)], bound)
        # small group: exact discrete quantile of 0..49
        expect = float(max(1, math.ceil(q * 50)) - 1)
        assert est[("small", q)] == expect
