"""Focused pins for round-7 optimization rewrites.

Each test targets an internals change whose equivalence argument is
structural (same math, different plan) and pins it against the
formulation it replaced — so a later edit can't silently break the
equivalence the optimization relies on.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from tests.conftest import *  # noqa: F401,F403 — spark fixture


def test_native_minhash_matches_kernel(spark):
    """with_minhash_sig (JVM md5/array_min) must reproduce the Arrow
    kernel's signatures value-for-value — including md5 high-bit
    values, 1-element arrays and unicode shingles."""
    from eugl_spark.models.signatures import minhash_batch, with_minhash_sig

    rng = random.Random(7)
    words = ["alpha", "beta", "Ω", "naïve", "x" * 30, "1", ""]
    rows = []
    for i in range(200):
        n = rng.randint(1, 12)
        sh = list(
            {" ".join(rng.choices(words, k=3)) for _ in range(n)}
        )
        rows.append((i, sh))
    df = spark.createDataFrame(rows, "doc_id long, sh array<string>")
    got = {
        r["doc_id"]: (r["mh0"], r["mh1"], r["mh2"], r["mh3"])
        for r in with_minhash_sig(df).drop("sh").collect()
    }
    import pandas as pd

    ref = minhash_batch(pd.Series([sh for _, sh in rows]))
    for (i, _), (_, r) in zip(rows, ref.iterrows()):
        assert got[i] == (r["mh0"], r["mh1"], r["mh2"], r["mh3"]), i


def test_round6_half_up_matches_f_round(spark):
    """_lc_train's driver-side weight rounding must equal F.round —
    including ties at the 6dp boundary and negative values."""
    from eugl_spark.plans.queries import _round6_half_up

    rng = random.Random(13)
    vals = [rng.uniform(-10, 10) for _ in range(300)]
    vals += [0.0000005, -0.0000005, 1.0000015, -1.0000025, 2.5e-7]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    expect = [r["r"] for r in df.select(F.round("v", 6).alias("r")).collect()]
    got = [_round6_half_up(v) for v in vals]
    assert got == expect


def test_datasheet_stats_match_percentile_aggregate(spark):
    """The two-phase order-statistic percentiles must be bit-identical
    to F.percentile on the same population — nulls, single-value and
    all-null groups included."""
    from eugl_spark.plans.queries import _datasheet_stats

    rng = random.Random(29)
    rows = []
    for lang, n in (("en", 533), ("de", 47), ("zz", 1), ("xx", 3)):
        for _ in range(n):
            v = None if rng.random() < 0.07 else rng.randint(0, 9000)
            rows.append((lang, v))
    rows += [("nn", None), ("nn", None)]  # all-null group
    d = spark.createDataFrame(rows, "lang string, n_chars long")
    vc = d.groupBy("lang", "n_chars").agg(F.count("*").alias("cnt"))
    got = {
        r["lang"]: (
            r["n_docs"],
            r["total_chars"],
            r["mean_chars"],
            r["p50_chars"],
            r["p90_chars"],
        )
        for r in _datasheet_stats(vc).collect()
    }
    ref = {
        r["lang"]: (
            r["n_docs"],
            r["total_chars"],
            r["mean_chars"],
            r["p50_chars"],
            r["p90_chars"],
        )
        for r in d.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.round(F.avg("n_chars"), 6).alias("mean_chars"),
            F.round(F.percentile("n_chars", F.lit(0.5)), 6).alias(
                "p50_chars"
            ),
            F.round(F.percentile("n_chars", F.lit(0.9)), 6).alias(
                "p90_chars"
            ),
        )
        .collect()
    }
    assert got == ref


def test_cc_fused_init_handles_self_loops_and_chains(spark):
    """The fused init+first-superstep must agree with a union-find
    reference on self-loop singletons and a chain (the shapes where a
    fused first step could plausibly diverge)."""
    from eugl_spark.operators.graph import connected_components_minlabel
    from tests.test_graph_cc import _union_find

    pairs = [(1, 1), (2, 3), (3, 4), (4, 5), (5, 6), (9, 9), (7, 8)]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    a = {
        (r["doc_id"], r["cluster"], r["keep"])
        for r in connected_components_minlabel(df).collect()
    }
    assert a == {(d, c, d == c) for d, c in _union_find(pairs).items()}
    assert (1, 1, True) in a and (9, 9, True) in a  # self-loop singletons
