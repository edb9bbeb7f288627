"""Connected components: the Spark operator
(``connected_components_minlabel``) and the DuckDB oracle
(``plans/queries.py::_cc_sql``) must both agree with a plain
union-find reference, and the operator must converge in few rounds on
the long chains that starve plain label propagation."""

from __future__ import annotations

import math
import random

import duckdb
import pytest

from eugl_spark.operators import graph
from eugl_spark.operators.graph import connected_components_minlabel
from eugl_spark.plans.queries import _CC_KEEP_SQL, _cc_sql

# the parameter id names the implementation under test
_SPARK_CC = pytest.mark.parametrize("fn", [connected_components_minlabel])


def _union_find(pairs: list[tuple]) -> dict:
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _random_pairs(seed: int, n: int = 60, m: int = 40) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    return [(a, b) for a, b in pairs if a != b]


def _run(spark, fn, pairs):
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = fn(df).collect()
    return {r["doc_id"]: r["cluster"] for r in got}, {
        r["doc_id"] for r in got if r["keep"]
    }


@pytest.mark.parametrize("seed", [0, 1, 2])
@_SPARK_CC
def test_cc_matches_union_find_on_random_graphs(spark, fn, seed):
    pairs = _random_pairs(seed)
    want = _union_find(pairs)
    got, keepers = _run(spark, fn, pairs)
    assert got == want
    assert keepers == {r for r in want.values()}


@_SPARK_CC
def test_cc_long_chain(spark, fn):
    """A 120-node path: one component, min label 0."""
    pairs = [(i, i + 1) for i in range(120)]
    got, keepers = _run(spark, fn, pairs)
    assert set(got.values()) == {0}
    assert keepers == {0}


def test_cc_chain_rounds_are_logarithmic(spark, monkeypatch):
    """Pointer-jumping keeps a 2,000-node chain to O(log n) rounds:
    every round is one checkpoint, and the count, including the pairs
    and init checkpoints, stays within 2·⌈log2 n⌉ + 3. Plain min-label
    propagation needs a round per two hops (~1,000 here), so the
    counting wrapper raises as soon as the bound is passed instead of
    letting such a loop run on."""
    n = 2000
    bound = 2 * math.ceil(math.log2(n)) + 3
    calls = []
    real = graph.checkpoint_df

    def counting(df):
        calls.append(1)
        if len(calls) > bound:
            raise AssertionError(f"more than {bound} checkpoints for a {n}-node chain")
        return real(df)

    monkeypatch.setattr(graph, "checkpoint_df", counting)
    pairs = [(i + 1, i) if i % 2 else (i, i + 1) for i in range(n)]
    got, keepers = _run(spark, connected_components_minlabel, pairs)
    assert len(got) == n + 1 and set(got.values()) == {0}
    assert keepers == {0}


def test_cc_pairs_with_inferred_constraints(spark):
    """Pairs produced by a join carry inferred constraints (isnotnull,
    doc_a < doc_b) into the checkpointed frames, as the ANN pair
    producer's do. Several rounds over such a frame must still plan:
    a pointer-jump that self-joins the superstep's union plan fails
    there with NoSuchElementException in Union constraint rewriting."""
    from pyspark.sql import functions as F

    pairs = [(i, i + 1) for i in range(40)] + [(100, 101)]
    ids = spark.createDataFrame([(i,) for i in range(200)], "id long")
    df = (
        spark.createDataFrame(pairs, "doc_a long, doc_b long")
        .join(ids.withColumnRenamed("id", "doc_a"), "doc_a")
        .join(ids.withColumnRenamed("id", "doc_b"), "doc_b")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    got = {r["doc_id"]: r["cluster"] for r in connected_components_minlabel(df).collect()}
    assert got == _union_find(pairs)


def test_cc_disjoint_components_match_union_find(spark):
    pairs = (
        [(i, i + 1) for i in range(0, 10)]          # chain 0..10
        + [(100 + i, 100 + (i + 1) % 5) for i in range(5)]  # cycle
        + [(200, 201), (203, 202), (201, 203)]      # zigzag
    )
    got, _ = _run(spark, connected_components_minlabel, pairs)
    assert got == _union_find(pairs)


def test_cc_keeps_self_pair_only_nodes(spark):
    """A doc appearing only in self-pairs has no edges but IS a node:
    it is emitted as a singleton cluster."""
    got, keepers = _run(spark, connected_components_minlabel, [(5, 5), (1, 2)])
    assert got == {5: 5, 1: 1, 2: 1}
    assert keepers == {5, 1}


@_SPARK_CC
def test_cc_near_max_long_ids_no_ansi_overflow(spark, fn):
    """Hash-derived doc_ids are 63-bit; the fixpoint label-sum must not
    abort with ARITHMETIC_OVERFLOW under ANSI when summing them
    (decimal sums). Two ids near 2^62 summed as long overflow."""
    big = 1 << 62
    pairs = [(big + 1, big + 2), (big + 3, big + 4), (big + 2, big + 3),
             (big + 10, big + 11)]
    got, _ = _run(spark, fn, pairs)
    assert got == _union_find(pairs)


# --- the DuckDB oracle: _cc_sql / _CC_KEEP_SQL -------------------------


def _sql_cc(pairs: list[tuple], id_type: str = "BIGINT") -> dict:
    con = duckdb.connect()
    try:
        con.execute(f"CREATE TABLE p (a {id_type}, b {id_type})")
        if pairs:
            con.executemany("INSERT INTO p VALUES (?, ?)", pairs)
        rows = con.execute(
            "WITH RECURSIVE " + _cc_sql("p", "a", "b") + " " + _CC_KEEP_SQL
        ).fetchall()
    finally:
        con.close()
    got = {doc: cluster for doc, cluster, _ in rows}
    assert len(got) == len(rows)  # one row per node
    assert {doc for doc, _, keep in rows if keep} == set(got.values())
    return got


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_cc_sql_matches_union_find_on_random_graphs(seed):
    pairs = _random_pairs(seed, n=300, m=250)
    assert _sql_cc(pairs) == _union_find(pairs)


def test_cc_sql_chain():
    """The SQL oracle is plain propagation, O(diameter) iterations, so
    its chain stays short."""
    pairs = [(i + 1, i) if i % 3 else (i, i + 1) for i in range(200)]
    assert _sql_cc(pairs) == _union_find(pairs)


def test_cc_sql_star():
    pairs = [(7, 1000 + i) for i in range(500)]
    assert _sql_cc(pairs) == _union_find(pairs)


def test_cc_sql_self_pair_only_nodes():
    assert _sql_cc([(5, 5), (2, 1), (9, 9), (9, 9)]) == {5: 5, 1: 1, 2: 1, 9: 9}


def test_cc_sql_string_ids():
    """Host strings, as graph_components_hosts feeds the oracle: the
    representative is the lexicographic minimum."""
    pairs = [("b.example", "a.example"), ("c.example", "b.example"),
             ("z.example", "y.example"), ("m.example", "m.example")]
    got = _sql_cc(pairs, "VARCHAR")
    assert got == _union_find(pairs)
    assert got["c.example"] == "a.example"


def test_cc_sql_empty_relation():
    assert _sql_cc([]) == {}
