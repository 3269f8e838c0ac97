"""One-to-one assignment operators (operators/assignment.py):
differential property tests against the pure-Python SEQUENTIAL greedy
model — the equivalence the module's fixpoint construction claims —
plus determinism and constraint checks."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from resolve_spark.operators.assignment import (
    greedy_one_to_one,
    mutual_best_pairs,
)
from resolve_spark.operators.budgets import BUDGETS


def sequential_greedy(edges):
    """The classical model: scan edges in (score desc, id_a, id_b)
    order; accept when both endpoints are free."""
    taken_a, taken_b, out = set(), set(), []
    for a, b, s in sorted(edges, key=lambda e: (-e[2], e[0], e[1])):
        if a not in taken_a and b not in taken_b:
            taken_a.add(a)
            taken_b.add(b)
            out.append((a, b))
    return set(out)


edge_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=12),   # id_a
        st.integers(min_value=100, max_value=112),  # id_b
        st.integers(min_value=0, max_value=20),   # score (ties likely)
    ),
    min_size=1,
    max_size=60,
)


@pytest.mark.slow
@given(edges=edge_strategy)
@settings(max_examples=20, deadline=None)
def test_greedy_one_to_one_matches_sequential_model(spark, edges):
    # duplicates (a, b, s) and (a, b, s') allowed on purpose: the
    # operator collapses to max score, so mirror that in the model
    best = {}
    for a, b, s in edges:
        best[(a, b)] = max(best.get((a, b), -1), s)
    model = sequential_greedy([(a, b, s) for (a, b), s in best.items()])

    df = spark.createDataFrame(edges, "id_a long, id_b long, score long")
    got = {
        (r["id_a"], r["id_b"])
        for r in greedy_one_to_one(df, score_col="score").collect()
    }
    assert got == model, (sorted(got), sorted(model))


def test_mutual_best_hand_case(spark):
    # a1's best is b1 (9) and b1's best is a1 -> accepted.
    # a2's best is b1 (8) but b1 prefers a1 -> a2 unmatched in round 1;
    # a2-b2 (3) survives to the greedy fixpoint but is NOT mutual-best
    # round 1 because a2 still prefers b1.
    edges = [(1, 1, 9.0), (2, 1, 8.0), (2, 2, 3.0)]
    df = spark.createDataFrame(edges, "id_a long, id_b long, score double")
    mb = {(r["id_a"], r["id_b"]) for r in mutual_best_pairs(df).collect()}
    assert mb == {(1, 1)}
    full = {(r["id_a"], r["id_b"]) for r in greedy_one_to_one(df).collect()}
    assert full == {(1, 1), (2, 2)}


def test_exact_max_rounds_chain_succeeds(spark, monkeypatch):
    """A score-sorted chain accepts exactly ONE edge per round; a chain
    needing exactly max_rounds productive rounds must SUCCEED (the
    for-else previously required an extra empty round to break, so the
    effective capacity was max_rounds-1 and a completed matching raised
    'did not converge')."""
    chain = [(1, 1, 100), (2, 1, 99), (2, 2, 98), (3, 2, 97), (3, 3, 96)]
    df = spark.createDataFrame(chain, "id_a long, id_b long, score long")
    got = {
        (r["id_a"], r["id_b"])
        for r in greedy_one_to_one(df, max_rounds=3).collect()
    }
    assert got == {(1, 1), (2, 2), (3, 3)}
    # and a genuinely insufficient budget still fails loud (the
    # max_rounds contract belongs to the distributed fixpoint; the r7
    # single-scan path always converges, so force the fixpoint here)
    monkeypatch.setitem(BUDGETS, "greedy_sequential_pairs", 0)
    with pytest.raises(RuntimeError, match="did not converge"):
        greedy_one_to_one(df, max_rounds=2).collect()


def test_one_to_one_constraint_and_determinism(spark):
    import random

    rng = random.Random(11)
    edges = [
        (rng.randrange(40), 1000 + rng.randrange(40), rng.randrange(1000))
        for _ in range(300)
    ]
    df = spark.createDataFrame(edges, "id_a long, id_b long, score long")
    r1 = sorted(
        (r["id_a"], r["id_b"]) for r in greedy_one_to_one(df).collect()
    )
    r2 = sorted(
        (r["id_a"], r["id_b"])
        for r in greedy_one_to_one(df.repartition(13)).collect()
    )
    assert r1 == r2
    assert len({a for a, _ in r1}) == len(r1)  # each id_a once
    assert len({b for _, b in r1}) == len(r1)  # each id_b once
    # maximality: no remaining pair has both endpoints free
    ta = {a for a, _ in r1}
    tb = {b for _, b in r1}
    assert all(a in ta or b in tb for a, b, _ in edges)