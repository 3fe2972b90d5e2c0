"""Selection/curation operators: token_budget_select, shard_assign,
doremi_step, dedup_keep_best, and the temporal rollup query."""

import math

import pytest
from pyspark.sql import functions as F

from discoverx_spark.operators.dedup import dedup_keep_best
from discoverx_spark.operators.sampling import (doremi_step, shard_assign,
                                                token_budget_select)


def test_token_budget_prefix_semantics(spark):
    rows = [(i, float(100 - i), 10 + i) for i in range(10)]
    df = spark.createDataFrame(rows, "id long, score double, cost long")
    out = token_budget_select(df, "id", F.col("score"), F.col("cost"),
                              budget=36)
    got = sorted((r["id"], r["cum_cost"]) for r in out.collect())
    # greedy by score desc: ids 0,1,2 cost 10+11+12=33 <= 36; id 3 -> 46
    assert got == [(0, 10), (1, 21), (2, 33)]


def test_token_budget_boundary_and_empty(spark):
    df = spark.createDataFrame([(1, 5.0, 100)], "id long, score double, cost long")
    assert token_budget_select(df, "id", F.col("score"), F.col("cost"),
                               budget=100).count() == 1
    assert token_budget_select(df, "id", F.col("score"), F.col("cost"),
                               budget=99).count() == 0


def test_token_budget_matches_single_window_oracle(spark):
    import random
    rng = random.Random(3)
    rows = [(i, float(rng.randrange(0, 50)), rng.randrange(1, 30))
            for i in range(200)]
    df = spark.createDataFrame(rows, "id long, score double, cost long")
    out = token_budget_select(df, "id", F.col("score"), F.col("cost"),
                              budget=500)
    got = sorted(r["id"] for r in out.collect())
    # independent oracle: sequential cumsum over the total order
    cum, want = 0, []
    for i, s, c in sorted(rows, key=lambda r: (-r[1], r[0])):
        cum += c
        if cum > 500:
            break
        want.append(i)
    assert got == sorted(want)


def test_shard_assign_deterministic_and_bounded(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    a = shard_assign(df, "doc_id", 8).collect()
    b = shard_assign(df, "doc_id", 8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    shards = {r["shard"] for r in a}
    assert shards <= set(range(8)) and len(shards) > 1
    one = shard_assign(df, "doc_id", 1)
    assert one.select("shard").distinct().collect()[0][0] == 0
    with pytest.raises(ValueError, match="n_shards"):
        shard_assign(df, "doc_id", 0)


def test_doremi_weights_normalize_and_smooth(spark):
    rows = [("a", 8.0), ("a", 9.0), ("b", 5.0), ("c", 5.5)]
    df = spark.createDataFrame(rows, "dom string, loss double")
    weights = {"a": 1.0, "b": 1.0, "c": 1.0}
    out = doremi_step(df, "dom", F.col("loss"), F.lit(6.0), weights,
                      eta=1.0, smoothing=0.0)
    got = {r["dom"]: r for r in out.collect()}
    assert abs(sum(r["weight"] for r in got.values()) - 1.0) < 1e-5
    # only domain a has excess loss -> its weight rises above uniform
    assert got["a"]["weight"] > 1 / 3 > got["b"]["weight"]
    assert got["b"]["excess_loss"] == 0.0
    # full smoothing -> exactly uniform regardless of losses
    uni = doremi_step(df, "dom", F.col("loss"), F.lit(6.0), weights,
                      eta=1.0, smoothing=1.0)
    for r in uni.collect():
        assert abs(r["weight"] - 1 / 3) < 1e-6


def test_doremi_validation(spark):
    df = spark.createDataFrame([("a", 1.0)], "dom string, loss double")
    with pytest.raises(ValueError, match="weights"):
        doremi_step(df, "dom", F.col("loss"), F.lit(0.0), {})
    with pytest.raises(ValueError, match="smoothing"):
        doremi_step(df, "dom", F.col("loss"), F.lit(0.0), {"a": 1.0},
                    smoothing=1.5)


def test_dedup_keep_best_elects_max_score_min_id(spark):
    rows = [(1, "same text", 10), (2, "same text", 30),
            (3, "same  text", 30),          # same fingerprint, tie on 2
            (4, "other", 7), (5, None, 99)]
    df = spark.createDataFrame(rows, "doc_id long, text string, q long")
    out = dedup_keep_best(df, "text", "doc_id", F.col("q"))
    got = {r["id"]: (r["score"], r["dup_count"]) for r in out.collect()}
    # fingerprint normalizes whitespace: docs 1,2,3 form one group;
    # max score 30, tie between ids 2 and 3 -> min id 2 survives
    assert set(got) == {2, 4}
    assert got[2] == (30, 3)
    assert got[4] == (7, 1)


def test_dedup_keep_best_extreme_and_nan_scores(spark):
    """A long score of -2^63 must not overflow the election key under
    ANSI (negating it did), and must still order correctly against its
    neighbours and NULL; a NaN score loses to every number but beats
    NULL."""
    lo, hi = -(1 << 63), (1 << 63) - 1
    rows = [(1, "a", lo), (2, "a", None),            # scored beats NULL
            (3, "b", lo), (4, "b", lo + 1),          # -2^63 + 1 wins
            (5, "c", hi), (6, "c", 0), (7, "c", lo),  # max long wins
            (8, "d", lo), (9, "d", lo)]              # tie: min id
    df = spark.createDataFrame(rows, "doc_id long, text string, q long")
    got = {r["id"]: r["score"]
           for r in dedup_keep_best(df, "text", "doc_id",
                                    F.col("q")).collect()}
    assert got == {1: lo, 4: lo + 1, 5: hi, 8: lo}

    nan = float("nan")
    rows = [(1, "a", nan), (2, "a", 0.5),             # a number beats NaN
            (3, "b", nan), (4, "b", None),            # NaN beats NULL
            (5, "c", float("-inf")), (6, "c", nan)]
    df = spark.createDataFrame(rows, "doc_id long, text string, q double")
    got = {r["id"]: r["score"]
           for r in dedup_keep_best(df, "text", "doc_id",
                                    F.col("q")).collect()}
    assert set(got) == {2, 3, 5}
    assert got[2] == 0.5 and math.isnan(got[3]) and got[5] == float("-inf")


def test_doremi_absent_domain_keeps_prior_mass(spark):
    df = spark.createDataFrame([("a", 8.0), ("b", 5.0)],
                               "dom string, loss double")
    out = doremi_step(df, "dom", F.col("loss"), F.lit(6.0),
                      {"a": 1.0, "b": 1.0, "c": 1.0}, eta=1.0,
                      smoothing=0.0)
    got = {r["dom"]: r for r in out.collect()}
    assert set(got) == {"a", "b", "c"}        # c has no rows but stays
    assert got["c"]["n_units"] == 0 and got["c"]["excess_loss"] == 0.0
    assert abs(sum(r["weight"] for r in got.values()) - 1.0) < 1e-5
    # zero-excess domains share the same weight; a's excess raises it
    assert got["b"]["weight"] == got["c"]["weight"] < got["a"]["weight"]


def test_dedup_keep_best_string_ids(spark):
    """ADVICE r5: a non-numeric id must work — the old -id tie-break
    cast string ids to NULL and the join-back silently returned an
    empty frame.  Max score wins, ties keep the lexicographically
    smallest id, NULL scores lose to scored rows."""
    from pyspark.sql import functions as F

    from discoverx_spark.operators.dedup import dedup_keep_best

    rows = [("conv-b", "same text", 5), ("conv-a", "same text", 5),
            ("conv-c", "same text", 9), ("conv-d", "other text", None),
            ("conv-e", "other text", 1)]
    df = spark.createDataFrame(rows, "cid: string, text: string, q: int")
    out = dedup_keep_best(df, "text", "cid", F.col("q")).collect()
    got = {r["id"]: (r["score"], r["dup_count"]) for r in out}
    assert got == {"conv-c": (9, 3), "conv-e": (1, 2)}
