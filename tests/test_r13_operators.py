"""Round-13 (optimization round 2) tests: guards for the operator internals
the r13 optimizations changed — the Observation-fused connected-components
convergence probe and its read deadline, and the knn recall floors."""

import logging

import pytest
from pyspark.sql import Observation, Window
from pyspark.sql import functions as F

from mysql_data_anonymizer_spark import queries as Q
from mysql_data_anonymizer_spark.operators import dedup, itemsets


# ---------------------------------------------------------------------------
# connected_components — r13 fuses the per-round convergence probe into the
# checkpoint materialization as an Observation (one Spark job per round
# instead of checkpoint + a separate limit(1) probe job). The regression
# risks are (a) the Observation never firing / firing with the wrong count,
# which would exhaust max_iter and log the partial-labels warning on every
# call, and (b) the fused predicate diverging from the old probe's
# (component < __old). Guard both: a multi-round graph must converge with
# NO exhaustion warning and produce exact min-labels.
# ---------------------------------------------------------------------------
def test_cc_observation_convergence_detection(spark, caplog):
    # 12-node path (needs several propagation rounds) + island pair
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)] + [(100, 101)], "id_a long, id_b long"
    )
    with caplog.at_level(logging.WARNING):
        out = {
            r.node: r.component
            for r in dedup.connected_components(edges, max_iter=20).collect()
        }
    expect = {i: 0 for i in range(13)}
    expect.update({100: 100, 101: 100})
    assert out == expect
    assert not [
        r for r in caplog.records if "max_iter" in r.getMessage()
    ], "convergence Observation failed to stop the loop before max_iter"


# ---------------------------------------------------------------------------
# _KNN_RECALL_FLOORS is the only place a knn recall floor is written: raising
# one method's floor above the 25 true pairs (and above 5 per query) must
# turn every recall_ok of each query gated on that method False.
# ---------------------------------------------------------------------------
@pytest.mark.parametrize(
    "query,method",
    [
        ("knn_lsh", "lsh"),
        ("knn_ivf", "ivf"),
        ("knn_pq", "pq"),
        ("knn_sq8", "sq8"),
        ("knn_ivfpq", "ivfpq"),
        ("knn_ivf_indexed", "ivf"),
        ("knn_ivf_kmeans_indexed", "ivf_kmeans"),
        ("knn_ivf_kmeans_append", "ivf_kmeans"),
    ],
)
def test_knn_floor_drift_turns_recall_ok_false(spark, sf_dir, monkeypatch, query, method):
    monkeypatch.setitem(Q._KNN_RECALL_FLOORS, method, 30)
    rows = Q.QUERIES[query](spark, sf_dir).collect()
    assert len(rows) == 25
    assert {r["recall_ok"] for r in rows} == {False}


# ---------------------------------------------------------------------------
# Observation deadline: an observation whose action never runs must raise
# TimeoutError naming its reader instead of blocking in Observation.get.
# ---------------------------------------------------------------------------
def test_observed_metrics_raises_instead_of_hanging(spark, monkeypatch):
    from mysql_data_anonymizer_spark import session

    obs = Observation()
    df = spark.range(3).observe(obs, F.count(F.lit(1)).alias("n"))  # no action
    monkeypatch.setattr(session, "OBSERVATION_TIMEOUT_S", 1.0)
    with pytest.raises(TimeoutError, match="stalled loop"):
        session.observed_metrics(obs, "stalled loop")
    df.collect()
    assert session.observed_metrics(obs, "stalled loop") == {"n": 3}


# ---------------------------------------------------------------------------
# frequent_pairs giant-basket bound (r12 verdict item 3 / r13 item 7): the
# posting-list rewrite collects the per-basket item set BEFORE the cap
# slices it, so one pathological bot basket holds O(basket) heap in the agg
# buffer. Prove the documented claim on a skewed corpus — a 50k-item bot
# basket among normal baskets — by (a) completing without error and (b)
# emitting EXACTLY the rows of the old row_number-window formulation (the
# pre-r12 shape), which spills via sort instead of buffering.
# ---------------------------------------------------------------------------
def test_frequent_pairs_giant_basket_bounded(spark):
    n_bot, cap, min_support = 50_000, 50, 2
    # TWO bot-twin baskets sharing the same 50k items: every item meets
    # min_support, so a-priori pruning drops NOTHING and the per-basket
    # collect_set buffer really holds all 50k items before the cap slices
    # it (a lone bot basket's unique items would be pruned first and never
    # stress the buffer)
    df = spark.range(n_bot).select(
        F.explode(F.array(F.lit(0), F.lit(1))).alias("bk"),
        F.col("id").alias("it"),
    ).select(F.col("bk").cast("long").alias("bk"), "it")
    out = {
        (r["item_1"], r["item_2"], r["support"])
        for r in itemsets.frequent_pairs(
            df, "bk", "it", min_support=min_support, max_basket=cap
        ).collect()
    }
    # reference: the old windowed cap (row_number over orderBy it) + self-join
    items = df.distinct()
    freq = (
        items.groupBy("it").agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= min_support).select("it")
    )
    pruned = items.join(freq, "it", "left_semi")
    w = Window.partitionBy("bk").orderBy("it")
    capped = pruned.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= cap
    ).drop("rn")
    a = capped.select(F.col("bk"), F.col("it").alias("item_1"))
    b = capped.select(F.col("bk"), F.col("it").alias("item_2"))
    ref = {
        (r["item_1"], r["item_2"], r["support"])
        for r in a.join(b, "bk")
        .where(F.col("item_1") < F.col("item_2"))
        .groupBy("item_1", "item_2")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= min_support)
        .collect()
    }
    assert out == ref and len(out) > 0
