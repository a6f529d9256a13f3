"""The probe harness's own pieces on tiny in-memory frames (no timing):
replication, skew injection, the scenario registry and the exact-lever
check."""

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
import tools.scale_sweep as ss
from tools.check_correctness import CONTRACTION_QUERIES


def test_replicate_multiplies_rows_shifts_ids_and_join_rows(spark):
    orders = spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 30.0)],
                                   "o_orderkey long, o_totalprice double")
    lineitem = spark.createDataFrame([(1, 1), (1, 2), (2, 1), (3, 1)],
                                     "l_orderkey long, l_linenumber int")
    nation = spark.createDataFrame([(0, "A")], "n_nationkey long, n_name string")
    n, stride = 4, ss.FACT_SHIFTS["orders"][0][1]
    big_o = ss.replicate(orders, "orders", n)
    big_l = ss.replicate(lineitem, "lineitem", n)
    assert big_o.count() == 3 * n and big_l.count() == 4 * n
    keys = {r[0] for r in big_o.select("o_orderkey").collect()}
    assert keys == {k + i * stride for k in (1, 2, 3) for i in range(n)}
    joined = big_o.join(big_l, F.col("o_orderkey") == F.col("l_orderkey"))
    assert joined.count() == n * orders.join(
        lineitem, F.col("o_orderkey") == F.col("l_orderkey")).count()
    assert ss.replicate(nation, "nation", n).count() == 1


def test_inject_skew_hits_the_hot_share_exactly(spark):
    # user 3 already holds 4 of 20 rows; a null must not become the hot key
    users = [3, 3, 3, 3, None] + list(range(10, 25))
    df = spark.createDataFrame(list(enumerate(users)), "event_id long, user_id long")
    out = ss.inject_skew(df, "user_id", 0.6, "event_id").collect()
    assert len(out) == 20
    assert sum(r.user_id == 3 for r in out) == 12
    assert sorted(r.event_id for r in out) == list(range(20))


def test_every_scenario_names_only_contract_queries():
    qs = entrymod.queries()
    for name, sc in ss.SCENARIOS.items():
        assert sc["factor"] > 1, name
        assert set(sc["queries"]) <= set(qs), name
        for arm in sc.get("arms", {}).values():
            if ss._is_lever_arm(arm):
                assert set(arm) <= set(sc["queries"]), name
        for q, arm_name in sc.get("unscaled", {}):
            assert q in sc["queries"] and arm_name in sc["arms"], name


def test_loops_off_is_the_contraction_query_list():
    assert ss.SCENARIOS["loops_off"]["queries"] == list(CONTRACTION_QUERIES)
    assert len(set(CONTRACTION_QUERIES)) == 23


def test_unequal_exact_lever_is_reported_and_not_timed(spark, monkeypatch):
    def never_timed(*_a, **_k):
        raise AssertionError("an unequal exact lever was timed")

    monkeypatch.setattr(ss, "timed", never_timed)

    def query(s, _dir):
        return s.createDataFrame([(1, 1), (2, 1)], "doc_id long, cluster_id long")

    def lever(s, _dir):
        return s.createDataFrame([(1, 1), (2, 2)], "doc_id long, cluster_id long")

    arm = {"q": ss.Lever(lever, exact=True)}
    row = ss.run_arm(spark, "q", query, arm, {1: "x1", 16: "x16"}, "test/q/on")
    assert row == {"equal_at_1x": False}


def test_arm_with_another_row_count_is_not_timed(spark, monkeypatch):
    monkeypatch.setattr(ss, "timed", lambda *_a, **_k: {"t1": 0.0})

    def query(s, _dir):
        return s.range(3)

    conf = {"spark.sql.autoBroadcastJoinThreshold": "-1"}
    row = ss.run_arm(spark, "q", query, conf, {1: "x1", 16: "x16"}, "t", 2)
    assert row == {"rows_1x": 3, "rows_match": False}
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1"
