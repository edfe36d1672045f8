"""The plan audit's exchange counter (``tools/explain_audit.py``)."""

from __future__ import annotations

from tools.explain_audit import count_exchanges


def test_cached_relation_shuffle_counts_once(spark):
    """A persisted frame scanned twice prints its cached plan, and the
    shuffle in it, under both scans; the counter counts that shuffle
    once, with and without adaptive execution."""
    before = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        for aqe in ("false", "true"):
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
            cached = spark.range(1000).repartition(4, "id").persist()
            try:
                union = cached.union(cached)
                plan = union._jdf.queryExecution().executedPlan()
                assert plan.toString().count("Exchange hashpartitioning") == 2
                assert count_exchanges(plan, spark._jvm) == 1, aqe
            finally:
                cached.unpersist(blocking=True)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", before)


def test_each_join_side_shuffle_counts(spark):
    """Distinct shuffles all count: a sort-merge join of two uncached
    sides shuffles each side once."""
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        a = spark.range(1000).selectExpr("id % 7 AS k", "id AS a")
        b = spark.range(1000).selectExpr("id % 5 AS k", "id AS b")
        plan = a.join(b, "k")._jdf.queryExecution().executedPlan()
        assert count_exchanges(plan, spark._jvm) == 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def test_reused_exchange_counts(spark):
    """A reused exchange counts like the exchange it reads: the plan
    string names it on a line of its own, and budgets count such
    reuses."""
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        a = spark.range(1000).repartition(4, "id")
        plan = a.union(a)._jdf.queryExecution().executedPlan()
        assert "ReusedExchange" in plan.toString()
        assert count_exchanges(plan, spark._jvm) == 2
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
