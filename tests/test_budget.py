"""Per-host budget rank of the round planner (``build_two_phase_plan``):
the salted stage A is a pure superset optimization — the adaptive-salted
plan equals the single-bucket plan row for row — and every host stays
within its expected and late budgets."""

from __future__ import annotations

from pyspark.sql import functions as F

from twawler_spark.plans.round import build_two_phase_plan
from twawler_spark.synth import NOW_EPOCH


def _inputs(spark, crawl_root):
    active = spark.read.parquet(f"{crawl_root}/frontier_seed").where(
        F.col("state") == "active"
    )
    budgets = spark.read.parquet(f"{crawl_root}/host_budget")
    robots = spark.read.parquet(f"{crawl_root}/robots")
    return active, budgets, robots


def _rows(plan):
    return sorted(
        (r["host"], r["phase"], r["fetch_rank"], r["url_hash"], r["last_id"],
         r["first_id"], r["reached"], r["expected"], r["hours_idle"])
        for r in plan.collect()
    )


def test_matches_naive_window(spark, crawl_root):
    """Adaptive salting (hot hosts over 16 buckets, cold hosts in one)
    yields exactly the naive one-bucket plan, ranks and phases included."""
    active, budgets, robots = _inputs(spark, crawl_root)
    host_stats = active.groupBy("host").agg(F.count(F.lit(1)).alias("n_urls"))
    counts = sorted(r["n_urls"] for r in host_stats.collect())
    hot_threshold = counts[len(counts) // 2]
    assert counts[0] <= hot_threshold < counts[-1]  # both hot and cold hosts

    salted = build_two_phase_plan(
        active, robots, budgets, NOW_EPOCH + 3600, salt_buckets=16,
        host_stats=host_stats, hot_threshold=hot_threshold,
    )
    naive = build_two_phase_plan(
        active, robots, budgets, NOW_EPOCH + 3600, salt_buckets=1,
    )
    got, want = _rows(salted), _rows(naive)
    assert len(want) > 50
    assert got == want


def test_respects_budget(spark, crawl_root):
    """At most B 'expected' rows per host and at most B + max(B // 2, 1)
    rows in total (the late phase runs at half budget)."""
    active, budgets, robots = _inputs(spark, crawl_root)
    plan = build_two_phase_plan(active, robots, budgets, NOW_EPOCH + 3600)
    per_host = plan.groupBy("host").agg(
        F.sum((F.col("phase") == "expected").cast("int")).alias("n_expected"),
        F.count(F.lit(1)).alias("n"),
    ).collect()
    caps = {r["host"]: r["budget_per_round"] for r in budgets.collect()}
    assert per_host
    for r in per_host:
        b = caps[r["host"]]
        assert r["n_expected"] <= b
        assert r["n"] <= b + max(b // 2, 1)
    # the caps bind: some host fills its expected budget and has late picks
    assert any(
        r["n_expected"] == caps[r["host"]] and r["n"] > r["n_expected"]
        for r in per_host
    )
