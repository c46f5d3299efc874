"""Per-host budget rank of the round planner (``build_two_phase_plan``):
the per-partition top-K cut ahead of the ranking exchange
(``host_top_k``) keeps a superset of every host's top rows and at most
2B + B_late rows per host and partition, the cut plan equals the uncut
plan row for row, and every host stays within its expected and late
budgets."""

from __future__ import annotations

import math

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from twawler_spark.plans import round as round_mod
from twawler_spark.plans.round import build_two_phase_plan, host_top_k_keep
from twawler_spark.synth import NOW_EPOCH


def _inputs(spark, crawl_root):
    active = spark.read.parquet(f"{crawl_root}/frontier_seed").where(
        F.col("state") == "active"
    )
    budgets = spark.read.parquet(f"{crawl_root}/host_budget")
    robots = spark.read.parquet(f"{crawl_root}/robots")
    return active, budgets, robots


def _nan_as_str(v):
    # NaN != NaN, so compare it as a string; url_hash is unique, so row
    # tuples never compare this field when sorted
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def _rows(plan):
    return sorted(
        (r["host"], r["phase"], r["fetch_rank"], r["url_hash"], r["last_id"],
         r["first_id"], r["reached"], _nan_as_str(r["expected"]), r["hours_idle"])
        for r in plan.collect()
    )


def _spark_desc(v, uh):
    """Sort key of (v DESC, url_hash ASC) as Spark orders it: NaN first,
    then the values from largest to smallest, then NULL."""
    if v is None:
        return (2, 0.0, uh)
    if math.isnan(v):
        return (0, 0.0, uh)
    return (1, -v, uh)


_KEY = st.one_of(
    st.none(), st.just(math.nan), st.sampled_from([0.0, -0.0, 1.0, 2.5]),
    st.floats(allow_nan=False, width=32),
)


@st.composite
def _partitions(draw):
    """Rows of a few hosts (tied and NaN/NULL keys, budgets 1..31), split
    into partitions at random."""
    n_hosts = draw(st.integers(1, 4))
    budgets = draw(st.lists(st.integers(1, 31), min_size=n_hosts, max_size=n_hosts))
    n = draw(st.integers(1, 120))
    uhs = draw(st.lists(
        st.integers(-(2**63), 2**63 - 1), min_size=n, max_size=n, unique=True,
    ))
    rows = [
        {
            "host": f"h{h}", "url_hash": uh, "expected": draw(_KEY),
            "hours_idle": draw(_KEY), "__b": budgets[h],
            "__b2": max(budgets[h] // 2, 1),
            "part": draw(st.integers(0, 3)),
        }
        for uh in uhs
        for h in [draw(st.integers(0, n_hosts - 1))]
    ]
    return rows


def _table(rows) -> pa.Table:
    return pa.table({
        "host": pa.array([r["host"] for r in rows], pa.string()),
        "url_hash": pa.array([r["url_hash"] for r in rows], pa.int64()),
        "expected": pa.array([r["expected"] for r in rows], pa.float64()),
        "hours_idle": pa.array([r["hours_idle"] for r in rows], pa.float64()),
        "__b": pa.array([r["__b"] for r in rows], pa.int32()),
        "__b2": pa.array([r["__b2"] for r in rows], pa.int32()),
    })


@settings(max_examples=300, deadline=None)
@given(_partitions())
def test_host_top_k_keeps_top_rows_within_bound(rows):
    """Cut partition by partition, the kept rows hold each host's exact
    top B by ``expected`` and top B + B_late by ``hours_idle`` over all
    partitions, and no partition lets more than 2B + B_late rows of a
    host through to the exchange."""
    kept = set()
    for p in {r["part"] for r in rows}:
        part = [r for r in rows if r["part"] == p]
        mask = host_top_k_keep(_table(part))
        out = [r for r, k in zip(part, mask) if k]
        for host in {r["host"] for r in part}:
            mine = [r for r in out if r["host"] == host]
            if mine:
                assert len(mine) <= 2 * mine[0]["__b"] + mine[0]["__b2"]
        kept |= {r["url_hash"] for r in out}
    for host in {r["host"] for r in rows}:
        mine = [r for r in rows if r["host"] == host]
        b, b2 = mine[0]["__b"], mine[0]["__b2"]
        for key, k in (("expected", b), ("hours_idle", b + b2)):
            top = sorted(mine, key=lambda r: _spark_desc(r[key], r["url_hash"]))[:k]
            assert {r["url_hash"] for r in top} <= kept, (host, key)


def test_host_top_k_cuts_whole_partitions(spark):
    """A partition reaches ``host_top_k`` as many Arrow batches; the cut
    ranks the whole partition, so one host keeps 2B + B_late rows in
    all, not that many from every batch."""
    rows = spark.range(40, numPartitions=1).select(
        F.lit("h").alias("host"), F.col("id").alias("url_hash"),
        F.col("id").cast("double").alias("expected"), F.lit(0.0).alias("hours_idle"),
        F.lit(2).alias("__b"), F.lit(1).alias("__b2"),
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        kept = sorted(r["url_hash"] for r in round_mod.host_top_k(rows).collect())
    finally:
        spark.conf.set(key, old)
    # top 2 by expected; top 3 by hours_idle, all tied, so url_hash ASC
    assert kept == [0, 1, 2, 38, 39]


def test_matches_naive_window(spark, crawl_root, monkeypatch):
    """The plan with the per-partition cut equals the plan with the cut
    swapped for an identity pass, ranks and phases included, on a
    layout (3 round-robin partitions) where the cut drops rows. Some
    ``expected`` values are NaN or NULL, which Spark ranks first and
    last in DESC order: the cut must rank them where Spark does."""
    active, budgets, robots = _inputs(spark, crawl_root)
    active = active.withColumn(
        "rate_tph",
        F.when(F.col("url_hash") % 7 == 0, F.lit(math.nan))
        .when(F.col("url_hash") % 11 == 0, F.lit(None))
        .otherwise(F.col("rate_tph")),
    ).repartition(3)
    cut, real = [], round_mod.host_top_k

    def spy(df):
        out = real(df)
        cut.append((df, out))
        return out

    monkeypatch.setattr(round_mod, "host_top_k", spy)
    pruned = _rows(build_two_phase_plan(active, robots, budgets, NOW_EPOCH + 3600))
    monkeypatch.setattr(round_mod, "host_top_k", lambda df: df)
    naive = _rows(build_two_phase_plan(active, robots, budgets, NOW_EPOCH + 3600))

    (before, after), = cut
    assert after.count() < before.count()  # the cut dropped rows
    assert len(naive) > 50
    assert pruned == naive
    expected = [r[7] for r in naive]
    assert None in expected and "NaN" in expected


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
