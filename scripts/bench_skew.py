"""Hot-domain skew: the engine's scheduling plan on a hot-host frontier.

A synthetic frontier where ONE host owns ``hot_pct``% of all URLs (the
hot-domain case: a link farm / URL-shortener host), then the engine's
two-phase scheduling plan (``build_two_phase_plan``) timed as one job
that also digests the plan. The per-partition top-K cut ahead of the
plan's one ranking exchange bounds the hot host's rows entering that
exchange at P·(2B + B_late) for P input partitions, so no single task
sorts the hot host's whole candidate set.

The digest is the row count and the XOR of ``xxhash64`` over every
plan row's columns (order-independent; ``url_hash`` is unique, so no
two rows cancel): two plans with the same digest hold the same rows,
ranks and phases.

Usage: python scripts/bench_skew.py [n_urls] [n_hosts] [hot_pct] [iters]
Writes one JSON line; BENCH.md "Hot-domain skew" records the runs.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from twawler_spark.plans.round import build_two_phase_plan
from twawler_spark.session import default_cpus, get_spark
from twawler_spark.synth import NOW_EPOCH, write_inputs

PLAN_COLUMNS = (
    "url_hash", "host", "phase", "fetch_rank", "last_id", "first_id", "reached",
    "expected", "hours_idle",
)


def plan_digest(plan) -> tuple[int, str]:
    """(rows, XOR of per-row xxhash64) of a plan, in one job."""
    row = plan.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*PLAN_COLUMNS)).alias("x"),
    ).first()
    return row["n"], f"{row['x'] & (2**64 - 1):016x}"


def main() -> int:
    n_urls = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    n_hosts = int(sys.argv[2]) if len(sys.argv) > 2 else 5_000
    hot_pct = int(sys.argv[3]) if len(sys.argv) > 3 else 25
    iters = int(sys.argv[4]) if len(sys.argv) > 4 else 6

    spark = get_spark("bench_skew")
    root = f"/tmp/twawler_bench/skew_u{n_urls}_h{n_hosts}_p{hot_pct}"
    if not os.path.exists(f"{root}/.complete"):
        write_inputs(spark, root, n_urls, n_hosts, noise=False)
        base = spark.read.parquet(f"{root}/frontier_seed")
        hot = base.select(F.first("host")).first()[0]
        # reassign hot_pct% of URLs (by url_hash residue — uncorrelated
        # with the generator's log-uniform host draw) to the hot host
        skewed = base.withColumn(
            "host",
            F.when(F.pmod(F.col("url_hash"), 100) < hot_pct, F.lit(hot))
            .otherwise(F.col("host")),
        )
        skewed.write.mode("overwrite").parquet(f"{root}/frontier_skew")
        open(f"{root}/.complete", "w").write("v1")

    frontier = spark.read.parquet(f"{root}/frontier_skew")
    budgets = spark.read.parquet(f"{root}/host_budget")
    robots = spark.read.parquet(f"{root}/robots")
    active = frontier.where(F.col("state") == "active")
    per_host = active.groupBy("host").count()
    top = per_host.orderBy(F.desc("count")).first()
    n_active = active.count()

    def run() -> tuple[float, tuple[int, str]]:
        t0 = time.time()
        digest = plan_digest(build_two_phase_plan(active, robots, budgets, NOW_EPOCH + 3600))
        return time.time() - t0, digest

    _, digest = run()  # warm: page cache, codegen and Python workers
    secs = []
    for _ in range(iters):
        sec, again = run()
        assert again == digest, (again, digest)
        secs.append(sec)
    res = {
        "metric": "hot_domain_skew_plan_s",
        "n_urls": n_urls,
        "n_hosts": n_hosts,
        "hot_host_rows": top["count"],
        "hot_host_frac": round(top["count"] / n_active, 4),
        "plan_sec": [round(x, 3) for x in secs],
        "median_sec": round(statistics.median(secs), 3),
        "plan_rows": digest[0],
        "plan_digest": digest[1],
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS") or default_cpus()),
    }
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
