"""Hot-domain skew A/B: salting OFF vs adaptive salting ON.

The north rule calls for a per-host politeness priority queue "salted
by host-hash to defuse hot-domain skew". This measures that lever in
isolation: a synthetic frontier where ONE host owns a large fraction
of all URLs (the hot-domain case: a link farm / URL-shortener host),
then the identical two-phase scheduling plan timed with

  A) salt_buckets=1  — no salting: the hot host's entire candidate set
     lands in one (host) partition and one task sorts it alone;
  B) salt_buckets=16 + adaptive host_stats — the engine default: hot
     hosts fan out 16-way in stage A, cold hosts keep one bucket.

Both variants produce bit-identical plans (stage A's per-bucket top-B
keep is a superset of the per-host top-B for any bucket count — see
build_two_phase_plan); only the partition shape differs. Iterations
are interleaved A/B/A/B so host noise hits both arms equally.

Usage: python scripts/bench_skew.py [n_urls] [n_hosts] [hot_pct] [iters]
Writes one JSON line; paste the table into BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from twawler_spark.session import default_cpus, get_spark
from twawler_spark.synth import NOW_EPOCH, write_inputs
from twawler_spark.plans.round import build_two_phase_plan


def main() -> int:
    n_urls = int(sys.argv[1]) if len(sys.argv) > 1 else 16_000_000
    n_hosts = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000
    hot_pct = int(sys.argv[3]) if len(sys.argv) > 3 else 25
    iters = int(sys.argv[4]) if len(sys.argv) > 4 else 3

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
    host_stats = active.groupBy("host").agg(F.count(F.lit(1)).alias("n_urls"))
    top = host_stats.orderBy(F.desc("n_urls")).first()
    n_active = active.count()

    def run(salt: int) -> float:
        t0 = time.time()
        plan = build_two_phase_plan(
            active, robots, budgets, NOW_EPOCH + 3600,
            salt_buckets=salt, host_stats=host_stats if salt > 1 else None,
        )
        plan.count()
        return time.time() - t0

    run(16)  # warm: page cache + codegen for both shapes
    a, b = [], []
    for _ in range(iters):
        a.append(run(1))
        b.append(run(16))
    res = {
        "metric": "hot_domain_skew_ab",
        "n_urls": n_urls,
        "n_hosts": n_hosts,
        "hot_host_rows": top["n_urls"],
        "hot_host_frac": round(top["n_urls"] / n_active, 4),
        "unsalted_sec": [round(x, 3) for x in a],
        "salted_sec": [round(x, 3) for x in b],
        "best_unsalted": round(min(a), 3),
        "best_salted": round(min(b), 3),
        "speedup": round(min(a) / min(b), 2),
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS") or default_cpus()),
    }
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
