"""Focused per-query benchmark for optimization work (bench.py is frozen).

Times QUERIES[name](spark, sf_dir).count() exactly like bench.py does,
for an arbitrary subset of queries, at an arbitrary SF dir. Prints one
JSON line {"queries": {...}, "sf": ...}.

Usage:
  SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py name1 name2 ...
  (no names -> all HEADLINE_QUERIES from bench.py)

Env knobs (same semantics as bench.py):
  SPARK_GRAFT_CPUS   core count -> local[N]   (default: session.default_cpus)
  SPARK_GRAFT_SF_DIR data dir                 (default /root/testdata/sf0.1)
  SPARK_GRAFT_REPEAT timed repeats per query  (default 1, like bench.py)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    from twawler_spark.session import default_cpus, get_spark
    from twawler_spark.registry import QUERIES

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or default_cpus())
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repeat = int(os.environ.get("SPARK_GRAFT_REPEAT", "1"))
    names = sys.argv[1:]

    if not names:
        from bench import HEADLINE_QUERIES

        names = list(HEADLINE_QUERIES)

    spark = get_spark(
        "bench-extra",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.sql.autoBroadcastJoinThreshold": str(512 * 1024 * 1024),
            "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(64 * 1024 * 1024),
        },
    )
    queries: dict[str, float] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        best = None
        for _ in range(repeat):
            t0 = time.time()
            n = QUERIES[name](spark, sf_dir).count()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        queries[name] = round(best, 3)
        print(f"  query {name}: {n} rows in {queries[name]}s", file=sys.stderr, flush=True)
    spark.stop()
    print(json.dumps({"queries": queries, "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
