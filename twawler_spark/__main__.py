"""CLI entry point — the spark-submit surface.

    spark-submit --py-files twawler_spark.zip -m ... twawler_spark ...
or  python -m twawler_spark <cmd> ...

Commands:
  gen    --root DIR --urls N --hosts H          write synthetic inputs
  crawl  --root DIR --rounds R --hosts H        run/resume scheduling rounds
  status --root DIR                             committed rounds + RoundStats
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

if __package__ in (None, ""):
    # spark-submit passes this file as a plain script; make the package
    # importable (its dir's parent) alongside the --py-files zip
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from twawler_spark.io_catalog import Catalog
from twawler_spark.plans.round import bootstrap, round_status, run_rounds
from twawler_spark.session import get_spark
from twawler_spark.synth import write_inputs


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="twawler_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("gen", help="write synthetic frontier/seen/budget/robots")
    g.add_argument("--root", required=True)
    g.add_argument("--urls", type=int, default=100_000)
    g.add_argument("--hosts", type=int, default=1_000)
    g.add_argument("--partitions", type=int, default=None)

    c = sub.add_parser("crawl", help="run (or resume) scheduling rounds")
    c.add_argument("--root", required=True)
    c.add_argument("--rounds", type=int, default=3)
    c.add_argument("--hosts", type=int, required=True)

    s = sub.add_parser("status", help="committed rounds + per-round RoundStats")
    s.add_argument("--root", required=True)

    a = p.parse_args(argv)
    spark = get_spark(f"twawler-{a.cmd}")
    try:
        if a.cmd == "gen":
            t0 = time.time()
            write_inputs(spark, a.root, a.urls, a.hosts, a.partitions)
            print(json.dumps({"cmd": "gen", "urls": a.urls, "hosts": a.hosts,
                              "sec": round(time.time() - t0, 2)}))
        elif a.cmd == "crawl":
            cat = Catalog(spark, a.root)
            # a fresh crawl is a fresh --root: bootstrap only an empty catalog
            if cat.latest_round("frontier") is None:
                bootstrap(cat, cat.read_input("frontier_seed"), cat.read_input("seen_seed"))
            t0 = time.time()
            stats = run_rounds(cat, a.rounds, n_hosts=a.hosts)
            dt = time.time() - t0
            for st in stats:
                print(json.dumps(vars(st)))
            done = sum(s.n_scheduled + s.n_candidates for s in stats)
            print(json.dumps({"cmd": "crawl", "rounds_run": len(stats),
                              "sec": round(dt, 2),
                              "scheduled_plus_deduped_per_sec": round(done / dt, 1) if dt else None}))
        elif a.cmd == "status":
            print(json.dumps(round_status(Catalog(spark, a.root)), sort_keys=True))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
