"""Crawl-round benchmark: fixed-work steps over one frozen catalog snapshot.

    python3 perfbench/run.py --workload crawl_fetch --seed 1 --seconds 8 --trace 0

Run from the repository root. Per run: generate the workload's inputs
from ``--seed`` (untimed), start a Spark session and bootstrap the
catalog (timed together as set-up), commit the untimed preparation
rounds into the snapshot, then repeat one step — restore the committed
snapshot with an untimed copy, run the step, check its outputs — for
``--seconds`` after the untimed warm-up steps. ``--trace
1`` installs spans around the program's layers and reports per-layer
metrics instead of end-to-end ones. The last stdout line is the result
JSON; the line before it records the session settings and every step.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
UNITS = {m["name"]: m["unit"] for m in _SPEC["end_to_end"] + _SPEC["per_layer"]}

DRIVER_MEMORY = "2g"
# the timed crawl step: round 2, from a snapshot with round 1 committed,
# so its candidates include outlinks of refetched pages that the seen
# filter and the confirm join must reject
CRAWL_ROUND = 2

# warmup: untimed steps of the timed kind after the set-up; crawl_fetch
# warms up on its preparation round instead, because a run has room for
# only one more ~12 s round. min_steps: timed steps per run however short
# --seconds is; a seed_import step is short and varies by about a tenth
# from step to step, so its median takes five.
WORKLOADS = {
    "crawl_fetch": {"step": "round", "n_urls": 10_000, "n_hosts": 100,
                    "warmup": 0, "min_steps": 1},
    "seed_import": {"step": "bootstrap", "n_urls": 50_000, "n_hosts": 200,
                    "warmup": 1, "min_steps": 5},
}
TINY = {"n_urls": 2_000, "n_hosts": 40}  # the smoke test's size
SETTLE_S = 0.5  # untimed pause before each step
FP_PROBE_KEYS = 50_000  # fresh keys probed to measure the built filter's fpp


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    def __init__(self, spark, args, spec: dict, work: str):
        from twawler_spark.io_catalog import Catalog

        from probes import Spans

        self.spark, self.args, self.spec = spark, args, spec
        self.cat_root = f"{work}/catalog"
        self.inputs = f"{work}/inputs"
        self.snapshot = f"{work}/snapshot"
        self.catalog = Catalog(spark, self.cat_root)
        self.spans = Spans()
        self.expected = None
        self.first = None
        self.n_step = 0
        # a traced run warms up one step more: the JVM is still getting
        # faster over the first steps, which would charge its warming to
        # the first (traced) step of T U U T as tracing overhead
        self.n_warmup = spec["warmup"] + args.trace
        self.phases: dict[str, float] = {}  # untimed work, for the run record

    # ------------------------------------------------------------- set-up
    def setup(self) -> float:
        """The first bootstrap on the generated inputs (timed), then the
        untimed preparation rounds the snapshot commits."""
        shutil.copytree(self.inputs, self.cat_root, dirs_exist_ok=True)
        t0 = time.perf_counter()
        self._bootstrap()
        bootstrap_s = time.perf_counter() - t0
        if self.spec["step"] == "round":
            from twawler_spark.plans.round import run_round

            t0 = time.perf_counter()
            for r in range(1, CRAWL_ROUND):
                run_round(self.catalog, r, self.spec["n_hosts"])
            self.phases["prepare_s"] = time.perf_counter() - t0
            shutil.copytree(self.cat_root, self.snapshot)
        else:
            self.snapshot = self.inputs
        return bootstrap_s

    def oracle(self) -> None:
        import checks

        t0 = time.perf_counter()
        if self.spec["step"] == "round":
            self.expected = checks.crawl_expected(self.inputs, self.spec["n_hosts"], CRAWL_ROUND)
        else:
            self.expected = checks.seed_expected(self.inputs, self.spec["n_hosts"])
        self.phases["oracle_s"] = time.perf_counter() - t0

    def _bootstrap(self) -> None:
        from twawler_spark.plans.round import bootstrap

        cat = self.catalog
        bootstrap(cat, cat.read_input("frontier_seed"), cat.read_input("seen_seed"))

    def restore(self) -> None:
        shutil.rmtree(self.cat_root)
        shutil.copytree(self.snapshot, self.cat_root)

    # ------------------------------------------------------------- steps
    def _run_step(self):
        """The timed call; returns (RoundStats or None, keys per step)."""
        if self.spec["step"] == "round":
            from twawler_spark.plans.round import run_round

            stats = run_round(self.catalog, CRAWL_ROUND, self.spec["n_hosts"])
            return stats, stats.n_active + stats.n_candidates
        self._bootstrap()
        return None, self.catalog.read_manifest("seen", 0)["n_rows"]

    def step(self, traced: bool) -> dict:
        import probes

        sc = self.spark.sparkContext
        self.restore()
        self.spans.reset()
        # start every step from a collected heap and an idle machine
        self.spark._jvm.System.gc()
        time.sleep(SETTLE_S)
        files0 = probes.catalog_files(self.cat_root)
        gc0, steal0 = probes.gc_seconds(self.spark), probes.steal_seconds()
        group = f"perfbench-step-{self.n_step}"
        self.n_step += 1
        sc.setJobGroup(group, group)
        stats, keys, error = None, 0, None
        self.spans.enabled = traced
        with probes.RssSampler() as rss:
            t0 = time.perf_counter()
            try:
                stats, keys = self._run_step()
            except Exception as e:  # a failed step is counted, not fatal
                error = f"{type(e).__name__}: {e}"
            wall = time.perf_counter() - t0
        self.spans.enabled = False
        sc.setJobGroup("perfbench-idle", "perfbench-idle")
        rec = {
            "traced": traced,
            "wall_s": wall,
            "keys": keys,
            "steal_s": probes.steal_seconds() - steal0,
            "gc_s": probes.gc_seconds(self.spark) - gc0,
            "peak_rss_mb": rss.peak_mb,
            **probes.job_counts(self.spark, group),
        }
        files, nbytes = probes.written(files0, probes.catalog_files(self.cat_root))
        rec.update(files_written=files, bytes_written=nbytes)
        if stats is not None:
            rec["stats"] = vars(stats)
        t0 = time.perf_counter()
        if error is None:
            try:
                error = "; ".join(self.check(stats)) or None
            except Exception as e:  # a check that cannot run fails the step
                error = f"check raised {type(e).__name__}: {e}"
        rec["errors"] = [error] if error else []
        rec["check_s"] = time.perf_counter() - t0
        if traced and not error:
            rec["spans"] = self.spans.self_times()
            rec["filter"] = self.filter_quality(stats)
        self.spans.reset()  # drop checkpointed DataFrames held for the probe
        # RDDs still registered as persistent once nothing references them
        gc.collect()
        self.spark._jvm.System.gc()
        rec["persisted_rdds"] = probes.persistent_rdds(self.spark)
        return rec

    # ------------------------------------------------------------- checks
    def check(self, stats) -> list[str]:
        import checks

        if self.spec["step"] == "round":
            got = checks.crawl_digests(self.cat_root, CRAWL_ROUND, stats)
            errors = checks.crawl_invariants(self.cat_root, CRAWL_ROUND)
        else:
            got = checks.seed_digests(self.cat_root)
            errors = checks.seed_invariants(self.catalog, got)
        if self.args.corrupt_digest and self.n_step == self.n_warmup + 1:
            first_digest = "crawl_order" if stats is not None else "seen_keys"
            got = dict(got, **{first_digest: "corrupted"})
        oracle_view = dict(got)
        if stats is not None:
            oracle_view["stats"] = {f: got["stats"][f] for f in checks.STAT_FIELDS}
        errors += checks.compare("oracle", oracle_view, self.expected)
        if self.first is None:
            self.first = got
        errors += checks.compare("first timed step", got, self.first)
        return errors

    def filter_quality(self, stats) -> dict:
        """Untimed, after a traced step: probe keys known to be absent or
        present against the filter the step used (crawl: the pre-step
        filter and the step's candidates; seed import: the built filter
        and fresh random keys)."""
        import numpy as np
        import pandas as pd
        from pyspark.sql import functions as F
        from twawler_spark.operators.seen_filter import BroadcastBloom
        from twawler_spark.plans.round import bloom_prefix

        if stats is not None:
            bloom = BroadcastBloom.load(bloom_prefix(self.catalog, CRAWL_ROUND - 1))
            cands = self.spans.checkpoints[2].select("url_hash")
            n_probed = stats.n_candidates
            n_absent = stats.n_admitted
        else:
            bloom = BroadcastBloom.load(bloom_prefix(self.catalog, 0))
            rng = np.random.default_rng(self.args.seed)
            fresh = rng.integers(-(2**63), 2**63 - 1, FP_PROBE_KEYS, dtype=np.int64)
            cands = self.spark.createDataFrame(pd.DataFrame({"url_hash": fresh})).join(
                self.spark.read.parquet(f"{self.cat_root}/seen/data/round=0"),
                "url_hash", "left_anti",
            )
            n_probed = n_absent = cands.count()
        n_maybe = bloom.probe(cands).where(F.col("maybe_seen")).count()
        n_present = n_probed - n_absent
        return {
            "maybe_ratio": n_maybe / max(n_probed, 1),
            "fp_ratio": (n_maybe - n_present) / max(n_absent, 1),
            "bits_mb": bloom.m_bits / 8 / 2**20,
        }

    # ------------------------------------------------------------- run
    def run(self) -> list[dict]:
        t0 = time.perf_counter()
        for _ in range(self.n_warmup):
            rec = self.step(traced=False)
            if rec["errors"]:
                raise RuntimeError(f"warm-up step failed: {rec['errors']}")
        self.phases["warmup_s"] = time.perf_counter() - t0
        self.first = None  # the first TIMED step is the reference
        steps = []
        # a traced run times four steps in the order T U U T, so a JVM
        # still warming biases neither side of the tracing overhead
        min_steps = 4 if self.args.trace else self.spec["min_steps"]
        t0 = time.perf_counter()
        while len(steps) < min_steps or time.perf_counter() - t0 < self.args.seconds:
            steps.append(self.step(traced=bool(self.args.trace) and len(steps) % 4 in (0, 3)))
        return steps


# ------------------------------------------------------------------ metrics
def end_to_end(steps: list[dict], setup_s: float) -> dict:
    ok = [s for s in steps if not s["errors"]] or steps
    step_s = median([s["wall_s"] for s in ok])
    keys = median([s["keys"] for s in ok])
    n_ok = sum(not s["errors"] for s in steps)
    return {
        "step_s_p50": step_s,
        "keys_per_s": keys / step_s if step_s else 0.0,
        "setup_s": setup_s,
        "success_rate": n_ok / len(steps),
    }


# per-layer span attribution: metric -> span labels whose self times it sums
SPAN_METRICS = {
    "round.plan_s": ["checkpoint.plan"],
    "round.merge_s": ["append.frontier_v"],
    "fetcher.docs_s": ["append.documents"],
    "fetcher.results_s": ["checkpoint.results"],
    "fetcher.outlinks_s": ["append.follow_edges", "checkpoint.cands"],
    "admission.admit_s": ["checkpoint.admitted"],
    "seen_filter.load_s": ["seen_filter.load"],
    "seen_filter.update_s": ["seen_filter.update"],
    "seen_filter.save_s": ["seen_filter.save"],
    "seen_filter.build_s": ["seen_filter.build"],
    "io_catalog.snapshot_s": ["io_catalog.snapshot"],
    "io_catalog.commit_s": ["io_catalog.commit"],
}


def per_layer(steps: list[dict]) -> dict:
    traced = [s for s in steps if s["traced"] and not s["errors"]]
    plain = [s for s in steps if not s["traced"] and not s["errors"]]
    per_step = []
    for s in traced:
        spans = s["spans"]
        m = {name: sum(spans.get(lb, 0.0) for lb in labels)
             for name, labels in SPAN_METRICS.items()}
        attributed = {lb for labels in SPAN_METRICS.values() for lb in labels}
        # the remaining appends: crawl_order, seen, round_metrics
        m["io_catalog.append_s"] = sum(
            v for lb, v in spans.items() if lb.startswith("append.") and lb not in attributed
        )
        m["round.driver_s"] = s["wall_s"] - sum(spans.values())
        st = s.get("stats") or {}
        n_sched = st.get("n_scheduled", 0)
        m.update({
            "round.n_active": st.get("n_active", 0),
            "round.n_scheduled": n_sched,
            "round.rows_per_scheduled": st.get("n_active", 0) / n_sched if n_sched else 0.0,
            "fetcher.n_docs": st.get("n_docs", 0),
            "admission.n_candidates": st.get("n_candidates", 0),
            "admission.n_admitted": st.get("n_admitted", 0),
            "admission.admit_ratio": (
                st["n_admitted"] / st["n_candidates"] if st.get("n_candidates") else 0.0
            ),
            "seen_filter.maybe_ratio": s["filter"]["maybe_ratio"],
            "seen_filter.fp_ratio": s["filter"]["fp_ratio"],
            "seen_filter.bits_mb": s["filter"]["bits_mb"],
            "io_catalog.files_written": s["files_written"],
            "io_catalog.bytes_written_mb": s["bytes_written"] / 2**20,
            "io_catalog.bytes_per_key": s["bytes_written"] / max(s["keys"], 1),
            "session.jobs": s["jobs"],
            "session.stages": s["stages"],
            "session.tasks": s["tasks"],
            "session.gc_s": s["gc_s"],
            "session.persisted_rdds": s["persisted_rdds"],
            "session.peak_rss_mb": s["peak_rss_mb"],
            "host.steal_s": s["steal_s"],
        })
        per_step.append(m)
    out = {name: median([m[name] for m in per_step]) for name in (per_step[0] if per_step else {})}
    out["trace.overhead_s"] = median([s["wall_s"] for s in traced]) - median(
        [s["wall_s"] for s in plain]
    )
    return out


# ------------------------------------------------------------------ process
def shutdown(spark) -> None:
    """Stop Spark, its JVM and every Python worker, and wait for each."""
    from pyspark import SparkContext

    import probes

    children = set(probes.descendants(os.getpid())) - {os.getpid()}
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while children and time.time() < deadline:
        children = {p for p in children if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in children:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    p.add_argument("--corrupt-digest", action="store_true",
                   help="corrupt the first timed step's digest (smoke test)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = dict(WORKLOADS[args.workload], **(TINY if args.tiny else {}))
    if not os.path.isdir(os.path.join(ROOT, "twawler_spark")):
        print(f"perfbench: no twawler_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("spark-local", "tmp"):
        os.makedirs(f"{work}/{d}")
    n_cpu = len(os.sched_getaffinity(0))
    settings = {
        "master": f"local[{n_cpu}]",
        "driver_memory": DRIVER_MEMORY,
        "spark_local_dirs": f"{work}/spark-local",
    }
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(n_cpu),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=settings["spark_local_dirs"],
        TMPDIR=f"{work}/tmp",
    )
    sys.path.insert(0, ROOT)
    import probes
    from inputs import write_inputs

    t0 = time.perf_counter()
    write_inputs(f"{work}/inputs", spec["n_urls"], spec["n_hosts"], args.seed, n_cpu)
    inputs_s = time.perf_counter() - t0

    from twawler_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp"},
    )
    try:
        # set-up excludes input generation, which runs before the session
        session_s = probes.process_age_s() - inputs_s
        settings.update({k: spark.conf.get(k) for k in (
            "spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions")})
        bench = Bench(spark, args, spec, work)
        bootstrap_s = bench.setup()
        bench.oracle()
        if args.trace:
            bench.spans.install()
        steps = bench.run()
    finally:
        shutdown(spark)
        shutil.rmtree(os.path.join(ROOT, ".perfbench_work"), ignore_errors=True)

    failed = sum(bool(s["errors"]) for s in steps)
    metrics = per_layer(steps) if args.trace else end_to_end(steps, session_s + bootstrap_s)
    print(json.dumps({"perfbench": {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "sizes": spec, "settings": settings,
        "inputs_s": inputs_s, "session_s": session_s, "bootstrap_s": bootstrap_s,
        **bench.phases,
        "error_rate": failed / len(steps), "steps": steps,
    }}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(steps),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
