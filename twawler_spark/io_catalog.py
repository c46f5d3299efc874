"""Snapshot-versioned table storage (Iceberg semantics, parquet fallback).

The design targets Iceberg (hidden partitioning, snapshot isolation,
MERGE); this sandbox ships no iceberg-spark-runtime jar, so ``Catalog``
implements the same contract on plain parquet dirs:

  root/<table>/snap=<round>/part-*.parquet     full snapshots (frontier)
  root/<table>/data/round=<round>/...          append-only logs (frontier_v,
                                               seen, documents, ...)
  root/<table>/_manifests/<round>.json         row counts + per-file
                                               lineage (the north rule's
                                               "per-partition lineage +
                                               counters") + the round's
                                               stats, committed together

Every table the round writes (``schemas.CATALOG_TABLES``: frontier,
frontier_v, seen, documents, follow_edges, crawl_order) has a declared
schema: every write is checked against the declaration on the driver,
and reads pass it to the parquet reader, so no read runs a
footer-inference job. A table without a declaration can be neither
written nor read. The four external inputs (``schemas.INPUT_TABLES``)
are declared too: ``read_input`` checks one parquet footer per input on
the driver (pyarrow) and reads with the declaration, so it runs no job
and a missing or retyped input column raises instead of reading NULLs.

A snapshot is written in two steps: ``stage_snapshot`` writes its files
and takes the per-file lineage (row counts) from their parquet footers,
O(files) on the driver with no read-back job; ``commit_snapshot``
writes the manifest. ``write_snapshot`` runs both; bootstrap stages
round 0's snapshot on a worker thread next to its seen append and
filter build, and commits it last.

Resume = read the highest committed snapshot (manifest written last, so
a killed round leaves no committed-but-partial snapshot — the
reference's "kill-safe, no corrupt state" invariant, README Stopping).
Every read names its round: ``read_frontier`` the frontier's current
view (latest compaction snapshot plus later ``frontier_v`` deltas),
``read_committed`` an appended table's rounds up to a bound, so the
partial appends of a killed round stay invisible.

Only this module knows the layout above. The frontier's history below
its latest compaction (``frontier_history``) expires one round at a
time (``expire_frontier_round``): the round's seen manifest, snapshot
and delta partition go first and its frontier manifest last, so a
round killed mid-expiry stays listed and the next expiry finishes it.
The round driver (``plans.round.expire_frontier_history``) removes the
files it owns itself (the seen-filter files) before calling it.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
from typing import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type

from .schemas import CATALOG_TABLES, FRONTIER, INPUT_TABLES


def _check_columns(got: dict[str, T.DataType], want: T.StructType, table: str) -> None:
    """Raise ``ValueError`` naming the first declared column of ``want``
    that ``got`` (name -> type) lacks or types differently."""
    for f in want.fields:
        if f.name not in got:
            raise ValueError(f"{table}: column {f.name!r} is missing")
        if got[f.name] != f.dataType:
            raise ValueError(
                f"{table}: column {f.name!r} is {got[f.name].simpleString()}, "
                f"declared {f.dataType.simpleString()}"
            )


def _check_schema(df: DataFrame, table: str) -> None:
    """Raise ``ValueError`` naming the first column where ``df`` departs
    from ``table``'s declared schema: missing, extra or retyped. Names
    and types only — parquet reads every column back nullable. Runs on
    the driver (analysis only, no job). An undeclared table raises
    ``KeyError``."""
    want = CATALOG_TABLES[table]
    got = {f.name: f.dataType for f in df.schema.fields}
    _check_columns(got, want, table)
    extra = sorted(set(got) - set(want.fieldNames()))
    if extra:
        raise ValueError(f"{table}: column {extra[0]!r} is not declared")


class Catalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ---------------------------------------------------------- snapshots
    def _snap_dir(self, table: str, round_no: int) -> str:
        return f"{self.root}/{table}/snap={round_no}"

    def _manifest_path(self, table: str, round_no: int) -> str:
        return f"{self.root}/{table}/_manifests/{round_no}.json"

    def stage_snapshot(self, df: DataFrame, table: str, round_no: int) -> dict:
        """Write a full snapshot's files, uncommitted, and return the
        manifest ``commit_snapshot`` commits. The lineage is one entry
        per written ``part-*`` file with the row count of its parquet
        footer: O(files) on the driver, no read-back job."""
        _check_schema(df, table)
        path = self._snap_dir(table, round_no)
        df.write.mode("overwrite").parquet(path)
        files = sorted(f for f in os.listdir(path) if f.startswith("part-"))
        rows = [pq.read_metadata(f"{path}/{f}").num_rows for f in files]
        return {
            "table": table,
            "round": round_no,
            "kind": "compaction",
            "n_rows": sum(rows),
            "partitions": [
                {"partition": k, "file": f, "rows": n}
                for k, (f, n) in enumerate(zip(files, rows))
            ],
            "columns": CATALOG_TABLES[table].fieldNames(),
        }

    def commit_snapshot(
        self, manifest: dict, stats: Callable[[int], dict] | None = None
    ) -> dict:
        """Commit a staged snapshot. ``stats(n_rows)``, if given, returns
        the round's stats; they are committed in the manifest with the
        snapshot's row count."""
        if stats is not None:
            manifest = {**manifest, "stats": stats(manifest["n_rows"])}
        self._write_manifest(manifest["table"], manifest["round"], manifest)
        return manifest

    def write_snapshot(
        self,
        df: DataFrame,
        table: str,
        round_no: int,
        stats: Callable[[int], dict] | None = None,
    ) -> dict:
        """Write a full snapshot and commit it (``stage_snapshot`` then
        ``commit_snapshot``)."""
        return self.commit_snapshot(self.stage_snapshot(df, table, round_no), stats)

    def commit_round(
        self, table: str, round_no: int, n_rows: int, stats: dict | None = None
    ) -> dict:
        """Commit a delta-only round: manifest without snapshot data
        (the delta files were appended separately; this rename is the
        atomic commit point, so ``stats`` commit with the round)."""
        manifest = {
            "table": table,
            "round": round_no,
            "kind": "commit",
            "n_rows": int(n_rows),
        }
        if stats is not None:
            manifest["stats"] = stats
        self._write_manifest(table, round_no, manifest)
        return manifest

    def _write_manifest(self, table: str, round_no: int, manifest: dict) -> None:
        mp = self._manifest_path(table, round_no)
        os.makedirs(os.path.dirname(mp), exist_ok=True)
        tmp = mp + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, mp)  # commit point

    def compaction_rounds(self, table: str) -> list[int]:
        """Rounds whose manifest carries full snapshot data. Both
        manifest writers set ``kind``, so a manifest without one is
        corrupt and raises ``KeyError``."""
        return [
            r for r in self.committed_rounds(table)
            if self.read_manifest(table, r)["kind"] == "compaction"
        ]

    def committed_rounds(self, table: str) -> list[int]:
        d = f"{self.root}/{table}/_manifests"
        if not os.path.isdir(d):
            return []
        return sorted(
            int(f[:-5]) for f in os.listdir(d) if f.endswith(".json")
        )

    def latest_round(self, table: str) -> int | None:
        rounds = self.committed_rounds(table)
        return rounds[-1] if rounds else None

    def _read_snapshot(self, table: str, round_no: int) -> DataFrame:
        return self.spark.read.schema(CATALOG_TABLES[table]).parquet(
            self._snap_dir(table, round_no)
        )

    def read_manifest(self, table: str, round_no: int) -> dict:
        with open(self._manifest_path(table, round_no)) as f:
            return json.load(f)

    # ------------------------------------------------------ frontier view
    def read_frontier(self, upto_round: int) -> DataFrame:
        """Current frontier as of ``upto_round``: latest compaction
        snapshot + versioned deltas (SCD2 current view — Iceberg MERGE
        semantics on the parquet fallback).

        Per-round frontier writes are O(|changed rows|) (fetched,
        revived, admitted, dead-tombstoned), not O(|frontier|); every
        few rounds the round driver materializes the view as a
        snapshot so the delta chain stays bounded. The read plan is
        scale-friendly: the base is touched by one anti-join against
        the raw delta keys (broadcastable — bounded by rounds×plan
        size), and one ``url_hash`` window over the SMALL delta union
        picks each key's latest delta; only its upserts are kept.

        The deltas come from ``read_committed("frontier_v",
        upto_round)``, so a killed round's partial append stays out of
        the view; only the rounds after the base snapshot are kept.
        """
        comps = [r for r in self.compaction_rounds("frontier") if r <= upto_round]
        base_round = comps[-1]
        base = self._read_snapshot("frontier", base_round)
        if base_round == upto_round:
            return base
        deltas = self.read_committed("frontier_v", upto_round).where(
            F.col("round") > base_round
        )
        # a left anti join ignores duplicate keys, so the base only needs
        # the raw delta keys; the latest-delta window runs once, for kept rows
        survivors = base.join(deltas.select("url_hash"), "url_hash", "left_anti")
        w = Window.partitionBy("url_hash").orderBy(F.col("round").desc())
        keep = (
            deltas.withColumn("__rn", F.row_number().over(w))
            .where((F.col("__rn") == 1) & (F.col("op") == "upsert"))
            .select([f.name for f in FRONTIER.fields])
        )
        return survivors.select([f.name for f in FRONTIER.fields]).unionByName(keep)

    def frontier_history(self) -> list[int]:
        """Committed frontier rounds below the latest compaction: no
        read needs them (a view reads the latest compaction and later
        deltas, a round reads the previous round's seen manifest)."""
        latest_comp = self.compaction_rounds("frontier")[-1]
        return [r for r in self.committed_rounds("frontier") if r < latest_comp]

    def expire_frontier_round(self, round_no: int) -> None:
        """Remove round ``round_no``'s seen manifest, frontier snapshot
        and ``frontier_v`` partition, then its frontier manifest LAST:
        until that manifest goes, ``frontier_history`` still lists the
        round, so an expiry killed at any step is finished by the next
        one; the steps before it skip what is already gone. The
        ``seen/data`` partitions stay: they are the seen set."""
        seen_manifest = self._manifest_path("seen", round_no)
        if os.path.exists(seen_manifest):
            os.remove(seen_manifest)
        shutil.rmtree(self._snap_dir("frontier", round_no), ignore_errors=True)
        shutil.rmtree(self._append_dir("frontier_v", round_no), ignore_errors=True)
        os.remove(self._manifest_path("frontier", round_no))

    # ------------------------------------------------------- append tables
    def _append_dir(self, table: str, round_no: int) -> str:
        return f"{self.root}/{table}/data/round={round_no}"

    def append(self, df: DataFrame, table: str, round_no: int) -> None:
        _check_schema(df, table)
        df.write.mode("overwrite").parquet(self._append_dir(table, round_no))

    def read_committed(self, table: str, upto_round: int) -> DataFrame:
        """Appended ``table`` as of ``upto_round``: the union of its
        per-round partitions ``round <= upto_round``, read with the
        declared schema and the ``round`` partition column last (the one
        rule for every appended table; ``documents`` declares ``round``
        itself and gets it once). The bound is a partition filter, so
        later rounds are pruned, not scanned.

        Crash safety: appends beyond the last COMMITTED round are
        excluded by the bound, so a partial append from a killed round
        is invisible until its frontier manifest commits. The reader
        does not consult manifests: a caller outside the round names a
        committed round (``latest_round("frontier")``). The round writer
        names its own in-flight round on purpose where it reads what it
        has just appended before that round's frontier manifest exists:
        bootstrap's filter build, the filter rebuild and the compaction
        snapshot. A table with no round written yet reads as an empty
        frame with the same columns."""
        declared = [f for f in CATALOG_TABLES[table].fields if f.name != "round"]
        schema = T.StructType(declared + [T.StructField("round", T.IntegerType())])
        data = f"{self.root}/{table}/data"
        if not os.path.isdir(data):
            # no round written yet: the committed state is empty
            return self.spark.createDataFrame([], schema)
        return (
            self.spark.read.schema(schema)
            .option("basePath", data)
            .parquet(data)
            .where(F.col("round") <= upto_round)
        )

    # ------------------------------------------------------------- inputs
    def read_input(self, name: str) -> DataFrame:
        """External input ``name`` read with its declared schema
        (``schemas.INPUT_TABLES``), so no inference job runs. A declared
        read of an absent column would return NULLs, so one file footer
        is checked on the driver first: a missing or retyped declared
        column raises ``ValueError``, an input without parquet files
        ``FileNotFoundError`` and an undeclared input ``KeyError``.
        Undeclared extra columns are not read."""
        want = INPUT_TABLES[name]
        path = f"{self.root}/{name}"
        files = sorted(glob.glob(f"{path}/*.parquet"))
        if not files:
            raise FileNotFoundError(f"{name}: no parquet file under {path}")
        footer = pq.read_schema(files[0])
        _check_columns({f.name: from_arrow_type(f.type) for f in footer}, want, name)
        return self.spark.read.schema(want).parquet(path)
