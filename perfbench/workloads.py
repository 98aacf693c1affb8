"""The two workloads.  Each is a closed loop with one client that drives
the package only through its public functions.

A workload splits its work into the benchmark's own part (``generate``,
oracle answers, ``check``), which set-up time excludes, and the program's
part (``build`` and the ops), which it counts.  ``ROTATION`` is the op
classes of one round; the timed phase runs whole rounds, so every class
has the same number of samples in a run.
"""

from __future__ import annotations

import functools
import importlib
import sys
from pathlib import Path

from gen import LAKE_TABLES, LANDING, DmlPlan, lake_tables, landing_round

PKG = "_spark_multi_format_data_lake_pipeline_spark"


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


class OpFailed(Exception):
    """An op returned, but did no work or returned a wrong answer."""


def _pkg(mod: str):
    return importlib.import_module(f"{PKG}.{mod}")


class Workload:
    ROTATION: tuple[str, ...] = ()
    WARM_UP: tuple[str, ...] = ()  # classes of the warm-up pass
    ROUND_S = 1.0  # nominal length of one round: --seconds / ROUND_S rounds are timed

    def __init__(self, work: Path, seed: int):
        self.work, self.seed = work, seed
        self.spark = None
        self.tracer = None  # set by the runner; traced ops record spans on it
        self.round = 0

    def generate(self) -> None:
        """Write the seeded inputs (the benchmark's own work)."""

    def build(self) -> None:
        """Base tables the timed ops start from (the program's work)."""

    def prepare_round(self) -> None:
        """Make the next round's inputs (the benchmark's own work)."""

    def warmup(self, cls: str, op: dict, bench_time) -> int:
        """The untimed warm-up op of a class; ``bench_time`` times the
        benchmark's own checks inside it."""
        return self.run(cls, op)

    def run(self, cls: str, op: dict) -> int:
        """Run one op; return the work it did (rows or batches).  ``op`` is
        the op's record: its index ``i`` and whether it is ``traced``; a
        traced op may add layer figures to it."""
        raise NotImplementedError

    def after_op(self, op: dict) -> None:
        """Bookkeeping after every op, and the figures of a traced op that
        need work outside its timing."""

    def check(self) -> dict[int, str]:
        """Checks after the timed phase: {op index: failure}; index -1
        charges a failure no single op owns to the last op."""
        return {}


# -- pipeline_analytics -------------------------------------------------------

#: Read-only registered queries with DuckDB oracles: a top-k window, set
#: operations over a lineitem scan, a window sessionization, a text (BM25
#: retrieval) query and one that crosses the ``mapInPandas`` Arrow
#: boundary.  Queries that round a sum of two-decimal doubles to cents
#: (q01, q03, q05) are left out: where the exact sum ends in a half cent,
#: the engine and DuckDB sum in different orders and round it apart.
QUERY_SET = (
    "q20_top3_orders_per_customer",
    "q43_user_sessions",
    "q44_intersect_except_all",
    "q88_image_resize",
    "q146_bm25_topk",
)


class PipelineAnalytics(Workload):
    """The reference's two executables, ``run_ingestion`` of a landing
    directory into the staging database then ``run_merge`` from staging
    into the target database, followed by analysts' reads over the sf0.1
    lake, each run as ``QUERIES[name].fn(spark, sf).count()``.  Nothing
    here touches the versioned-table plane."""

    ROTATION = ("ingest", "merge") + QUERY_SET
    # set-up's ingest of the full landing directory is the ingest class's
    # warm-up; the merge warm-up merges that staging again, by MERGE now
    WARM_UP = ROTATION[1:]
    ROUND_S = 10.5
    ROWS, KEY_SPACE, POOL = 20_000, 25_000, 2

    def generate(self):
        import duckdb

        def landing(name, rnd, full=False):
            d = self.work / name
            return d, landing_round(d, self.seed, rnd, self.ROWS, self.KEY_SPACE, full=full)

        self.full = landing("landing_full", 0, full=True)
        self.pool = [landing(f"landing_{i}", i + 1) for i in range(self.POOL)]
        self.keyed = {f"{'text' if f == 'txt' else f}_{s}" for f, s, k in LANDING if k}
        self.sf = str(lake_tables(self.work / "sf0.1", self.seed))
        con = duckdb.connect()
        for t in LAKE_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'")
        self.queries = _pkg("queries").QUERIES
        self.oracle = {q: con.sql(self.queries[q].oracle).df() for q in QUERY_SET}
        self.rows = {q: len(df) for q, df in self.oracle.items()}

    def build(self):
        # CTAS: the first merge creates every target table
        self._ingest(*self.full)
        self._merge(self.full[1], ctas=True)

    def prepare_round(self):
        self.landing, self.expect = self.pool[self.round % self.POOL]

    def _ingest(self, landing: Path, expect: dict[str, tuple[int, int]]) -> int:
        rep = _pkg("pipeline").run_ingestion(self.spark, landing, database="staging")
        want = {t: n for t, (n, _) in expect.items()}
        got = {h.name: h.row_count for h in rep.tables}
        verified = {t: v["rows"] for t, v in rep.verification.items()}
        if got != want or verified != want:
            raise OpFailed(f"ingest landed {got}, verified {verified}, want {want}")
        return rep.total_rows

    def _merge(self, expect: dict[str, tuple[int, int]], ctas: bool = False) -> int:
        res = _pkg("pipeline").run_merge(self.spark, "staging", "target")
        rows = 0
        for t, (landed, final) in expect.items():
            r = res.get(t, {})
            strategy = "CREATE_TABLE" if ctas else "MERGE" if t in self.keyed else "INSERT_OVERWRITE"
            if (r.get("strategy"), r.get("source_rows"), r.get("final_rows")) != (strategy, landed, final):
                raise OpFailed(f"merge of {t}: {r}, want {strategy} of {landed} rows into {final}")
            rows += landed
        return rows

    def warmup(self, cls, op, bench_time):
        """The merge's warm-up merges set-up's staging again; a query's
        warm-up compares its full result with the oracle, canonicalised the
        way ``tools/check.py`` does it."""
        if cls == "merge":
            return self._merge(self.full[1])
        got = self.queries[cls].fn(self.spark, self.sf).toPandas()
        with bench_time:
            sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
            from check import canon

            want = self.oracle[cls]
            if sorted(got.columns) != sorted(want.columns) or canon(got) != canon(want):
                raise OpFailed(f"{cls}: result differs from its DuckDB oracle")
        return len(got)

    def run(self, cls, op):
        if cls == "ingest":
            return self._ingest(self.landing, self.expect)
        if cls == "merge":
            return self._merge(self.expect)
        if not op["traced"]:
            n = self.queries[cls].fn(self.spark, self.sf).count()
        else:  # split the op into query build, Catalyst planning and the action
            with self.tracer.span("queries.build"):
                df = self.queries[cls].fn(self.spark, self.sf)
            with self.tracer.span("catalyst.plan"):
                plan = df._jdf.queryExecution().executedPlan().toString()
            with self.tracer.span("queries.action"):
                n = df.count()
            op["exchanges"] = plan.count("Exchange ")
        if n != self.rows[cls] or n == 0:
            raise OpFailed(f"{cls}: {n} rows, oracle has {self.rows[cls]}")
        return n

    def after_op(self, op):
        if not op["traced"]:
            return
        if op["cls"] == "ingest":
            op["input_bytes"] = dir_bytes(self.landing)
        elif op["cls"] == "merge":  # the staged keyed tables are the merge's change set
            wh = Path(self.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"))
            op["changed_bytes"] = sum(dir_bytes(wh / "staging.db" / t) for t in self.keyed)


# -- lakehouse_dml ------------------------------------------------------------


class LakehouseDml(Workload):
    """One versioned table with the change data feed on, built from the
    sf0.1 ``orders``: upsert, copy-on-write delete, apply_changes, pruned
    read, replicate to a mirror, drain of the feed (stream engine)."""

    ROTATION = WARM_UP = ("upsert", "delete", "apply", "read", "replicate", "drain")
    ROUND_S = 8.5
    KEYS = ["o_orderkey"]

    def generate(self):
        import pyarrow.parquet as pq

        lake = lake_tables(self.work / "lake", self.seed, tables=("orders",))
        self.plan = DmlPlan(pq.read_table(lake / "orders.parquet"), self.seed, 2000, 200, 5000)
        pq.write_table(self.plan.base(), self.work / "base.parquet")
        self.table, self.mirror = str(self.work / "t"), str(self.work / "mirror")
        self.sink = str(self.work / "drained")
        self.commits: list[tuple[int, int, dict]] = []  # (op index, version, feed counts)
        self.replicas: list[tuple[int, int, int]] = []  # (op index, src version, dst version)
        self.replicated_to = self.drained_to = 0

    def build(self):
        V = _pkg("sinks.versioned")
        base = self.spark.read.parquet(str(self.work / "base.parquet"))
        V.versioned_write(base.repartitionByRange(4, "o_orderkey"), self.table)
        V.enable_change_data_feed(self.table)

    def prepare_round(self):
        self.r = self.plan.next_round(self.work / f"round_{self.round}")

    def run(self, cls, op):
        V = _pkg("sinks.versioned")
        S = _pkg("sources.versioned_stream")
        spark, r = self.spark, self.r
        if cls in ("upsert", "apply"):
            changes = spark.read.parquet(str(r["dir"] / f"{cls}.parquet"))
            verb = V.versioned_upsert if cls == "upsert" else V.versioned_apply_changes
            op["version"] = verb(changes, self.table, self.KEYS)
            self.commits.append((op["i"], op["version"], r[cls]))
            return sum(r[cls].values())
        if cls == "delete":
            lo, hi = r["delete_range"]
            op["version"] = V.versioned_delete(
                spark, self.table, f"o_orderkey BETWEEN {lo} AND {hi} AND o_orderkey % 4 = 3",
                prune_col="o_orderkey", lo=lo, hi=hi,
            )
            self.commits.append((op["i"], op["version"], r["delete"]))
            return r["delete"]["delete"]
        if cls == "read":
            lo, hi = r["read_range"]
            self.last_read = V.read_version_pruned(spark, self.table, "o_orderkey", lo, hi)
            n = self.last_read.count()
            if n != r["read_rows"]:
                raise OpFailed(f"pruned read of [{lo}, {hi}]: {n} rows, want {r['read_rows']}")
            return n
        if cls == "replicate":
            return S.replicate_versioned_changes(spark, self.table, self.mirror, str(self.work / "rep_ckpt"), self.KEYS)
        return S.drain_versioned_changes(
            spark, self.table, self.sink, str(self.work / "drain_ckpt"),
            extra_options={"readChangeFeed": "true"},
        )

    def after_op(self, op):
        from pyspark.sql import functions as F

        V = _pkg("sinks.versioned")
        cls, head = op["cls"], V.versions(self.table)[-1]
        if cls == "replicate":
            self.replicas.append((op["i"], head, V.versions(self.mirror)[-1]))
            op["rows_replicated"] = sum(sum(want.values()) for _, v, want in self.commits if v > self.replicated_to)
            self.replicated_to = head
        elif cls == "drain":
            op["lag_versions"] = head - self.drained_to
            self.drained_to = head
        elif not op["traced"] or op["error"]:
            return
        elif cls in ("upsert", "apply"):
            op["change_bytes"] = (self.r["dir"] / f"{cls}.parquet").stat().st_size
        elif cls == "read":
            op["files_scanned"] = len(self.last_read.inputFiles())
            op["files_hit"] = self.last_read.select(F.input_file_name()).distinct().count()

    def file_stats(self, commit_ops: list[dict]) -> dict:
        """Data files each commit added and removed, its manifest size,
        the live file count now, and the bytes of the data files that
        upserts and applies added per byte of their change sets, read from
        the table's manifests through the public snapshot reader and from
        the file sizes on disk."""
        V = _pkg("sinks.versioned")

        def files(v):
            return set(V.read_version(self.spark, self.table, v).inputFiles())

        added = removed = kb = written = changed = 0.0
        for o in commit_ops:
            before, after = files(o["version"] - 1), files(o["version"])
            added += len(after - before)
            removed += len(before - after)
            kb += (Path(self.table) / "_manifests" / f"v{o['version']}.json").stat().st_size / 1024
            if "change_bytes" in o:
                written += sum(Path(f.removeprefix("file:")).stat().st_size for f in after - before)
                changed += o["change_bytes"]
        k = max(1, len(commit_ops))
        return {"added": added / k, "removed": removed / k, "manifest_kb": kb / k,
                "live": len(files(None)), "write_amp": written / changed if changed else 0.0}

    def check(self):
        """Feed counts of every commit, mirror == source at every
        replicate, drained rows == feed rows, live row count.  Snapshots
        compare by row count and an order-insensitive row checksum, all
        of them in one job."""
        from pyspark.sql import functions as F

        V = _pkg("sinks.versioned")
        spark = self.spark
        fails: dict[int, str] = {}
        feed = V.read_change_feed(spark, self.table, from_version=0)
        counts = {
            (r["_commit_version"], r["_change_type"]): r["count"]
            for r in feed.groupBy("_commit_version", "_change_type").count().collect()
        }
        for i, v, want in self.commits:
            got = {k: n for (cv, k), n in counts.items() if cv == v and k != "update_preimage"}
            if got != {k: n for k, n in want.items() if n}:
                fails[i] = f"commit v{v}: feed {got}, want {want}"

        def digest(df, label):
            return df.select(F.lit(label).alias("label"), F.xxhash64(*df.columns).cast("decimal(38,0)").alias("h"))

        parts = [digest(spark.read.parquet(self.sink).select(*feed.columns), "drained"), digest(feed, "feed"),
                 digest(V.read_version(spark, self.table), "live")]
        for k, (_, sv, dv) in enumerate(self.replicas):
            parts += [digest(V.read_version(spark, self.table, sv), f"src{k}"),
                      digest(V.read_version(spark, self.mirror, dv), f"dst{k}")]
        sums = {
            r["label"]: (r["n"], r["h"])
            for r in functools.reduce(lambda a, b: a.unionAll(b), parts)
            .groupBy("label").agg(F.count("*").alias("n"), F.sum("h").alias("h")).collect()
        }
        for k, (i, sv, dv) in enumerate(self.replicas):
            if sums[f"src{k}"] != sums[f"dst{k}"]:
                fails[i] = f"mirror v{dv} differs from source v{sv}"
        if sums["drained"] != sums["feed"]:
            fails[-1] = "drained rows differ from the change feed"
        if sums["live"][0] != self.r["live_rows"]:
            fails[-1] = f"table holds {sums['live'][0]} rows, want {self.r['live_rows']}"
        return fails


WORKLOADS = {"pipeline_analytics": PipelineAnalytics, "lakehouse_dml": LakehouseDml}
