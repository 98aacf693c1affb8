"""Per-layer metrics of a traced run.

Every per-layer name ``BENCHMARK.json`` declares is reported on every
workload; a layer the workload does not run reads 0.  Timings come from
the spans the benchmark records around the package's public functions
(``spans.py``); Spark's jobs, stages, tasks and bytes come from its status
store, attributed to an op by the window of job ids submitted while the op
ran.
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path

from counters import StatusStore
from workloads import QUERY_SET


def _declared() -> dict[str, str]:
    """Per-layer metric names and units, as ``BENCHMARK.json`` declares them."""
    spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    names = {m["name"]: m["unit"] for m in spec["per_layer"]}
    queries = {n for n in names if n.startswith("query.")}
    want = {f"query.{q.split('_')[0]}_s" for q in QUERY_SET}
    if queries != want:
        raise RuntimeError(f"BENCHMARK.json declares {sorted(queries)}, the rotation runs {sorted(want)}")
    return names


NAMES = _declared()


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _div(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(workload: str, wl, ops: list[dict], tracer, spark, detail: dict) -> dict:
    traced = [o for o in ops if o["traced"]]
    plain = [o for o in ops if not o["traced"]]
    n = len(traced)
    store = StatusStore(spark)
    self_t = tracer.self_times()

    def layer_s(prefix: str) -> float:
        return sum(v for k, v in self_t.items() if k == prefix or k.startswith(prefix + "."))

    def span_jobs(name: str, top: bool = False) -> list[dict]:
        jobs = []
        for s in tracer.spans:
            if s["name"] == name and s["end"] and (
                not top or tracer.spans[s["parent"]]["name"].startswith("op.")
            ):
                jobs += store.window(s["start"], s["end"])
        return jobs

    m: dict[str, tuple[float, str]] = {k: (0.0, u) for k, u in NAMES.items()}

    def put(name: str, value: float) -> None:
        m[name] = (float(value), NAMES[name])

    # -- Spark, the driver, and how much of each op the spans account for
    tot = {"jobs": 0, "stages": 0, "tasks": 0, "cpu_s": 0.0, "run_s": 0.0, "gc_s": 0.0,
           "shuffle_b": 0, "input_b": 0, "output_b": 0}
    outside = wall = 0.0
    for o in traced:
        jobs = store.window(o["t0"], o["t1"])
        for k, v in store.totals(jobs).items():
            tot[k] += v
        outside += (o["t1"] - o["t0"]) - store.busy_s(jobs, o["t0"], o["t1"])
        wall += o["t1"] - o["t0"]
    cores = int(spark.sparkContext.defaultParallelism)
    put("spark.jobs_per_op", _div(tot["jobs"], n))
    put("spark.stages_per_op", _div(tot["stages"], n))
    put("spark.tasks_per_op", _div(tot["tasks"], n))
    put("spark.executor_cpu_s_per_op", _div(tot["cpu_s"], n))
    put("spark.gc_s_per_op", _div(tot["gc_s"], n))
    put("spark.shuffle_mb_per_op", _div(tot["shuffle_b"] / 2**20, n))
    put("spark.input_mb_per_op", _div(tot["input_b"] / 2**20, n))
    put("spark.output_mb_per_op", _div(tot["output_b"] / 2**20, n))
    put("spark.task_busy_frac", _div(tot["run_s"], wall * cores))
    put("driver.outside_jobs_s_per_op", _div(outside, n))
    layer_total = sum(v for k, v in self_t.items() if not k.startswith("op."))
    put("trace.accounted_frac", _div(layer_total, wall))
    t_ops = sum(o["s"] for o in traced)
    p_ops = sum(o["s"] for o in plain)
    if t_ops and p_ops:
        put("trace.overhead_frac", 1 - (len(traced) / t_ops) / (len(plain) / p_ops))
    detail["self_times_s"] = {k: round(v, 4) for k, v in sorted(self_t.items())}
    detail["spark_totals"] = tot

    if workload == "pipeline_analytics":
        files = {fmt: tracer.durations(f"sources.readers.{fmt}") for fmt in ("csv", "json", "parquet", "text")}
        n_files = sum(len(v) for v in files.values())
        put("readers.s_per_op", _div(layer_s("sources.readers"), n))
        for fmt, ds in files.items():
            put(f"readers.{fmt}_s", _med(ds))
        put("readers.jobs_per_file", _div(
            sum(len(span_jobs(f"sources.readers.{f}")) for f in files), n_files))
        put("writer.write_s_per_op", _div(layer_s("sinks.writer.write"), n))
        put("writer.verify_s_per_op", _div(layer_s("sinks.writer.verify"), n))
        written = store.totals(span_jobs("sinks.writer.write"))["output_b"]
        landed = sum(o.get("input_bytes", 0) for o in traced)
        put("writer.bytes_per_input_byte", _div(written, landed))
        put("merge.merge_s_per_table", _med(tracer.durations("sinks.merge.merge")))
        put("merge.overwrite_s_per_table", _med(tracer.durations("sinks.merge.overwrite")))
        rewritten = store.totals(span_jobs("sinks.merge.merge"))["output_b"]
        changed = sum(o.get("changed_bytes", 0) for o in traced)
        put("merge.rewrite_bytes_per_changed_byte", _div(rewritten, changed))
        put("catalog.calls_per_op", _div(tracer.count("catalog"), n))
        put("catalog.s_per_op", _div(layer_s("catalog"), n))

        put("lake.load_s_per_op", _div(layer_s("sources.lake"), n))
        # the query function's own time, outside the lake loads and llm calls it makes
        put("queries.build_s_per_op", _div(self_t.get("queries.build", 0.0), n))
        put("queries.action_s_per_op", _div(self_t.get("queries.action", 0.0), n))
        put("catalyst.plan_s_per_op", _div(self_t.get("catalyst.plan", 0.0), n))
        put("catalyst.exchanges_per_op", _div(sum(o.get("exchanges", 0) for o in traced), n))
        put("llm.s_per_op", _div(layer_s("llm"), n))
        mb = rows = 0.0
        for o in traced:
            a, b = store.python_exec(o["t0"], o["t1"])
            mb, rows = mb + a, rows + b
        put("arrow.python_mb_per_op", _div(mb, n))
        put("arrow.python_rows_per_op", _div(rows, n))
        for q in QUERY_SET:
            put(f"query.{q.split('_')[0]}_s", _med(o["s"] for o in ops if o["cls"] == q))

    if workload == "lakehouse_dml":
        for verb in ("upsert", "delete", "apply", "read_pruned"):
            put(f"versioned.{verb}_s", _med(tracer.durations(f"sinks.versioned.{verb}", top=True)))
        commit_spans = ("sinks.versioned.upsert", "sinks.versioned.delete", "sinks.versioned.apply")
        # the op's own commits only: replicate's mirror commits nest under it
        n_commits = sum(tracer.count(s, top=True) for s in commit_spans)
        commit_jobs = [j for s in commit_spans for j in span_jobs(s, top=True)]
        put("versioned.jobs_per_commit", _div(len(commit_jobs), n_commits))
        fs = wl.file_stats([o for o in traced if o["cls"] in ("upsert", "delete", "apply") and "version" in o])
        put("versioned.write_amp", fs["write_amp"])
        put("versioned.files_added_per_commit", fs["added"])
        put("versioned.files_removed_per_commit", fs["removed"])
        put("versioned.manifest_kb_per_commit", fs["manifest_kb"])
        put("versioned.live_files", fs["live"])
        reads = [o for o in traced if o["cls"] == "read"]
        put("versioned.files_scanned_per_read", _med(o.get("files_scanned", 0) for o in reads))
        put("versioned.read_hit_ratio", _div(sum(o.get("files_hit", 0) for o in reads),
                                             sum(o.get("files_scanned", 0) for o in reads)))
        drains = [o for o in traced if o["cls"] == "drain"]
        reps = [o for o in traced if o["cls"] == "replicate"]
        put("drain.s_per_op", _med(tracer.durations("sources.versioned_stream.drain")))
        put("drain.batches_per_op", _div(sum(o["work"] or 0 for o in drains), len(drains)))
        put("drain.s_per_batch", _div(sum(tracer.durations("sources.versioned_stream.drain")),
                                      sum(o["work"] or 0 for o in drains)))
        put("replicate.s_per_op", _med(tracer.durations("sources.versioned_stream.replicate")))
        slices = sum(o["work"] or 0 for o in reps)
        put("replicate.slices_per_op", _div(slices, len(reps)))
        put("replicate.rows_per_slice", _div(sum(o["rows_replicated"] for o in reps), slices))
        put("stream.lag_versions", _med(o["lag_versions"] for o in drains))
    return m
