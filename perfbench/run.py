#!/usr/bin/env python3
"""Benchmark of the lakeframe engine: one closed-loop client per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see ``workloads.py``): ``pipeline_analytics`` and
``lakehouse_dml``.  The run makes its inputs from ``--seed``, sets the
engine up, runs one untimed warm-up op of every class, then a fixed number
of whole rounds of the workload's rotation (``--seconds`` of nominal round
time, see ``timed_rounds``), checks every answer and prints, as its last
line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  The line before it is
a JSON detail record (sample counts, the tail's percentile, per-class and
per-round latencies, the set-up split, host speed).

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` alternates
traced and untraced rounds, reports the per-layer metrics, the tracing
overhead, and writes the span dump to ``.perfbench/traces/``.

Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


class Stopwatch:
    """Accumulates the time spent inside ``with`` blocks (the benchmark's
    own work, which set-up time excludes)."""

    def __init__(self):
        self.total = 0.0

    def __enter__(self):
        self._t = time.monotonic()

    def __exit__(self, *exc):
        self.total += time.monotonic() - self._t


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest percentile with at least ten
    samples beyond it, never below the median."""
    xs = sorted(values)
    i = max(len(xs) - 11, len(xs) // 2)
    return xs[i], 100.0 * (i + 1) / len(xs)


def timed_rounds(seconds: float, round_s: float, trace: int) -> int:
    """Rounds of the timed phase: ``seconds`` of nominal round time, at
    least two, and an even number in a traced run.  The count depends on
    ``--seconds`` only, never on how fast the host runs."""
    n = max(2, round(seconds / round_s))
    return n + n % 2 if trace else n


def pin_environment(work: Path) -> dict[str, str]:
    """Pin cores, scratch dirs and the worker import path so that nothing
    lands outside ``work``; return the session conf to add."""
    cpus = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # Python workers (mapInPandas, the versioned_changes stream source)
    # import the package: put the checkout on their path
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, str(ROOT))
    return {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def stop_engine(spark) -> None:
    """Stop Spark, its JVM and the Python workers, and wait until every
    process the run started has ended."""
    import counters
    from pyspark import SparkContext

    started = counters.process_tree()[1:]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while alive := [p for p in started if counters.running(p)]:
        if time.monotonic() > deadline + 10:
            break  # unkillable: leave it to the caller's process group
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sys.path.insert(0, str(HERE))
    from workloads import PKG, WORKLOADS

    if not (ROOT / PKG / "__init__.py").is_file() or not (ROOT / "tools" / "check.py").is_file():
        print(f"perfbench: the engine package {PKG}/ is not beside {HERE.name}/", file=sys.stderr)
        return 2

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench" / f"work-{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        result, detail = run(args, work, WORKLOADS[args.workload])
    finally:
        if "pyspark" in sys.modules:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
            if spark is not None:
                stop_engine(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result))
    return 0


def run(args, work: Path, workload_cls):
    import counters
    from spans import Tracer
    from workloads import OpFailed

    conf = pin_environment(work)
    bench = Stopwatch()
    wl = workload_cls(work, args.seed)
    with bench:
        wl.generate()

    from _spark_multi_format_data_lake_pipeline_spark.session import get_spark

    t = time.monotonic()
    spark = get_spark("perfbench", extra_conf=conf)
    session_start = time.monotonic() - t
    t = time.monotonic()
    spark.range(0, 200_000, numPartitions=4).selectExpr("sum(id)", "count(distinct id % 97)").collect()
    session_warmup = time.monotonic() - t
    wl.spark = spark
    t = time.monotonic()
    wl.build()
    build_s = time.monotonic() - t

    ops: list[dict] = []
    tracer = wl.tracer = Tracer()

    def do_op(cls: str, warm: bool = False, traced: bool = False) -> dict:
        op = {"i": len(ops), "cls": cls, "warm": warm, "traced": traced, "round": wl.round,
              "error": None, "work": 0}
        ops.append(op)
        tracer.op_id = op["i"]
        cpu0 = counters.tree_cpu_s()
        op["t0"] = time.time()
        t = time.perf_counter()
        idx = tracer.begin(f"op.{cls}") if traced else None
        try:
            op["work"] = wl.warmup(cls, op, bench) if warm else wl.run(cls, op)
            if not op["work"]:
                raise OpFailed(f"{cls} did no work")
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            op["error"] = f"{type(e).__name__}: {e}"[:300]
        finally:
            if idx is not None:
                tracer.end(idx)
        op["s"] = time.perf_counter() - t
        op["t1"] = time.time()
        op["cpu_s"] = counters.tree_cpu_s() - cpu0
        wl.after_op(op)
        return op

    # one warm-up op of every class not already run in set-up: caches fill
    # and code paths compile; the queries' warm-up results are checked in
    # full against their oracles
    with bench:
        wl.prepare_round()
    t = time.monotonic()
    for cls in wl.WARM_UP:
        do_op(cls, warm=True)
    warm_s = time.monotonic() - t
    setup_s = time.monotonic() - T_START - bench.total

    # the timed phase: a fixed number of whole rounds, so that the p50 and
    # tail ranks fall on the same ops however fast the host is; a traced
    # run alternates traced and untraced rounds and ends on an untraced one
    rounds = timed_rounds(args.seconds, wl.ROUND_S, args.trace)
    if args.trace:
        tracer.install(args.workload)
    host_before = counters.host_loop_ms()
    op_time = 0.0
    while wl.round < rounds:
        wl.round += 1
        with bench:
            wl.prepare_round()
        traced = bool(args.trace) and wl.round % 2 == 1
        tracer.enabled = traced
        for cls in wl.ROTATION:
            op_time += do_op(cls, traced=traced)["s"]
    tracer.enabled = False
    host_after = counters.host_loop_ms()
    peak_rss = counters.tree_peak_rss_mb()

    t = time.monotonic()
    try:
        fails = wl.check()
    except Exception as e:  # noqa: BLE001 — a check that cannot run fails the run
        fails = {-1: f"check raised {type(e).__name__}: {e}"[:300]}
    for i, msg in fails.items():
        ops[i]["error"] = ops[i]["error"] or msg
    check_s = time.monotonic() - t
    failed = [o for o in ops if o["error"]]
    timed = [o for o in ops if not o["warm"]]

    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "ops": len(timed), "rounds": wl.round, "op_time_s": round(op_time, 3),
        "round_s": [round(sum(o["s"] for o in timed if o["round"] == k), 3) for k in range(1, wl.round + 1)],
        "setup": {"session_start_s": session_start, "session_warmup_s": session_warmup,
                  "build_s": build_s, "warmup_pass_s": warm_s, "excluded_s": bench.total,
                  "check_s": check_s},
        "host_loop_ms": [host_before, host_after],
        "failures": [f"{o['cls']}: {o['error']}" for o in failed][:10],
    }
    if args.trace:
        import layers

        metrics = layers.per_layer(args.workload, wl, timed, tracer, spark, detail)
        metrics.update({
            "session.start_s": (session_start, "s"),
            "session.warmup_s": (session_warmup, "s"),
            "host.loop_ms_before": (host_before, "ms"),
            "host.loop_ms_after": (host_after, "ms"),
        })
        dump = ROOT / ".perfbench" / "traces" / f"{args.workload}-{args.seed}.json"
        dump.parent.mkdir(parents=True, exist_ok=True)
        dump.write_text(json.dumps({"spans": tracer.spans, "ops": ops, "self_times": tracer.self_times()}))
        detail["span_dump"] = str(dump.relative_to(ROOT))
        tracer.uninstall()
    else:
        lat = [o["s"] for o in timed]
        p50 = statistics.median(lat)
        tail_s, pct = tail(lat)
        detail["op_tail"] = {"percentile": round(pct, 1), "samples": len(lat), "beyond": len(lat) - 1 - sorted(lat).index(tail_s)}
        detail["class_s"] = {c: [round(o["s"], 3) for o in timed if o["cls"] == c] for c in wl.ROTATION}
        metrics = {
            "setup_s": (setup_s, "s"),
            "ops_per_s": (len(timed) / op_time, "1/s"),
            "op_p50_s": (p50, "s"),
            "op_tail_s": (tail_s, "s"),
            "cpu_s_per_op": (sum(o["cpu_s"] for o in timed) / len(timed), "s"),
            "peak_rss_mb": (peak_rss, "MB"),
        }
    result = {
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, detail


if __name__ == "__main__":
    sys.exit(main())
