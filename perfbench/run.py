"""Benchmark entry point. From the root of a checkout:

    python3 perfbench/run.py --workload daily_ingest --seed 1 --seconds 10 --trace 0

Runs one workload against the engine in this checkout on ``local[N]``
(N = the machine's cores), prints every metric with its unit, checks
every output, and prints one JSON object as the last line of stdout. With
``--trace 1`` the calls into each layer are wrapped and the per-layer
metrics are printed instead of the end-to-end ones. Each workload runs a
fixed set of ops (two pipeline days, one pass over the gates), which at
4 cores takes longer than ``--seconds`` = 10; ``--seconds`` does not
change the op count. See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = HERE / "data" / "sf0.1"
WORKLOADS = ("daily_ingest", "iterative_gates")


def _since_process_start() -> float:
    """Seconds since this process was started, from /proc (10 ms ticks)."""
    ticks = os.sysconf("SC_CLK_TCK")
    with open("/proc/self/stat") as fh:
        start = int(fh.read().rsplit(")", 1)[1].split()[19]) / ticks
    with open("/proc/uptime") as fh:
        return float(fh.read().split()[0]) - start


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                kids = [int(k) for k in fh.read().split()]
        except OSError:
            continue
        for k in kids:
            out += [k, *_descendants(k)]
    return out


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _isolate(work: Path) -> None:
    """Keep Spark's and Python's scratch files inside the checkout."""
    for sub in ("spark-local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    )


def _stop_spark(spark) -> None:
    """Stop the session and its JVM and wait for every process they ran."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in kids:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)


def _warm_sql(spark) -> None:
    """One query over the sf0.1 inputs, loaded through the engine's
    ``load_table``, through scan, shuffle join, aggregate, window and
    sort. First-use JIT and code generation of these common operators is
    then paid in set-up rather than by whichever op runs first."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_data_peri_institute_spark.sources.tables import load_table

    li = load_table(spark, str(DATA), "lineitem")
    od = load_table(spark, str(DATA), "orders")
    per_cust = (li.join(od, li.l_orderkey == od.o_orderkey)
                .groupBy("o_custkey").agg(F.sum("l_quantity").alias("q")))
    w = Window.partitionBy(F.col("o_custkey") % 16).orderBy(F.desc("q"), "o_custkey")
    per_cust.withColumn("r", F.row_number().over(w)).filter("r <= 2").orderBy("o_custkey").collect()


def _fmt(v: float) -> str:
    return f"{v:.6g}"


def end_to_end(wl: str, setup_s: float, out, rss_mb: float) -> dict[str, tuple[float, str]]:
    """The untraced metrics. ``peak_rss_mb`` is printed here but reported
    per layer: the JVM's heap grows with GC timing, so it is not steady
    enough to carry a regression bound."""
    import stats

    walls = out.op_walls
    p, tail_v, beyond, qualified = stats.tail(walls)
    m = {
        "setup_s": (setup_s, "s"),
        "op_s_p50": (stats.median(walls), "s"),
        "op_s_tail": (tail_v, "s"),
        "ops_per_s": (len(walls) / out.phase_wall, "1/s"),
        "ingest_rows_per_s": (out.rows / out.rows_wall if out.rows_wall else 0.0, "rows/s"),
        "store_bytes_per_row": (out.bytes_per_row, "B/row"),
    }
    notes = {
        "op_s_p50": f"n={len(walls)} ops",
        "op_s_tail": (f"p{p:g}, n={len(walls)}, {beyond} beyond"
                      + ("" if qualified else
                         "; fewer than 20 ops, so no percentile has 10 beyond: "
                         "the median is shown")),
        "ops_per_s": f"{len(walls)} ops in {out.phase_wall:.3f} s",
        "ingest_rows_per_s": (
            f"{out.rows} rows landed in {out.rows_wall:.3f} s of pipeline days"
            if wl == "daily_ingest" else
            f"{out.rows} result rows collected in {out.rows_wall:.3f} s of queries"),
        "store_bytes_per_row": (
            f"{out.extra.get('live_bytes')} live parquet bytes / "
            f"{out.extra.get('stored_rows')} stored rows"
            if wl == "daily_ingest" else
            f"{out.extra.get('shuffle_write')} shuffle bytes written by "
            f"{out.extra.get('phase_jobs')} jobs / {out.rows} result rows"),
    }
    print(f"[{wl}] end-to-end (tracing off)")
    for k, (v, unit) in m.items():
        print(f"  {k:<22} {_fmt(v):>12} {unit:<6}  {notes.get(k, '')}")
    err = out.failed / out.attempted if out.attempted else 1.0
    print(f"  {'error_rate':<22} {_fmt(err):>12} {'ratio':<6}  "
          f"{out.failed} failed of {out.attempted} attempted")
    print(f"  {'peak_rss_mb':<22} {_fmt(rss_mb):>12} {'MB':<6}  "
          "VmHWM of the Python driver plus its JVM (no bound)")
    return m


LAYERS = ("sources.grid", "transforms", "operators.integrity", "sinks",
          "pipeline", "sources.tables", "plans", "spark")


def per_layer(wl: str, tracer, out, cores: int, rss_mb: float) -> dict[str, tuple[float, str]]:
    import tracing

    spans = tracer.spans
    selfs = tracing.self_times(spans)
    by_id = {s.sid: s for s in spans}
    n = max(len(out.op_walls), 1)
    op_wall = sum(out.op_walls)
    stats_of = tracer.stats

    def under(s, layer: str) -> bool:
        while s is not None:
            if s.layer == layer:
                return True
            s = by_id.get(s.parent)
        return False

    def jobs(pred) -> int:
        return sum(stats_of[s.sid].jobs for s in spans if s.sid in stats_of and pred(s))

    def inclusive(layer: str) -> float:
        return sum(s.end - s.start for s in spans if s.layer == layer
                   and not under(by_id.get(s.parent), layer))

    total = tracing.JobStats()
    for st in stats_of.values():
        total.add(st)
    sink_out = sum(stats_of[s.sid].output_bytes for s in spans
                   if s.layer == "sinks" and s.sid in stats_of)
    m: dict[str, tuple[float, str]] = {}
    span_count = {layer: sum(1 for s in spans if s.layer == layer) for layer in LAYERS}
    for layer in LAYERS:
        mine = [s for s in spans if s.layer == layer]
        if layer in ("pipeline", "plans", "spark"):
            continue
        m[f"{layer}.busy_s"] = (sum(selfs[s.sid] for s in mine) / n, "s/op")
        m[f"{layer}.jobs"] = (jobs(lambda s, layer=layer: s.layer == layer) / n, "jobs/op")
    m["sources.tables.calls"] = (span_count["sources.tables"] / n, "calls/op")
    m["pipeline.self_s"] = (sum(selfs[s.sid] for s in spans if s.layer == "pipeline") / n,
                            "s/op")
    m["pipeline.jobs"] = (jobs(lambda s: s.layer == "pipeline") / n, "jobs/op")
    m["plans.build_s"] = (inclusive("plans") / n, "s/op")
    m["plans.build_jobs"] = (jobs(lambda s: under(s, "plans")) / n, "jobs/op")
    m["sinks.bytes_written"] = (sink_out / n, "B/op")
    live = out.extra.get("live_bytes", 0)
    m["sinks.live_bytes"] = (float(live), "B")
    m["sinks.live_files"] = (float(out.extra.get("live_files", 0)), "count")
    m["sinks.write_amplification"] = (sink_out / live if live else 0.0, "ratio")
    cat = [c for c in out.extra.get("catalyst_ms", []) if c is not None]
    m["spark.catalyst_ms"] = (sum(cat) / len(cat) if cat else 0.0, "ms/op")
    m["spark.execute_s"] = (inclusive("spark") / n, "s/op")
    m["spark.collect_jobs"] = (jobs(lambda s: s.layer == "spark") / n, "jobs/op")
    m["spark.jobs"] = (float(total.jobs), "count")
    m["spark.jobs_per_op"] = (total.jobs / n, "jobs/op")
    m["spark.shuffle_write_bytes"] = (total.shuffle_write / n, "B/op")
    m["spark.spill_bytes"] = (total.spill / n, "B/op")
    m["spark.tasks"] = (total.tasks / n, "tasks/op")
    m["spark.failed_tasks"] = (float(total.failed_tasks), "count")
    m["spark.executor_run_s"] = (total.run_ms / 1000.0, "s")
    m["spark.core_utilization"] = (total.run_ms / 1000.0 / (op_wall * cores) if op_wall else 0.0,
                                   "ratio")
    m["peak_rss_mb"] = (rss_mb, "MB")
    m["op_wall_s"] = (op_wall, "s")
    m["self_time_sum_s"] = (sum(selfs.values()), "s")
    m["trace.overhead_s"] = (tracer.overhead_s, "s")
    base = out.phase_wall - tracer.overhead_s
    m["trace_overhead_pct"] = (100.0 * tracer.overhead_s / base if base > 0 else 0.0, "%")

    avail = "" if tracer.probe.available else "  (Spark job data unavailable: not a classic session)"
    print(f"[{wl}] per layer (traced run; per-op figures are totals / {n} ops){avail}")
    for layer in LAYERS:
        keys = [k for k in m if k.startswith(layer + ".")]
        print(f"  {layer} ({span_count[layer]} spans)  "
              + "  ".join(f"{k}={_fmt(m[k][0])} {m[k][1]}" for k in keys))
    print(f"  spark.jobs_per_op = {total.jobs} jobs / {n} ops; "
          f"spark.core_utilization = {total.run_ms / 1000.0:.3f} executor-s / "
          f"({op_wall:.3f} s x {cores} cores); "
          f"sinks.write_amplification = {sink_out} B written / {live} live B "
          f"in {m['sinks.live_files'][0]:g} files")
    print(f"  self times sum to {sum(selfs.values()):.3f} s over {len(spans)} spans; "
          f"op wall {op_wall:.3f} s over {n} ops; "
          f"catalyst sampled on {len(cat)} ops; "
          f"trace_overhead_pct = {tracer.overhead_s:.3f} s tracer time / {base:.3f} s "
          f"untraced-equivalent phase wall")
    if wl == "daily_ingest":
        # Fixed by the input; a difference is a failed day, not a slower one.
        print(f"  pipeline.rows_rejected = {out.extra.get('rejected', 0)} audit rows "
              f"(generator expects {out.extra.get('expected_rejected', 0)})")
    return m


def main(argv: list[str] | None = None) -> int:
    # /proc gives process age in 10 ms ticks; the rest of set-up is timed
    # with the high-resolution clock.
    t_main, age_at_main = time.perf_counter(), _since_process_start()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "etl_data_peri_institute_spark").is_dir() or not (
        ROOT / "tools" / "oracle_check.py"
    ).is_file():
        print(f"perfbench: no engine next to {HERE} (expected "
              "etl_data_peri_institute_spark/ and tools/oracle_check.py)", file=sys.stderr)
        return 2

    work = HERE / ".work" / f"run-{os.getpid()}"
    _isolate(work)
    sys.path[:0] = [str(HERE), str(ROOT)]
    import tracing
    import workloads

    spark = None
    try:
        # ---- set-up: imports, catalog, session, warm-ups --------------
        from etl_data_peri_institute_spark.plans import catalog
        from etl_data_peri_institute_spark.session import default_parallelism, get_spark

        catalog.load_all()
        spark = get_spark("perfbench")
        spark.read.parquet(str(DATA / "lineitem.parquet")).count()

        def _warm_arrow(batches):
            yield from batches

        (spark.range(10_000, numPartitions=default_parallelism())
         .mapInArrow(_warm_arrow, "id long").write.format("noop").mode("overwrite").save())
        _warm_sql(spark)
        setup_s = age_at_main + (time.perf_counter() - t_main)

        # ---- inputs and oracle (not part of set-up) -------------------
        tracer = None
        if args.trace:
            tracer = tracing.Tracer(tracing.SparkProbe(spark))
            if args.workload == "daily_ingest":
                tracing.install_daily(tracer)
            else:
                tracing.install_tables(tracer)
        if args.workload == "daily_ingest":
            out = workloads.daily_ingest(spark, args.seed, work, tracer)
        else:
            expected = workloads.gate_answers(DATA, HERE / ".cache", work / "tmp")
            out = workloads.iterative_gates(spark, DATA, expected, tracer)
        if tracer:
            tracer.uninstall()

        from pyspark import SparkContext

        jvm = getattr(SparkContext._gateway, "proc", None)
        rss_mb = (_vm_hwm_kb("self") + (_vm_hwm_kb(jvm.pid) if jvm else 0)) / 1024.0
        cores = default_parallelism()
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for msg in out.failures[:20]:
        print(f"FAILED {msg}")
    print("op walls: " + ", ".join(
        f"{name} {wall:.3f} s" for name, wall in zip(out.op_names, out.op_walls)))
    if args.trace:
        metrics = per_layer(args.workload, tracer, out, cores, rss_mb)
    else:
        metrics = end_to_end(args.workload, setup_s, out, rss_mb)
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
