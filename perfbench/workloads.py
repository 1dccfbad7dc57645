"""The benchmark's workloads, run through the engine's public functions.

One client drives each workload in a closed loop: the next op starts when
the previous one has returned and been checked. Each workload runs a
fixed set of ops, whatever the run's ``--seconds``: a median over a
number of ops that grew with speed would mix cold and warm ops
differently from run to run.

- ``daily_ingest``: one op is one ``pipeline.run_pipeline`` day, in date
  order, into one fresh ``ParquetStore``. The generator's two target
  days run; together they take every branch of the pipeline that its
  default drop-and-audit policy reaches. Each day is checked against the
  generator's ground truth.
- ``iterative_gates``: one op is one catalog query built and collected.
  One pass over the five gates runs, in a fixed order, and each result
  is checked against its DuckDB oracle. The order is fixed: the first op
  of a run pays a few seconds of first-use cost, and with a seeded order
  the median moved with whichever gate drew it.
"""

from __future__ import annotations

import csv
import time
from dataclasses import dataclass, field
from pathlib import Path

import gridgen
import oracle
import tracing

# d_minhash_band_sweep is left out: a pass must fit the benchmark's
# run-time budget (see README.md).
GATES = (
    "g_pagerank_suppliers",
    "g_triangle_count",
    "g_label_propagation",
    "e_ivf_quantizer_churn",
    "e_recall_cost_frontier",
)
TABLE_NAMES = ("cursos", "estudiantes", "matriculas", "pagos")
# The untraced run's jobs, read back after the timed phase.
PHASE_GROUP = "perfbench-phase"


@dataclass
class Outcome:
    """What a timed phase leaves for the report."""

    op_walls: list[float] = field(default_factory=list)
    op_names: list[str] = field(default_factory=list)
    phase_wall: float = 0.0
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    rows: int = 0  # rows landed (daily_ingest) or result rows collected (gates)
    rows_wall: float = 0.0  # wall time of the correct ops
    bytes_per_row: float = 0.0
    extra: dict = field(default_factory=dict)


def _parquet_files(table_dir: Path) -> list[Path]:
    if not table_dir.is_dir():
        return []
    return sorted(
        p for p in table_dir.rglob("*.parquet")
        if not any(part.startswith((".", "_")) for part in p.relative_to(table_dir).parts)
    )


def _rows_and_cents(files: list[Path], money_col: str | None) -> tuple[int, int]:
    import pyarrow.parquet as pq

    rows = cents = 0
    for f in files:
        t = pq.read_table(f)
        rows += t.num_rows
        if money_col:
            cents += sum(round(v * 100) for v in t.column(money_col).to_pylist()
                         if v is not None)
    return rows, cents


def _audit_rows(paths: list[str]) -> dict[str, int]:
    out = {reason: 0 for reason in gridgen.AUDIT_REASONS}
    for path in paths:
        reason = next(r for r in gridgen.AUDIT_REASONS if Path(path).name.startswith(r))
        for part in Path(path).glob("part-*.csv"):
            with open(part, newline="") as fh:
                out[reason] += max(0, sum(1 for _ in csv.reader(fh)) - 1)
    return out


def store_footprint(root: Path) -> tuple[int, int, int]:
    """(live parquet bytes, live files, rows) over the four tables."""
    import pyarrow.parquet as pq

    files = [f for t in TABLE_NAMES for f in _parquet_files(root / t)]
    rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return sum(f.stat().st_size for f in files), len(files), rows


def check_day(store_root: Path, truth: gridgen.DayTruth, counts: dict[str, int],
              rejects: dict[str, int], new_files: dict[str, list[Path]]) -> list[str]:
    """Every way a pipeline day can disagree with the ground truth."""
    errs = []
    if counts != truth.counts:
        errs.append(f"counts {counts} != {truth.counts}")
    for table, col in (("matriculas", "valor_matricula"), ("pagos", "monto_pago")):
        rows, cents = _rows_and_cents(new_files[table], col)
        if (rows, cents) != (truth.counts[table], truth.cents[table]):
            errs.append(f"{table} landed {rows} rows / {cents} cents, expected "
                        f"{truth.counts[table]} / {truth.cents[table]}")
    for table in ("cursos", "estudiantes"):
        rows, _ = _rows_and_cents(_parquet_files(store_root / table), None)
        if rows != truth.counts[table]:
            errs.append(f"{table} holds {rows} rows, expected {truth.counts[table]}")
    if rejects != truth.rejects:
        errs.append(f"audit rows {rejects} != {truth.rejects}")
    return [f"{truth.target}: {e}" for e in errs]


def daily_ingest(spark, seed: int, work: Path, tracer: tracing.Tracer | None) -> Outcome:
    from etl_data_peri_institute_spark.pipeline import run_pipeline
    from etl_data_peri_institute_spark.sinks import ParquetStore

    wb = gridgen.generate(seed)
    root = work / "store"
    store = ParquetStore(spark, str(root))
    out = Outcome()
    run = tracer.wrap("pipeline", run_pipeline) if tracer else run_pipeline
    t_phase = time.perf_counter()
    for i, truth in enumerate(wb.truth):
        grids = wb.grids_for(i)
        before = {t: set(_parquet_files(root / t)) for t in ("matriculas", "pagos")}
        out.attempted += 1
        if tracer:
            tracer.op = i
        out.op_names.append(truth.target)
        t0 = time.perf_counter()
        try:
            result = run(spark, grids, store, target_date=truth.target)
        except Exception as ex:  # a failed op is counted, the run goes on
            out.op_walls.append(time.perf_counter() - t0)
            out.failed += 1
            out.failures.append(f"{truth.target}: {type(ex).__name__}: {ex}")
            continue
        dt = time.perf_counter() - t0
        out.op_walls.append(dt)
        if tracer:
            tracer.collect_op(i)
        new = {t: sorted(set(_parquet_files(root / t)) - before[t]) for t in before}
        rejects = _audit_rows(result.audits)
        errs = check_day(root, truth, result.counts, rejects, new)
        out.failures.extend(errs)
        out.failed += bool(errs)
        if not errs:
            out.rows += sum(result.counts.values())
            out.rows_wall += dt
        out.extra["rejected"] = out.extra.get("rejected", 0) + sum(rejects.values())
        out.extra["expected_rejected"] = (out.extra.get("expected_rejected", 0)
                                          + sum(truth.rejects.values()))
    out.phase_wall = time.perf_counter() - t_phase
    live_bytes, live_files, stored_rows = store_footprint(root)
    out.bytes_per_row = live_bytes / max(stored_rows, 1)
    out.extra.update(live_bytes=live_bytes, live_files=live_files, stored_rows=stored_rows)
    return out


def gate_answers(data_dir: Path, cache_dir: Path, tmp_dir: Path) -> dict[str, tuple]:
    from etl_data_peri_institute_spark.plans import catalog

    sqls = {n: catalog.ORACLES[n] for n in GATES}
    return oracle.answers(data_dir, cache_dir, tmp_dir, sqls)


def iterative_gates(spark, data_dir: Path, expected: dict[str, tuple],
                    tracer: tracing.Tracer | None) -> Outcome:
    """One pass over the gates. Untraced, the pass runs under one Spark
    job group, whose jobs give the bytes the gates put on disk in place
    of a store: the shuffle files they write."""
    from etl_data_peri_institute_spark.plans import catalog

    sf_dir = str(data_dir)
    out = Outcome()
    results = []
    catalyst = []
    probe = None if tracer else tracing.SparkProbe(spark)
    if probe:
        probe.set_group(PHASE_GROUP, "iterative_gates")
    t_phase = time.perf_counter()
    for op, name in enumerate(GATES):
        fn = catalog.QUERIES[name].fn
        out.attempted += 1
        if tracer:
            tracer.op = op
        out.op_names.append(name)
        t0 = time.perf_counter()
        try:
            if tracer:
                df = tracer.call("plans", fn, spark, sf_dir)
                rows = tracer.call("spark", df.collect)
            else:
                df = fn(spark, sf_dir)
                rows = df.collect()
        except Exception as ex:  # a failed op is counted, the run goes on
            out.op_walls.append(time.perf_counter() - t0)
            out.failed += 1
            out.failures.append(f"{name}: {type(ex).__name__}: {ex}")
            continue
        dt = time.perf_counter() - t0
        out.op_walls.append(dt)
        if tracer:
            t1 = time.perf_counter()
            catalyst.append(tracing.catalyst_ms(df))
            tracer.overhead_s += time.perf_counter() - t1
            tracer.collect_op(op)
        results.append((name, df.columns, [tuple(r) for r in rows], dt))
    out.phase_wall = time.perf_counter() - t_phase
    for name, cols, rows, dt in results:  # outside the timed phase
        err = oracle.check(name, cols, rows, expected[name])
        if err:
            out.failed += 1
            out.failures.append(err)
        else:
            out.rows += len(rows)
            out.rows_wall += dt
    if probe:
        probe.set_group(None)
        probe.drain()
        phase = probe.group_stats(PHASE_GROUP)
        out.bytes_per_row = phase.shuffle_write / max(out.rows, 1)
        out.extra.update(phase_jobs=phase.jobs, shuffle_write=phase.shuffle_write)
    out.extra["catalyst_ms"] = catalyst
    return out
