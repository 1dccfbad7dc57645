"""The daily pipeline DAG (reference run_pipeline, etl/pipeline.py:27-253).

Masters (cursos, estudiantes → UPSERT) then transactionals (matriculas,
pagos → incremental date filter + INSERT with FK enforcement), then the
pagos consolidation union. Order is a hard dependency: matriculas must
land before pagos' FK check (O1).

Faithful behaviors preserved (SURVEY.md §7.4):
- incremental filter on date(Marca temporal) == target_date (default
  yesterday) — F1, etl/pipeline.py:34-37,119-127,168-176;
- primera-cuota pagos semi-filtered by today's valid matriculas — F3;
- regular pagos semi-filter SKIPPED when today's matriculas are empty —
  the reference's conditional at etl/pipeline.py:194 changes which rows
  reach the FK check, so it is kept verbatim;
- shared matriculas extract feeds two transforms (O2) → ``.cache()``;
- FK-missing and required-null rows audit to CSV then drop (or abort,
  per policy flags — O6).

Each transactional plan runs once: ``label_rejects`` tags every row with
its reject reason, the labelled frame is cached, one bounded
``groupBy(_reject).count()`` gives the per-reason counts the abort
policies and audits act on, and the insert takes the unlabelled rows.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import date, timedelta

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .operators.integrity import (
    REJECT,
    ForeignKey,
    IntegrityError,
    RequiredNotNull,
    assert_pk_absent,
    dedupe_keep_last,
    label_rejects,
)

# The split operators the pipeline ran before it labelled rejects in one
# pass stay importable here: perfbench/tracing.py wraps them by name on
# this module.
from .operators.integrity import fk_split, required_not_null_split  # noqa: F401
from .sinks import ParquetStore, audit_csv
from .sources.grid import PAGOS_CANONICAL, Grid, grid_to_df
from .transforms import (
    transform_cursos,
    transform_estudiantes,
    transform_matriculas,
    transform_pagos_primera_cuota,
    transform_regular_pagos,
)

PAGOS_REQUIRED = ["fecha_pago"]  # etl/load.py:33-37


@dataclass
class PipelineResult:
    counts: dict[str, int] = field(default_factory=dict)
    audits: list[str] = field(default_factory=list)


def _incremental_filter(df: DataFrame, ts_col: str, target_date: str) -> DataFrame:
    """F1: keep rows whose parsed timestamp falls on target_date."""
    from .functions.cleaning import parse_date_dayfirst

    return df.filter(F.to_date(parse_date_dayfirst(ts_col)) == F.lit(target_date).cast("date"))


def run_pipeline(
    spark: SparkSession,
    grids: dict[str, Grid],
    store: ParquetStore,
    target_date: str | None = None,
    audit_dir: str | None = None,
    drop_missing_students: bool = True,
    drop_missing_matriculas: bool = True,
) -> PipelineResult:
    """grids: {'cursos': .., 'estudiantes': .., 'matriculas': .., 'pagos': ..}
    raw worksheet grids (list-of-lists of strings)."""
    target = target_date or (date.today() - timedelta(days=1)).isoformat()
    audit_dir = audit_dir or f"{store.root}/_audit"
    result = PipelineResult()

    # -- masters: UPSERT ----------------------------------------------------
    cursos = transform_cursos(grid_to_df(spark, grids["cursos"], header_row=2))
    result.counts["cursos"] = store.upsert(cursos, "cursos", "codigo_curso")

    estudiantes = transform_estudiantes(grid_to_df(spark, grids["estudiantes"], header_row=2))
    estudiantes = dedupe_keep_last(
        estudiantes.withColumn("_row_idx", F.monotonically_increasing_id()),
        "codigo_estudiante",
    ).drop("_row_idx")
    result.counts["estudiantes"] = store.upsert(estudiantes, "estudiantes", "codigo_estudiante")

    # -- matriculas: incremental INSERT with FK → estudiantes ---------------
    raw_mats = grid_to_df(spark, grids["matriculas"], header_row=3)
    todays_raw = _incremental_filter(raw_mats, "Marca temporal", target).cache()  # O2

    abort = {} if drop_missing_students else {
        "matriculas_fk_missing": "matriculas reference unknown estudiantes"
    }
    mats = _settle_rejects(
        transform_matriculas(todays_raw),
        [ForeignKey("matriculas_fk_missing", store.read("estudiantes"), "codigo_estudiante")],
        abort,
        audit_dir,
        result,
    )
    matriculas = _valid(mats)
    # J1: abort if any incoming PK already exists in the target (reference
    # etl/load.py:59-85 — re-running the same day must not double-insert)
    if store.exists("matriculas"):
        assert_pk_absent(matriculas, store.read("matriculas"), "codigo_matricula", "matriculas")
    result.counts["matriculas"] = store.insert(matriculas, "matriculas")

    # valid matricula keys for the pagos semi-filters (F3)
    valid_keys = matriculas.select("codigo_matricula").distinct()
    todays_mats_empty = result.counts["matriculas"] == 0

    # -- pagos: primera cuota + regulares, consolidated ---------------------
    primera = transform_pagos_primera_cuota(todays_raw)
    if not todays_mats_empty:
        # reference applies the primera semi-filter only when today's
        # matriculas are non-empty (etl/pipeline.py:135); otherwise the
        # rows flow on to the stored-table FK check and its audit
        primera = primera.join(F.broadcast(valid_keys), "codigo_matricula", "left_semi")

    raw_pagos = grid_to_df(
        spark,
        grids["pagos"],
        header_row=6,
        canonical=PAGOS_CANONICAL,
        ensure_columns=("Fecha de pago",),
    )
    regulares = transform_regular_pagos(
        _incremental_filter(raw_pagos, "Marca temporal", target)
    )
    if not todays_mats_empty:
        # reference skips this filter entirely when today's matriculas are
        # empty (etl/pipeline.py:194) — quirk preserved
        regulares = regulares.join(F.broadcast(valid_keys), "codigo_matricula", "left_semi")

    # FK → matriculas (against the full stored table), then required-not-
    # null (fecha_pago) — F4; a row breaking both is audited as FK-missing
    abort = {} if drop_missing_matriculas else {
        "pagos_fk_missing": "pagos reference unknown matriculas"
    }
    pagos = _settle_rejects(
        primera.unionByName(regulares),
        [
            ForeignKey("pagos_fk_missing", store.read("matriculas"), "codigo_matricula"),
            RequiredNotNull("pagos_required_null", PAGOS_REQUIRED),
        ],
        abort,
        audit_dir,
        result,
    )
    result.counts["pagos"] = store.insert(_valid(pagos), "pagos")

    todays_raw.unpersist()
    mats.unpersist()
    pagos.unpersist()
    return result


def _settle_rejects(
    df: DataFrame,
    rules: list[ForeignKey | RequiredNotNull],
    abort: dict[str, str],
    audit_dir: str,
    result: PipelineResult,
) -> DataFrame:
    """Label ``df``'s rejects, cache the labelled frame and count its rows
    per reason in one bounded aggregate (at most one row per rule plus
    the valid rows). Raise ``IntegrityError`` for a reason in ``abort``
    (reason → message) that occurred, before anything is written;
    otherwise audit each reason that occurred, in declared order. Returns
    the cached labelled frame (the caller unpersists it)."""
    labelled = label_rejects(df, *rules).cache()
    counts = {r[REJECT]: r["count"] for r in labelled.groupBy(REJECT).count().collect()}
    for reason, message in abort.items():
        if counts.get(reason):
            raise IntegrityError(f"{counts[reason]} {message}")
    for rule in rules:
        if counts.get(rule.reason):
            rejected = labelled.filter(F.col(REJECT) == rule.reason).drop(REJECT)
            path = audit_csv(rejected, audit_dir, rule.reason)
            if path:
                result.audits.append(path)
    return labelled


def _valid(labelled: DataFrame) -> DataFrame:
    return labelled.filter(F.col(REJECT).isNull()).drop(REJECT)


def observed_stage(
    df: DataFrame, name: str, metrics: dict[str, "F.Column"]
) -> tuple[DataFrame, "Observation"]:
    """Attach free single-pass metrics to a pipeline stage via Spark's
    Observation API: the named aggregates are computed DURING whatever
    action first consumes ``df`` — no second scan, unlike the
    ``.count()``-for-logging pattern, which at 100 TB doubles the read
    cost of every audited stage. After an action runs, ``obs.get``
    returns the metric dict.

    Metrics must be aggregate expressions (count/sum/min/max/...);
    typical stage telemetry is row count + null counts + key bounds.
    """
    obs = Observation(name)
    return df.observe(obs, *[c.alias(k) for k, c in metrics.items()]), obs


def _read_grid_csv(path: str) -> Grid:
    """Raw worksheet dump as CSV → all-string grid (the landing-zone
    format replacing the live Sheets fetch; cells arrive verbatim)."""
    import csv

    with open(path, newline="") as fh:
        return [list(row) for row in csv.reader(fh)]


def main(argv: list[str] | None = None) -> int:
    """CLI mirroring the reference's ``python pipeline.py`` entry
    (etl/pipeline.py:252-253), parameterized like SURVEY.md §2.9 says:
    ``--target-date`` (default: yesterday) over grid CSVs in
    ``--grids-dir`` ({cursos,estudiantes,matriculas,pagos}.csv),
    writing to a ParquetStore at ``--store-dir``."""
    import argparse

    from .session import get_spark

    ap = argparse.ArgumentParser(description="daily ETL pipeline")
    ap.add_argument("--grids-dir", required=True)
    ap.add_argument("--store-dir", required=True)
    ap.add_argument("--target-date", default=None, help="YYYY-MM-DD; default yesterday")
    args = ap.parse_args(argv)

    grids = {
        name: _read_grid_csv(f"{args.grids_dir}/{name}.csv")
        for name in ("cursos", "estudiantes", "matriculas", "pagos")
    }
    spark = get_spark("daily-pipeline")
    store = ParquetStore(spark, args.store_dir)
    result = run_pipeline(spark, grids, store, target_date=args.target_date)
    for table, n in result.counts.items():
        print(f"{table}: {n} rows")
    for path in result.audits:
        print(f"audit: {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
