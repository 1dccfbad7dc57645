"""End-to-end pipeline test (SURVEY.md §5.3): raw grids → four stored
tables, FK/required-null audits, upsert overwrite, empty-matriculas
quirk."""

from __future__ import annotations

from etl_data_peri_institute_spark.pipeline import run_pipeline
from etl_data_peri_institute_spark.sinks import ParquetStore
from tests.fixtures import ALL_GRIDS, TARGET_DATE


def test_pipeline_end_to_end(spark, tmp_path):
    store = ParquetStore(spark, str(tmp_path / "db"))
    result = run_pipeline(spark, ALL_GRIDS, store, target_date=TARGET_DATE)

    # masters upserted
    assert result.counts["cursos"] == 3
    assert result.counts["estudiantes"] == 5

    # matriculas: target-date rows M001(dedup), M002, M005(FK-dropped) → 2
    mats = store.read("matriculas")
    keys = {r["codigo_matricula"] for r in mats.collect()}
    assert keys == {"M001", "M002"}
    assert result.counts["matriculas"] == 2

    # pagos: primera cuota has NO dedup (reference parity) → both M001 raw
    # rows pay (100, 120) + M002 (50.5), plus regular M001 120.75;
    # M999 FK-dropped, M002-regular required-null-dropped
    pagos = store.read("pagos").collect()
    assert result.counts["pagos"] == 4
    pairs = {(r["codigo_matricula"], r["monto_pago"]) for r in pagos}
    assert pairs == {("M001", 100.0), ("M001", 120.0), ("M002", 50.5), ("M001", 120.75)}

    # audits: matriculas FK (M005/E999) + required-null (M002). The M999
    # payment never reaches the FK audit — the valid-keys semi-filter
    # drops it first (reference order: etl/pipeline.py:193-201 before
    # load's FK check), so no pagos_fk_missing audit is produced here.
    assert len(result.audits) == 2
    assert any("matriculas_fk_missing" in p for p in result.audits)
    assert any("pagos_required_null" in p for p in result.audits)


def test_pipeline_upsert_overwrites(spark, tmp_path):
    store = ParquetStore(spark, str(tmp_path / "db"))
    run_pipeline(spark, ALL_GRIDS, store, target_date=TARGET_DATE)

    # re-run a later day: masters upsert again (same PKs overwrite, count
    # stays 3/5); no new matriculas/pagos on that date
    result2 = run_pipeline(spark, ALL_GRIDS, store, target_date="2024-03-20")
    assert store.read("cursos").count() == 3
    assert store.read("estudiantes").count() == 5
    assert result2.counts["matriculas"] == 0
    assert result2.counts["pagos"] == 0


def test_pipeline_same_day_rerun_aborts(spark, tmp_path):
    """J1 PK guard (etl/load.py:59-85): re-running the same target date
    must abort the matriculas insert, not double-insert."""
    import pytest

    from etl_data_peri_institute_spark.operators.integrity import IntegrityError

    store = ParquetStore(spark, str(tmp_path / "db"))
    run_pipeline(spark, ALL_GRIDS, store, target_date=TARGET_DATE)
    with pytest.raises(IntegrityError, match="already present"):
        run_pipeline(spark, ALL_GRIDS, store, target_date=TARGET_DATE)
    assert store.read("matriculas").count() == 2  # unchanged


def test_pipeline_empty_matriculas_skips_semi_filter(spark, tmp_path):
    """Reference quirk (etl/pipeline.py:194): with zero matriculas today,
    regular pagos skip the semi-filter and go straight to the FK check."""
    store = ParquetStore(spark, str(tmp_path / "db"))
    # day one: populate matriculas table
    run_pipeline(spark, ALL_GRIDS, store, target_date=TARGET_DATE)
    # day two (2024-03-12): no matriculas rows, but PAGOS_GRID has an
    # off-date regular payment for M001 on 12/03 — it passes the FK check
    # against the STORED matriculas despite the empty daily set
    result = run_pipeline(spark, ALL_GRIDS, store, target_date="2024-03-12")
    assert result.counts["matriculas"] == 0
    assert result.counts["pagos"] == 1  # the 12/03 M001 payment


def test_pipeline_cli(spark, tmp_path):
    """CLI entry: grid CSVs → stored tables (mirrors `python pipeline.py`)."""
    import csv

    from etl_data_peri_institute_spark.pipeline import main

    grids_dir = tmp_path / "grids"
    grids_dir.mkdir()
    for name, grid in ALL_GRIDS.items():
        with open(grids_dir / f"{name}.csv", "w", newline="") as fh:
            csv.writer(fh).writerows(grid)
    rc = main(
        [
            "--grids-dir", str(grids_dir),
            "--store-dir", str(tmp_path / "store"),
            "--target-date", TARGET_DATE,
        ]
    )
    assert rc == 0
    out = spark.read.parquet(str(tmp_path / "store" / "matriculas"))
    assert out.count() == 2


def test_store_partitioned_insert_prunes(spark, tmp_path):
    from pyspark.sql import functions as F

    store = ParquetStore(spark, str(tmp_path / "db"))
    df1 = spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (2, "2024-01-02", 20.0)],
        "id long, dt string, v double",
    )
    df2 = spark.createDataFrame(
        [(3, "2024-01-02", 30.0), (4, "2024-01-03", 40.0)],
        "id long, dt string, v double",
    )
    assert store.insert(df1, "facts", partition_by=["dt"]) == 2
    assert store.insert(df2, "facts", partition_by=["dt"]) == 2  # incremental append
    back = store.read("facts")
    assert back.count() == 4
    one_day = back.filter(F.col("dt") == "2024-01-02")
    assert {r["id"] for r in one_day.collect()} == {2, 3}
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "dt" in plan


def test_store_compact(spark, tmp_path):
    from pyspark.sql import functions as F

    store = ParquetStore(spark, str(tmp_path / "db"))
    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    # simulate small-file accretion: many inserts
    for i in range(5):
        store.insert(df.filter((F.col("k") % 5) == i), "t")
    import os

    before = sum(1 for n in os.listdir(store.path("t")) if n.endswith(".parquet"))
    assert before >= 5
    after = store.compact("t", 2)
    assert after == 2
    assert store.read("t").count() == 1000

    # partitioned tables compact WITHOUT losing their hive layout
    pdf = spark.createDataFrame(
        [(i, f"2024-01-0{1 + i % 2}") for i in range(100)], "k long, dt string"
    )
    for _ in range(3):
        store.insert(pdf, "pt", partition_by=["dt"])
    n_files = store.compact("pt", 1)
    assert n_files == 2  # one per dt partition
    back = store.read("pt")
    assert back.count() == 300
    plan = back.filter(F.col("dt") == "2024-01-01")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "dt" in plan


def test_schema_evolution_merge(spark, tmp_path):
    """mergeSchema read across generations: v2 adds a column; v1 rows
    surface it as NULL — the append-only schema-evolution contract."""
    p = str(tmp_path / "tab")
    spark.createDataFrame([(1, "a")], "k long, v string").write.mode("append").parquet(p)
    spark.createDataFrame(
        [(2, "b", 9.5)], "k long, v string, score double"
    ).write.mode("append").parquet(p)
    merged = spark.read.option("mergeSchema", True).parquet(p)
    assert set(merged.columns) == {"k", "v", "score"}
    rows = {r["k"]: r["score"] for r in merged.collect()}
    assert rows[1] is None and rows[2] == 9.5


def test_store_overwrite_meta_roundtrip(spark, tmp_path):
    store = ParquetStore(spark, str(tmp_path / "db"))
    df = spark.createDataFrame([(1, 2.0)], "k long, v double")
    assert store.read_meta("t", "_LAST_EPOCH") is None
    store.overwrite(df, "t", meta_files={"_LAST_EPOCH": "7"})
    assert store.read_meta("t", "_LAST_EPOCH") == "7"
    # meta file is invisible to the parquet reader
    assert store.read("t").count() == 1
    # second overwrite replaces data and meta atomically
    store.overwrite(df.withColumn("v", df.v * 2), "t", meta_files={"_LAST_EPOCH": "8"})
    assert store.read_meta("t", "_LAST_EPOCH") == "8"
    assert store.read("t").first()["v"] == 4.0


def test_observed_stage_metrics_single_pass(spark):
    """observed_stage piggybacks stage telemetry on the consuming action
    — row count, null count, and key bounds arrive without a second
    scan of the input."""
    from pyspark.sql import functions as F

    from etl_data_peri_institute_spark.pipeline import observed_stage

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c")], "k int, v string"
    )
    staged, obs = observed_stage(
        df,
        "stage1",
        {
            "n_rows": F.count(F.lit(1)),
            "n_null_v": F.sum(F.col("v").isNull().cast("int")),
            "max_k": F.max("k"),
        },
    )
    assert staged.filter(F.col("k") > 0).count() == 3  # the one action
    assert obs.get == {"n_rows": 3, "n_null_v": 1, "max_k": 3}


def test_packaged_grid_csvs_match_fixtures():
    """The packaged grid CSVs (consumed by the p_pipeline_e2e gate query
    AND its DuckDB oracle) must stay cell-identical to the canonical
    fixtures — otherwise the driver row and pytest cover different data."""
    import csv
    from pathlib import Path

    import etl_data_peri_institute_spark as pkg

    grid_dir = Path(pkg.__file__).parent / "data" / "grids"
    for name, grid in ALL_GRIDS.items():
        with open(grid_dir / f"{name}.csv", newline="") as fh:
            on_disk = [list(row) for row in csv.reader(fh)]
        assert on_disk == grid, name


def test_pipeline_abort_on_missing_students(spark, tmp_path):
    """O6 abort policy: with ``drop_missing_students=False`` an FK-missing
    matricula (M005 → E999) aborts the day before anything of matriculas
    is written — no audit directory, no matriculas rows."""
    import os

    import pytest

    from etl_data_peri_institute_spark.operators.integrity import IntegrityError

    store = ParquetStore(spark, str(tmp_path / "db"))
    audit_dir = str(tmp_path / "audit")
    with pytest.raises(IntegrityError, match="unknown estudiantes"):
        run_pipeline(
            spark, ALL_GRIDS, store, target_date=TARGET_DATE,
            audit_dir=audit_dir, drop_missing_students=False,
        )
    assert not os.path.exists(audit_dir)
    assert not store.exists("matriculas")
    assert not store.exists("pagos")


def test_pipeline_abort_on_missing_matriculas(spark, tmp_path):
    """O6 abort policy for pagos: on a day with no matriculas the regular
    pagos skip the semi-filter, so an FK-missing payment (M999) reaches
    the FK check; ``drop_missing_matriculas=False`` then aborts before
    any pagos audit or row is written — the required-null payment of the
    same day (M002, empty fecha_pago) is not audited either."""
    import os

    import pytest

    from etl_data_peri_institute_spark.operators.integrity import IntegrityError

    store = ParquetStore(spark, str(tmp_path / "db"))
    run_pipeline(spark, ALL_GRIDS, store, target_date=TARGET_DATE)
    pagos_before = sorted(store.read("pagos").collect())

    grids = dict(ALL_GRIDS)
    grids["pagos"] = ALL_GRIDS["pagos"] + [
        ["12/03/2024 10:00:00", "M999", "99", "YAPE", "Luis", "12/03/2024"],
        ["12/03/2024 11:00:00", "M002", "80", "BCP", "Luis", ""],
    ]
    audit_dir = str(tmp_path / "audit2")
    with pytest.raises(IntegrityError, match="unknown matriculas"):
        run_pipeline(
            spark, grids, store, target_date="2024-03-12",
            audit_dir=audit_dir, drop_missing_matriculas=False,
        )
    assert not os.path.exists(audit_dir)
    assert sorted(store.read("pagos").collect()) == pagos_before
    assert store.read("matriculas").count() == 2


def test_pipeline_day_runs_each_plan_once(spark, tmp_path, monkeypatch):
    """Single-pass pin: a default-policy day over the packaged grid CSVs
    never calls the classic ``count``/``isEmpty``/``localCheckpoint`` —
    reject counts come from one bounded aggregate per table and sink row
    counts from an Observation on the write itself. Two days cover both
    the create and the merge/append paths, the PK guard, and the
    empty-matriculas day."""
    import os
    from pathlib import Path

    from pyspark.sql.classic.dataframe import DataFrame

    import etl_data_peri_institute_spark as pkg
    from etl_data_peri_institute_spark.pipeline import _read_grid_csv

    grid_dir = Path(pkg.__file__).parent / "data" / "grids"
    grids = {n: _read_grid_csv(str(grid_dir / f"{n}.csv")) for n in ALL_GRIDS}
    store = ParquetStore(spark, str(tmp_path / "db"))

    def forbidden(self, *args, **kwargs):
        raise AssertionError("a second pass over a pipeline plan")

    for name in ("count", "isEmpty", "localCheckpoint"):
        monkeypatch.setattr(DataFrame, name, forbidden)
    day1 = run_pipeline(spark, grids, store, target_date=TARGET_DATE)
    day2 = run_pipeline(spark, grids, store, target_date="2024-03-12")
    monkeypatch.undo()

    assert day1.counts == {"cursos": 3, "estudiantes": 5, "matriculas": 2, "pagos": 4}
    assert sorted(os.path.basename(p).rsplit("_", 3)[0] for p in day1.audits) == [
        "matriculas_fk_missing", "pagos_required_null",
    ]
    assert day2.counts == {"cursos": 3, "estudiantes": 5, "matriculas": 0, "pagos": 1}
    assert day2.audits == []
    assert store.read("pagos").count() == 5
