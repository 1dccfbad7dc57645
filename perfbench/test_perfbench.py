"""Tests of the benchmark's own arithmetic and inputs (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gridgen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


# ---- tail percentile: the highest one with >= 10 samples beyond it ------

@pytest.mark.parametrize(
    "n, p, beyond",
    [(20, 50.0, 10), (39, 50.0, 19), (40, 75.0, 10), (100, 90.0, 10),
     (200, 95.0, 10), (1000, 99.0, 10), (10000, 99.9, 10)],
)
def test_tail_picks_highest_percentile_with_ten_beyond(n, p, beyond):
    samples = [float(i) for i in range(1, n + 1)]
    got_p, value, got_beyond, qualified = stats.tail(samples)
    assert (got_p, got_beyond, qualified) == (p, beyond, True)
    assert sum(1 for s in samples if s > value) == beyond


@pytest.mark.parametrize("n", [1, 2, 3, 6, 11, 19])
def test_tail_without_ten_beyond_falls_back_to_median_unqualified(n):
    samples = [float(i) for i in range(n, 0, -1)]
    p, value, beyond, qualified = stats.tail(samples)
    assert (p, qualified) == (50.0, False)
    assert value == stats.median(samples)
    assert beyond == sum(1 for s in samples if s > value) < stats.TAIL_MIN_BEYOND


def test_nearest_rank_is_order_free():
    assert stats.nearest_rank([3.0, 1.0, 2.0, 4.0], 75.0) == (3.0, 1)


# ---- self time of nested spans -------------------------------------------

def _span(sid, parent, start, end, layer="x"):
    return tracing.Span(sid, layer, "f", 0, parent, start, end)


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 4.0, 8.0),
        _span(3, 2, 5.0, 6.0),  # grandchild: charged to span 2 only
    ]
    got = tracing.self_times(spans)
    assert got == pytest.approx({0: 4.0, 1: 2.0, 2: 3.0, 3: 1.0})
    assert sum(got.values()) == pytest.approx(10.0)


def test_self_time_clips_overlap_and_overhang():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 2.0, 6.0),
        _span(2, 0, 5.0, 12.0),  # overlaps span 1 and runs past the parent
    ]
    assert tracing.self_times(spans)[0] == pytest.approx(2.0)


def test_tracer_records_nesting_and_restores_patches():
    class Mod:
        @staticmethod
        def inner():
            return 7

    tracer = tracing.Tracer(tracing.SparkProbe(object()))
    original = Mod.inner
    tracer.patch(Mod, "inner", "child")
    outer = tracer.wrap("parent", lambda: Mod.inner() + 1)
    assert outer() == 8
    assert [(s.layer, s.parent) for s in tracer.spans] == [("parent", None), ("child", 0)]
    tracer.uninstall()
    assert Mod.inner is original


# ---- the daily_ingest generator ------------------------------------------

def test_generator_is_deterministic_per_seed():
    a, b = gridgen.generate(7), gridgen.generate(7)
    assert a == b
    assert gridgen.generate(8).matriculas != a.matriculas


def test_generator_layouts_and_special_days():
    wb = gridgen.generate(3)
    assert wb.cursos[1] == gridgen.CURSOS_HEADER  # header at sheet row 2
    assert wb.estudiantes[1] == gridgen.ESTUDIANTES_HEADER
    assert wb.matriculas[2] == gridgen.MATRICULAS_HEADER  # row 3
    assert wb.pagos[5] == gridgen.PAGOS_HEADER  # row 6
    assert len(wb.truth) == gridgen.TARGET_DAYS == 2
    first, second = wb.truth
    assert first.counts["matriculas"] > 0
    assert first.rejects["matriculas_fk_missing"] > 0
    assert second.counts["matriculas"] == 0 and second.rejects["pagos_fk_missing"] > 0
    # the sheet grows with history
    sizes = [len(wb.grids_for(i)["pagos"]) for i in range(len(wb.truth))]
    assert sizes[0] < sizes[1]


# ---- metric names ----------------------------------------------------------

def test_metric_names_are_well_formed():
    out = workloads.Outcome(op_walls=[1.0, 2.0, 3.0], phase_wall=6.0, attempted=3,
                            rows=10, rows_wall=6.0, bytes_per_row=40.0)
    tracer = tracing.Tracer(tracing.SparkProbe(object()))
    tracer.call("pipeline", lambda: None)
    names = list(run.end_to_end("daily_ingest", 1.0, out, 100.0))
    names += list(run.per_layer("daily_ingest", tracer, out, 4, 100.0))
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert names and all(re.fullmatch(r"[A-Za-z0-9_.-]+", n) for n in names)
    assert {m["name"] for m in spec["end_to_end"]} == set(
        run.end_to_end("daily_ingest", 1.0, out, 100.0))
    assert {m["name"] for m in spec["per_layer"]} == set(
        run.per_layer("daily_ingest", tracer, out, 4, 100.0))
