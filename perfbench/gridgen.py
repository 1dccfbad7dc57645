"""Seeded worksheet-grid generator for the ``daily_ingest`` workload.

Builds the four raw worksheets the daily pipeline reads, in the
reference layouts (banner rows above headers at sheet rows 2/2/3/6), for
a run of consecutive target days, plus the ground truth each day must
produce. The cells are messy in the ways the packaged fixtures are:
day-first timestamps in several formats, bad numbers, currency strings,
repeated codes (keep-last), rows outside the ``P`` course prefix,
student and matricula codes missing from the parent table, empty
``fecha_pago`` cells and all-empty rows.

The ground truth is computed here from what the generator put in each
cell, by the pipeline's documented rules (incremental filter on the
timestamp's date, keep-last dedup, prefix filter, FK splits, the
primera-cuota and regular-pagos semi-filters that are skipped on a day
with no valid matriculas, the required ``fecha_pago`` split). It never
calls the engine.

Pure Python and deterministic: the same seed gives the same grids and
the same truth.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from datetime import date, timedelta

START = date(2024, 4, 1)
HISTORY_DAYS = 10  # sheet rows stamped before the first target day
TARGET_DAYS = 2  # days the pipeline runs: one that lands matriculas, one without
MATS_PER_DAY = 60
PAGOS_PER_DAY = 100

CURSOS_HEADER = [
    "CÓDIGO_C", "NOMBRE_C", "I1", "FECHA DE INICIO", "FECHA DE TERMINO",
    "PROFESOR", "HORARIOS",
]
ESTUDIANTES_HEADER = [
    "CODIGO_E", "NOMBRES_E", "APELLIDOS_E", "CORREO_E", "NUMERO_E",
    "GÉNERO_E", "RED DE CONTACTO_E", "GRADO DE INSTRUCCIÓN_E",
]
MATRICULAS_HEADER = [
    "Marca temporal", "Código de matrícula", "Cursos de matrícula", "num cursos",
    "Fecha de pago de la primera cuota", "Condición del alumno",
    "Código de estudiante FINAL", "Monto de Pago", "Primera Cuota",
    "Método de Pago", "Moneda", "Encargado de Registro",
]
# ``fecha_pago`` is fuzzy-renamed to "Fecha de pago" by the engine.
PAGOS_HEADER = [
    "Marca temporal", "Código de matrícula", "Monto de Pago", "Método de Pago",
    "Encargado de Registro", "fecha_pago",
]

AUDIT_REASONS = ("matriculas_fk_missing", "pagos_fk_missing", "pagos_required_null")
BANNERS = {"cursos": 1, "estudiantes": 1, "matriculas": 2, "pagos": 5}

_NAMES = ["maría", "juan", "rosa", "iván", "lucía", "pedro", "ana", "luis", "eva", "zoe"]
_SURNAMES = ["pérez", "lópez", "díaz", "mora", "vega", "quispe", "roca", "paz", "sol"]
_PHONES = ["+51 987-654-{:03d}", "+54 9 11 5555 {:04d}", "+56 9 8765 {:04d}", "{:05d}"]
_METHODS = ["YAPE", "PLIN", "BCP", "Banco de Chile", "banco de méxico",
            "Banco de Ecuador / P", "PAYPAL", "Transferencia BCP", "OTROS"]
_COURSE_NAMES = ["Intro Riego", "Suelos", "Drenaje", "Hidrología", "Cultivos", "Agroclima"]


@dataclass
class DayTruth:
    """What one ``run_pipeline`` call for ``target`` must report and land."""

    target: str
    counts: dict[str, int]
    cents: dict[str, int]  # integer-cents money mass of the rows inserted today
    rejects: dict[str, int]  # audit rows per reason


@dataclass
class Workbook:
    """Grids for the whole run plus per-day ground truth.

    ``grids_for(i)`` is the sheet as it stands after target day ``i``:
    every row stamped on or before that day (the sheet grows with
    history, the pipeline reads only the target day's rows)."""

    cursos: list[list[str]]
    estudiantes: list[list[str]]
    matriculas: list[list[str]]
    pagos: list[list[str]]
    # number of data rows of each sheet visible after target day i
    visible: list[dict[str, int]]
    truth: list[DayTruth]

    def grids_for(self, i: int) -> dict[str, list[list[str]]]:
        out = {}
        for name in ("cursos", "estudiantes", "matriculas", "pagos"):
            sheet = getattr(self, name)
            out[name] = sheet[: BANNERS[name] + 1 + self.visible[i][name]]
        return out


def _money_cell(rng: random.Random) -> tuple[str, int]:
    """A raw amount cell and the integer cents the engine must read from
    it (unparseable text reads as 0)."""
    r = rng.random()
    cents = rng.randrange(1000, 90000)
    if r < 0.06:
        return "bad-number", 0
    if r < 0.10:
        return f"S/ {cents / 100:.2f}", 0  # currency string: not a number
    if r < 0.13:
        return "", 0
    if r < 0.25:
        return f" {cents // 100} ", (cents // 100) * 100
    return f"{cents / 100:.2f}", cents


def _ts_cell(rng: random.Random, d: date) -> str:
    """A day-first timestamp on day ``d`` in one of the accepted layouts."""
    h, m, s = rng.randrange(7, 22), rng.randrange(60), rng.randrange(60)
    r = rng.random()
    if r < 0.8:
        return f"{d.day:02d}/{d.month:02d}/{d.year} {h:02d}:{m:02d}:{s:02d}"
    if r < 0.9:
        return f"{d.day}/{d.month}/{d.year} {h}:{m:02d}"
    return f"{d.isoformat()} {h:02d}:{m:02d}:{s:02d}"


def _date_cell(rng: random.Random, d: date, p_empty: float, p_junk: float) -> tuple[str, bool]:
    """A payment-date cell and whether the engine can parse it."""
    r = rng.random()
    if r < p_empty:
        return "", False
    if r < p_empty + p_junk:
        return "pendiente", False
    if rng.random() < 0.2:
        return f"{d.day:02d}-{d.month:02d}-{d.year}", True
    return f"{d.day:02d}/{d.month:02d}/{d.year}", True


def generate(seed: int) -> Workbook:
    """Grids covering ``HISTORY_DAYS`` of prior sheet history and then
    ``TARGET_DAYS`` consecutive target days, with ground truth per day.

    The first target day creates the tables and runs both pagos
    semi-filters. The second has no matriculas at all, so the pipeline's
    skip-the-semi-filter branch runs, and the upserts merge into tables
    that exist."""
    rng = random.Random(seed)
    days = [START + timedelta(days=i) for i in range(HISTORY_DAYS + TARGET_DAYS)]
    empty_day = HISTORY_DAYS + 1

    # ---- cursos: a slowly growing master with keep-last corrections
    cursos_rows: list[tuple[int, list[str]]] = []  # (day index, cells)
    course_codes: list[str] = []
    for i, d in enumerate(days):
        n_new = 30 if i == 0 else (1 if rng.random() < 0.3 else 0)
        for _ in range(n_new):
            code = f"P{101 + len(course_codes)}"
            course_codes.append(code)
            start = d - timedelta(days=rng.randrange(30))
            start_cell = (f"{start.day:02d}/{start.month:02d}/{start.year}"
                          if rng.random() > 0.05 else "not a date")
            cursos_rows.append((i, [
                code, rng.choice(_COURSE_NAMES), str(rng.randrange(1, 6)), start_cell,
                f"30/12/{d.year}", f"T{rng.randrange(1, 20):02d} {rng.choice(_NAMES)}",
                "L-M 18:00",
            ]))
        if i and rng.random() < 0.2:  # a corrected row for an existing course
            code = rng.choice(course_codes)
            cursos_rows.append((i, [code, rng.choice(_COURSE_NAMES) + " v2", "2",
                                    f"{d.day:02d}/{d.month:02d}/{d.year}", "",
                                    "T09 zoe", "S 09:00"]))
        if rng.random() < 0.1:
            cursos_rows.append((i, [""] * len(CURSOS_HEADER)))

    # ---- estudiantes: new students every day, some corrected rows
    est_rows: list[tuple[int, list[str]]] = []
    students: list[str] = []
    students_by_day: list[int] = []  # distinct students visible after day i
    for i, d in enumerate(days):
        for _ in range(30 if i else 200):
            code = f"E{len(students) + 1:05d}"
            students.append(code)
            est_rows.append((i, [
                code, f"  {rng.choice(_NAMES)} ", rng.choice(_SURNAMES),
                f"{code.upper()}@Mail.COM ",
                rng.choice(_PHONES).format(rng.randrange(10000)),
                rng.choice("FM"), rng.choice(["Facebook", "Web", "Referido"]),
                rng.choice(["Superior", "Técnico", "Secundaria"]),
            ]))
        for _ in range(3):  # repeated student codes
            code = rng.choice(students)
            est_rows.append((i, [code, "corregido", "apellido", f"{code}@mail.com",
                                 "+51 900 000 000", "F", "Web", "Superior"]))
        if rng.random() < 0.2:
            est_rows.append((i, [""] * len(ESTUDIANTES_HEADER)))
        students_by_day.append(len(students))

    # ---- matriculas and pagos, generated per day with truth alongside
    mat_rows: list[tuple[int, list[str]]] = []
    pag_rows: list[tuple[int, list[str]]] = []
    # per-day raw records kept for the truth computation
    mats_of_day: list[list[dict]] = [[] for _ in days]
    pagos_of_day: list[list[dict]] = [[] for _ in days]
    mat_codes_by_day: list[list[str]] = [[] for _ in days]
    serial = 0
    for i, d in enumerate(days):
        n_mats = 0 if i == empty_day else MATS_PER_DAY
        fresh: list[str] = []
        for _ in range(n_mats):
            if fresh and rng.random() < 0.06:
                code = rng.choice(fresh)  # same-day correction: keep-last
            else:
                serial += 1
                code = f"M{serial:06d}"
                fresh.append(code)
            r = rng.random()
            if r < 0.05:
                student = f"E9{rng.randrange(10000):04d}"  # FK-missing
            else:
                student = students[rng.randrange(students_by_day[i])]
            course_p = rng.random() > 0.05
            course = (f"{' ' if rng.random() < 0.1 else ''}{rng.choice(course_codes)} "
                      f"{rng.choice(_COURSE_NAMES)}") if course_p else "Taller libre"
            monto, monto_c = _money_cell(rng)
            cuota, cuota_c = _money_cell(rng)
            fecha, fecha_ok = _date_cell(rng, d, 0.04, 0.02)
            cells = [
                _ts_cell(rng, d), code, course, rng.choice(["1", "2", "3", "x"]), fecha,
                rng.choice(["Nuevo", "Regular", "Becado"]), student, monto, cuota,
                rng.choice(_METHODS), rng.choice(["PEN", "USD", "MXN"]),
                rng.choice(["Carla", "Luis"]),
            ]
            mat_rows.append((i, cells))
            mats_of_day[i].append({
                "code": code, "student": student, "p": course_p,
                "monto": monto_c, "cuota": cuota_c, "fecha_ok": fecha_ok,
            })
        mat_codes_by_day[i] = fresh
        if rng.random() < 0.15:
            mat_rows.append((i, [""] * len(MATRICULAS_HEADER)))

        known = [c for j in range(max(0, i - 15), i + 1) for c in mat_codes_by_day[j]]
        for _ in range(PAGOS_PER_DAY):
            r = rng.random()
            if r < 0.05 or not known:
                code = f"M9{rng.randrange(100000):05d}"  # no such matricula
            elif r < 0.45 and fresh:
                code = rng.choice(fresh)
            else:
                code = rng.choice(known)
            monto, monto_c = _money_cell(rng)
            fecha, fecha_ok = _date_cell(rng, d, 0.06, 0.02)
            pag_rows.append((i, [
                _ts_cell(rng, d), code, monto, rng.choice(_METHODS),
                rng.choice(["Carla", "Luis"]), fecha,
            ]))
            pagos_of_day[i].append({"code": code, "monto": monto_c, "fecha_ok": fecha_ok})

    # ---- truth for each target day, replaying the pipeline's rules
    truth: list[DayTruth] = []
    stored_mats: set[str] = set()
    for i in range(HISTORY_DAYS, len(days)):
        raw = mats_of_day[i]
        last: dict[str, dict] = {}
        for rec in raw:  # keep-last by PK in sheet order, then the P filter
            last[rec["code"]] = rec
        kept = [rec for rec in last.values() if rec["p"]]
        visible_students = set(students[: students_by_day[i]])
        mats_valid = [rec for rec in kept if rec["student"] in visible_students]
        mats_missing = len(kept) - len(mats_valid)
        valid_codes = {rec["code"] for rec in mats_valid}
        stored_mats |= valid_codes

        primera = [{"code": r["code"], "monto": r["cuota"], "fecha_ok": r["fecha_ok"]}
                   for r in raw]
        regulares = list(pagos_of_day[i])
        if valid_codes:  # both semi-filters are skipped on an empty day
            primera = [r for r in primera if r["code"] in valid_codes]
            regulares = [r for r in regulares if r["code"] in valid_codes]
        pagos = primera + regulares
        pg_valid = [r for r in pagos if r["code"] in stored_mats]
        pg_missing = len(pagos) - len(pg_valid)
        landed = [r for r in pg_valid if r["fecha_ok"]]
        truth.append(DayTruth(
            target=days[i].isoformat(),
            counts={
                "cursos": len({c[0] for j, c in cursos_rows if j <= i and c[0]}),
                "estudiantes": students_by_day[i],
                "matriculas": len(mats_valid),
                "pagos": len(landed),
            },
            cents={
                "matriculas": sum(r["monto"] for r in mats_valid),
                "pagos": sum(r["monto"] for r in landed),
            },
            rejects={
                "matriculas_fk_missing": mats_missing,
                "pagos_fk_missing": pg_missing,
                "pagos_required_null": len(pg_valid) - len(landed),
            },
        ))
    if not truth[0].counts["matriculas"]:
        raise ValueError("the first target day must land matriculas")

    def sheet(header: list[str], banners: int, rows: list[tuple[int, list[str]]]):
        width = len(header)
        top = [[f"BANNER fila {b + 1}"] + [""] * (width - 1) for b in range(banners)]
        return top + [list(header)] + [cells for _, cells in rows]

    def visible_after(rows: list[tuple[int, list[str]]], i: int) -> int:
        return sum(1 for j, _ in rows if j <= i)

    visible = [
        {
            "cursos": visible_after(cursos_rows, i),
            "estudiantes": visible_after(est_rows, i),
            "matriculas": visible_after(mat_rows, i),
            "pagos": visible_after(pag_rows, i),
        }
        for i in range(HISTORY_DAYS, len(days))
    ]
    return Workbook(
        cursos=sheet(CURSOS_HEADER, BANNERS["cursos"], cursos_rows),
        estudiantes=sheet(ESTUDIANTES_HEADER, BANNERS["estudiantes"], est_rows),
        matriculas=sheet(MATRICULAS_HEADER, BANNERS["matriculas"], mat_rows),
        pagos=sheet(PAGOS_HEADER, BANNERS["pagos"], pag_rows),
        visible=visible,
        truth=truth,
    )
