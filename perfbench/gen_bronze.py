"""Seeded generator of the mobility pipeline's seven bronze sources.

Writes the daily origin-destination trip CSVs and the six static
sources (zoning, population, INE-MITMA mapping, INE rent, work
calendar, zone geometry) in the reference formats, with the dirty-data
cases the pipeline's cleaning exists for (the same cases as
`pipeline/fixtures.py`): embedded header rows, trailing whitespace in
codes, 'NA' literals, float-formatted integers, Spanish number
formats, a BOM-prefixed header, holiday-wording variants, an off-year
holiday, a zone without geometry, trips from an external zone, rows
with no date and rows with an impossible date.

Sized by zones x days.  The days start on Friday 2023-10-27, so any
window of three or more covers all three day types, and a window of
six or more covers the Europe/Madrid DST fall-back (Sunday 2023-10-29)
and the All Saints holiday (Wednesday 2023-11-01).

Besides the files, `write_bronze` returns what the pipeline must make
of them -- the clean rows per day with their trip counts -- so the
benchmark checks the pipeline's output without a second engine.
"""

from __future__ import annotations

import datetime
import os
import random
from decimal import Decimal

START = datetime.date(2023, 10, 27)
HOLIDAYS = {"20231101"}
EXTERNAL_CODE = "PT170"
GRID_COLS = 4


def day_type(date: str) -> str:
    dow = datetime.date(int(date[:4]), int(date[4:6]), int(date[6:])).weekday()
    if date in HOLIDAYS or dow == 6:
        return "sunday_holiday"
    return "saturday" if dow == 5 else "weekday"


def base_volume(kind: str, hour: int) -> float:
    """Three separable daily profiles (weekday commute peaks, a
    Saturday midday plateau, a Sunday/holiday evening peak)."""
    if kind == "weekday":
        return 40 + 300 * (hour in (7, 8, 9)) + 260 * (hour in (17, 18, 19))
    if kind == "saturday":
        return 70 + 180 * (11 <= hour <= 16)
    return 20 + 120 * (19 <= hour <= 21)


def zone_codes(n_zones: int) -> list[str]:
    return [f"01{i:03d}" for i in range(1, n_zones + 1)]


def od_present(o: int, d: int) -> bool:
    """Sparse OD matrix: about a third of the pairs carry no trips."""
    return (o + d) % 3 != 2


def zone_square(i: int) -> tuple[float, float]:
    """Lower-left corner of zone i's 0.5-degree square."""
    return -8.0 + (i % GRID_COLS) * 1.0, 37.0 + (i // GRID_COLS) * 1.0


def _spanish(v: float) -> str:
    """1234.5 -> "1.234,50" (quoted: it holds the CSV separator)."""
    s = f"{v:,.2f}".replace(",", "_").replace(".", ",").replace("_", ".")
    return f'"{s}"'


def _write(root: str, name: str, lines: list[str]) -> str:
    path = os.path.join(root, name)
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    return path


def write_bronze(root: str, seed: int, n_zones: int, n_days: int) -> dict:
    """Write every bronze source under `root`.

    Returns {"paths": source -> path (and "trips_dir"), "dates": [...],
    "zones": [...], "days": {date: {"rows": [(hour, o, d, trips)],
    "n_rows": int, "trips": Decimal}}}.  Zone indexes o, d are 0-based
    and the pipeline's zone_id is index + 1 (codes sort in index order).
    The last zone has no geometry.
    """
    rng = random.Random(seed)
    os.makedirs(root, exist_ok=True)
    codes = zone_codes(n_zones)
    dates = [
        (START + datetime.timedelta(days=i)).strftime("%Y%m%d")
        for i in range(n_days)
    ]
    paths: dict[str, str] = {}

    lines = ["ID|name"]
    for i, code in enumerate(codes):
        pad = " " if rng.random() < 0.2 else ""
        lines.append(f"{code}{pad}|Zone {code}")
        if i == n_zones // 2:
            lines.append("ID|name")
    paths["zoning"] = _write(root, "zoning_municipalities.csv", lines)

    lines = []
    for i, code in enumerate(codes):
        pop = rng.randrange(5_000, 200_000)
        lines.append(f"{code},{pop}.0" if i % 4 == 0 else f"{code},{pop}")
    lines += ["total,habitantes", "99999,NA", "98999,"]
    paths["population"] = _write(root, "population_municipalities.csv", lines)

    lines = [
        "seccion_ine,distrito_ine,municipio_ine,distrito_mitma,municipio_mitma"
    ]
    for i, code in enumerate(codes):
        ine = f"48{i:03d}"
        lines.append(f"{ine}01,{ine}1,{ine},{code}1,{code}")
        if i % 3 == 0:
            lines.append(f"49{i:03d}01,49{i:03d}1,49{i:03d},{code}1,{code}")
    lines.append("NA,NA,NA,NA1,NA")
    paths["mapping"] = _write(root, "mapping_ine_mitma.csv", lines)

    lines = [
        "﻿Municipios;Distritos;Secciones;Indicadores de renta media;"
        "Periodo;Total"
    ]
    for i, code in enumerate(codes):
        ine = f"48{i:03d}"
        rent = rng.randrange(9, 19)
        lines.append(
            f"{ine} Zone {code};;;Renta neta media por persona;2023;{rent}.500"
        )
        lines.append(
            f"{ine} Zone {code};;;Renta neta media por hogar;2023;25.000"
        )
    lines.append("4800001 Distrito 1;D1;;Renta neta media por persona;2023;12.000")
    lines.append("48000 Zone X;;;Renta neta media por persona;2023;.")
    paths["rent"] = _write(root, "ine_rent_municipalities.csv", lines)

    lines = [
        "Dia;Tipo de Festivo",
        "01/11/2023;Festivo nacional",
        "01/11/2023;festivo NACIONAL",
        "25/12/2023;Fiesta nacional",
        "01/11/2022;Festivo nacional",
        "15/08/2023;Festivo local",
    ]
    paths["calendar"] = _write(root, "work_calendars.csv", lines)

    lines = ["id,wkt_polygon"]
    for i, code in enumerate(codes):
        if i == n_zones - 1:
            lines.append(f"{code},")
            continue
        x, y = zone_square(i)
        ring = (
            f"{x} {y}, {x + 0.5} {y}, {x + 0.5} {y + 0.5}, "
            f"{x} {y + 0.5}, {x} {y}"
        )
        lines.append(f'{code},"POLYGON(({ring}))"')
    paths["geo"] = _write(root, "geo_municipalities.csv", lines)

    trips_dir = os.path.join(root, "trips")
    os.makedirs(trips_dir, exist_ok=True)
    header = (
        "fecha,periodo,origen,destino,distancia,actividad_origen,"
        "actividad_destino,residencia,renta,edad,sexo,viajes,viajes_km"
    )
    scale = {
        (o, d): rng.uniform(0.5, 2.0)
        for o in range(n_zones)
        for d in range(n_zones)
    }
    days: dict[str, dict] = {}
    for date in dates:
        kind = day_type(date)
        lines = [header]
        rows = []
        total = Decimal(0)
        for o, ocode in enumerate(codes):
            for d, dcode in enumerate(codes):
                if not od_present(o, d):
                    continue
                for hour in range(24):
                    jitter = rng.uniform(-0.03, 0.03)
                    v = max(1.0, round(
                        base_volume(kind, hour) * scale[o, d] * (1 + jitter), 2
                    ))
                    text = f"{v:.2f}"
                    viajes = _spanish(v) if rng.random() < 0.02 else text
                    opad = "  " if rng.random() < 0.05 else ""
                    lines.append(
                        f"{date},{hour:02d},{ocode}{opad},{dcode},0.5-2,casa,"
                        f"trabajo,ES,10-15,25-45,M,{viajes},{v * 3:.2f}"
                    )
                    rows.append((hour, o, d, float(text)))
                    total += Decimal(text)
        lines.append(
            f"{date},08,{EXTERNAL_CODE},{codes[0]},2-10,casa,trabajo,"
            f"PT,10-15,25-45,F,5.00,15.00"
        )
        lines.append(
            f",09,{codes[0]},{codes[1]},0.5-2,casa,trabajo,ES,"
            f"10-15,25-45,M,3.00,9.00"
        )
        lines.append(
            f"20231035,10,{codes[1]},{codes[2]},0.5-2,casa,"
            f"trabajo,ES,10-15,25-45,F,2.00,6.00"
        )
        _write(trips_dir, f"{date}_Viajes_municipios.csv", lines)
        days[date] = {"rows": rows, "n_rows": len(rows), "trips": total}
    paths["trips_dir"] = trips_dir
    return {"paths": paths, "dates": dates, "zones": codes, "days": days}
