"""Datetime expression library (SURVEY.md §2.8 date/time rows).

The mobility pipeline's temporal semantics: YYYYMMDD strings → dates,
date+hour → Europe/Madrid instants (DST-correct), holiday year-shift via
make_date, inclusive date spines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def parse_yyyymmdd(col: Column) -> Column:
    """strptime(x,'%Y%m%d') with try-semantics: NULL on garbage
    (mobility_ingestion_pipeline.py:544,550,558)."""
    return F.try_to_timestamp(col, F.lit("yyyyMMdd")).cast("date")


def parse_ddmmyyyy(col: Column) -> Column:
    """Work-calendar 'Dia' format DD/MM/YYYY (…:327-338)."""
    return F.try_to_timestamp(col, F.lit("dd/MM/yyyy")).cast("date")


def period_timestamp(date_col: Column, hour_col: Column) -> Column:
    """date + hour → TIMESTAMP (…:549-558), wall-clock semantics.

    The source's `periodo` is a wall-clock hour, so the timestamp is
    built from the formatted local date+hour string — NOT by adding a
    physical hour interval, which would shift wall hours across a DST
    boundary (on the Europe/Madrid fall-back day, midnight + 23 physical
    hours lands at wall-hour 22).  Ambiguous local times (the repeated
    02:xx on fall-back) resolve to the earlier offset; nonexistent
    spring-forward times resolve forward.  Run under
    spark.sql.session.timeZone=Europe/Madrid for reference parity.
    """
    return F.to_timestamp(
        F.concat(
            F.date_format(date_col, "yyyy-MM-dd"),
            F.lit(" "),
            hour_col.cast("int").cast("string"),
        ),
        "yyyy-MM-dd H",
    )


def force_year(date_col: Column, year: int) -> Column:
    """MAKE_DATE(year, MONTH(d), DAY(d)) holiday year-shift (…:331-335)."""
    return F.make_date(
        F.lit(year), F.month(date_col), F.dayofmonth(date_col)
    )


def date_sequence(start: str, end: str) -> Column:
    """pd.date_range analog: inclusive date array, to explode() into a
    driver-free date spine (…:403-411 did this driver-side via XCom)."""
    return F.sequence(
        F.lit(start).cast("date"),
        F.lit(end).cast("date"),
        F.expr("interval 1 day"),
    )
