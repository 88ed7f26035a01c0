"""Bronze→silver cleaning expressions (SURVEY.md §2.2 P10 + §2.8 strings).

The reference's characteristic dirty-data repairs
(mobility_ingestion_pipeline.py, FIXTURES.md §A):
  - Spanish decimal format "1.200,50" → 1200.50
  - the "Zero Trap": "50.0" strings that must land as integer 50
  - header rows embedded mid-data, 'NA' literals, alphabetic garbage
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def spanish_number(col: Column) -> Column:
    """"1.200,50" → 1200.50; NULL on unparseable (TRY_CAST semantics).

    Mirrors TRY_CAST(REPLACE(REPLACE(x,'.',''),',','.') AS DOUBLE)
    (notebooks/1_sprint3_schema_reprototyping.ipynb:3827 cell 51 — the
    robust form SURVEY's appendix says to prefer over the DAG's plain CAST).
    """
    return F.replace(
        F.replace(col, F.lit("."), F.lit("")), F.lit(","), F.lit(".")
    ).try_cast("double")


def zero_trap_bigint(col: Column) -> Column:
    """"50.0" → 50 as BIGINT via the double-hop
    CAST(TRY_CAST(x AS DOUBLE) AS BIGINT) (Sprint-2.md:93-95).

    Rounds before the bigint cast: DuckDB's double→bigint cast rounds
    to nearest while Spark's truncates, so "50.7" must land as 51 on
    both sides.
    """
    return F.round(col.try_cast("double"), 0).cast("bigint")


def is_garbage_numeric(col: Column) -> Column:
    """Reference's NOT regexp_matches(col, '[a-zA-Z]') garbage-row filter
    (mobility_ingestion_pipeline.py:276), plus NA/empty."""
    return (
        col.isNull()
        | (F.trim(col) == "")
        | (F.upper(F.trim(col)) == "NA")
        | col.rlike("[a-zA-Z]")
    )


def code_name_split(col: Column) -> tuple[Column, Column]:
    """"01001 Vitoria-Gasteiz" → ("01001", "Vitoria-Gasteiz")
    (split_part(Municipios,' ',1) at mobility_ingestion_pipeline.py:305)."""
    code = F.split_part(col, F.lit(" "), F.lit(1))
    name = F.ltrim(F.substring(col, F.length(code) + 1, 10_000))
    return code, name
