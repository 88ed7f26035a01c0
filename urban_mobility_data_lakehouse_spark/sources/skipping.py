"""File-level min/max statistics and data-skipping scans.

Delta Lake's data-skipping layer (stats in the transaction log's `add`
actions, consulted before listing files for a scan) rebuilt for the
plain-parquet lakehouse: at COMMIT time the writer reads each new
file's parquet FOOTER (driver-side, O(#files) metadata reads — no
Spark job, no data pages) and records per-file, per-column
``min / max / null_count`` in the commit-log entry.  At READ time,
`Lakehouse.read_where` evaluates a conjunctive predicate against those
ranges and hands Spark only the files that can possibly contain a
matching row.

Why this matters at 100 TB: partition pruning eliminates directories
and parquet row-group stats eliminate pages *after a task opened the
file* — but every surviving file still costs a scheduled task and a
footer round-trip.  File-level skipping removes those files from the
scan *plan* (Spark's `inputFiles()` shrinks), which is the difference
between scheduling 80 000 tasks and 800 on a needle-in-haystack query.
Combined with `compact(zorder_by=[...])` (multi-column locality) the
three layers prune at directory, file, and row-group granularity.

The same footer pass records each file's row and byte counts and the
directory's Spark read schema, so every lakehouse read plans from the
log alone (`Lakehouse._plan`).  A commit logged before this record
existed is listed once at plan time with no stats: it is read whole,
and pruning on it does nothing.

Parity notes vs Delta (public protocol, delta-io/delta PROTOCOL.md):
  - stats are collected for the first `STATS_MAX_COLUMNS` leaf columns
    (Delta's `dataSkippingNumIndexedCols`, default 32);
  - a file with missing/partial stats for a column is never pruned on
    that column (conservative — exactly Delta's null-stats rule);
  - an all-NULL file IS pruned under null-rejecting predicates
    (`=`, `<`, ... never match NULL);
  - pruning is advisory: the residual predicate is always re-applied
    as a real Spark filter, so a stats bug can cost performance but
    never correctness.

Reference parity: the reference engine relies on DuckDB's zonemap
(row-group min/max) skipping inside single parquet files
(mobility_ingestion_pipeline.py's day-partitioned reads); this module
is the multi-file generalization that the same queries need once one
day no longer fits in one file.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import json
import os

# Conjunctive predicate: list of (column, op, value) with op in _OPS.
# `value` is a plain Python literal (int/float/str/bool/date/datetime,
# or a list of those for "in").
_OPS = ("=", "==", "<", "<=", ">", ">=", "in")

_PARQUET_SUFFIX = ".parquet"

# Delta's dataSkippingNumIndexedCols default: footer stats cover the
# first this-many top-level leaf columns of each file.
STATS_MAX_COLUMNS = 32

# the footer key under which Spark stores a file's row schema (JSON)
SPARK_ROW_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


# -- JSON-safe stat value encoding ------------------------------------------
# The commit log is JSONL; footer stats arrive as Python scalars.  Tag
# non-JSON-native types so decode round-trips to comparable values.

def _encode_value(v):
    """Python scalar → JSON-safe form, or None if the type is not
    order-comparable in a useful way (bytes, nested)."""
    if isinstance(v, bool) or v is None:
        return {"t": "bool", "v": v} if v is not None else None
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, _dt.datetime):  # before date: datetime IS a date
        return {"t": "ts", "v": v.isoformat()}
    if isinstance(v, _dt.date):
        return {"t": "date", "v": v.isoformat()}
    if isinstance(v, _decimal.Decimal):
        return {"t": "dec", "v": str(v)}
    return None


def _decode_value(v):
    if isinstance(v, dict):
        t, raw = v["t"], v["v"]
        if t == "ts":
            return _dt.datetime.fromisoformat(raw)
        if t == "date":
            return _dt.date.fromisoformat(raw)
        if t == "dec":
            return _decimal.Decimal(raw)
        if t == "bool":
            return raw
        raise ValueError(f"unknown stat value tag {t!r}")
    return v


def _comparable(a, b) -> bool:
    """Guard mixed-type comparisons (a predicate on a string column
    against int stats, a date literal vs datetime stats): pruning on
    incomparable types silently keeps the file."""
    if isinstance(a, bool) != isinstance(b, bool):
        return False
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return True
    if isinstance(a, _dt.datetime) and isinstance(b, _dt.datetime):
        # aware vs naive datetimes don't order; treat as incomparable
        return (a.tzinfo is None) == (b.tzinfo is None)
    # date vs datetime is NOT comparable in Python3 ordering semantics
    if isinstance(a, _dt.date) and isinstance(b, _dt.date):
        return isinstance(a, _dt.datetime) == isinstance(b, _dt.datetime)
    return type(a) is type(b)


# -- footer harvest at commit time ------------------------------------------

def collect_file_stats(
    data_dir: str, max_columns: int = STATS_MAX_COLUMNS
) -> dict:
    """The commit-log record of every parquet file under `data_dir`
    (recursing through partition subdirectories), from footers only:

        {"files": [{"path": <rel>, "rows": N, "bytes": B,
                    "stats": {col: {"min": v, "max": v, "nulls": n}}}],
         "schema": <Spark read schema JSON>}   # absent for an empty dir

    Stats cover the first `max_columns` top-level leaf columns.  A
    column appears in a file's `stats` only if EVERY non-empty row
    group in that file carries min/max for it — a partial bound is not
    a bound.  `nulls` is present only when every row group reports a
    null count.  Partition columns are directory-encoded, never in
    footers; `read_where` prunes those through the file paths instead.

    `schema` is the schema Spark would infer for the directory: the
    row schema Spark stored in the first footer, every field made
    nullable (Spark's read-side `asNullable`), plus one string column
    per `<pcol>=<value>` path segment (partition type inference is off
    in the engine's session confs).  Reads pass it to the reader, so
    the first read of a commit dir runs no schema-inference job.
    """
    import pyarrow.parquet as pq

    out: list[dict] = []
    read_schema = None
    for root, _dirs, files in sorted(os.walk(data_dir)):
        for fname in sorted(files):
            if not fname.endswith(_PARQUET_SUFFIX):
                continue
            fpath = os.path.join(root, fname)
            rel = os.path.relpath(fpath, data_dir)
            meta = pq.ParquetFile(fpath).metadata
            if read_schema is None:
                read_schema = _read_schema(meta, rel)
            schema = meta.schema
            # leaf columns, top-level only (dotted path = nested)
            col_idx = [
                i
                for i in range(len(schema))
                if "." not in schema.column(i).path
            ][:max_columns]
            mins: dict[str, object] = {}
            maxs: dict[str, object] = {}
            nulls: dict[str, int] = {}
            dropped: set[str] = set()
            null_dropped: set[str] = set()
            for rg in range(meta.num_row_groups):
                rg_meta = meta.row_group(rg)
                if rg_meta.num_rows == 0:
                    continue
                for i in col_idx:
                    col = rg_meta.column(i)
                    cname = schema.column(i).path
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        dropped.add(cname)
                    elif cname not in dropped:
                        mn, mx = st.min, st.max
                        if mn is None or mx is None:
                            dropped.add(cname)
                        else:
                            if cname not in mins or mn < mins[cname]:
                                mins[cname] = mn
                            if cname not in maxs or mx > maxs[cname]:
                                maxs[cname] = mx
                    if st is not None and st.has_null_count:
                        nulls[cname] = nulls.get(cname, 0) + st.null_count
                    else:
                        null_dropped.add(cname)
            stats: dict[str, dict] = {}
            for i in col_idx:
                cname = schema.column(i).path
                entry: dict = {}
                if cname in mins and cname not in dropped:
                    emn = _encode_value(mins[cname])
                    emx = _encode_value(maxs[cname])
                    if emn is not None and emx is not None:
                        entry["min"] = emn
                        entry["max"] = emx
                if cname in nulls and cname not in null_dropped:
                    entry["nulls"] = nulls[cname]
                if entry:
                    stats[cname] = entry
            out.append(
                {
                    "path": rel,
                    "rows": meta.num_rows,
                    "bytes": os.path.getsize(fpath),
                    "stats": stats,
                }
            )
    record: dict = {"files": out}
    if read_schema is not None:
        record["schema"] = read_schema
    return record


def _read_schema(meta, rel_path: str) -> dict | None:
    """Spark's read schema for a commit dir, from one file's footer
    (see `collect_file_stats`); None when Spark did not write it."""
    raw = (meta.metadata or {}).get(SPARK_ROW_SCHEMA_KEY)
    if raw is None:
        return None
    fields = [_nullable_field(f) for f in json.loads(raw)["fields"]]
    fields += [
        {"name": seg.split("=", 1)[0], "type": "string",
         "nullable": True, "metadata": {}}
        for seg in rel_path.split(os.sep)[:-1]
        if "=" in seg
    ]
    return {"type": "struct", "fields": fields}


def _nullable_field(f: dict) -> dict:
    return {**f, "nullable": True, "type": _nullable_type(f["type"])}


def _nullable_type(t):
    """A Spark data-type JSON with every nested field, array element
    and map key/value made nullable (Scala's `DataType.asNullable`)."""
    if not isinstance(t, dict):
        return t
    kind = t.get("type")
    if kind == "struct":
        return {**t, "fields": [_nullable_field(f) for f in t["fields"]]}
    if kind == "array":
        return {**t, "elementType": _nullable_type(t["elementType"]),
                "containsNull": True}
    if kind == "map":
        return {**t, "keyType": _nullable_type(t["keyType"]),
                "valueType": _nullable_type(t["valueType"]),
                "valueContainsNull": True}
    return t


# -- pruning decision at read time ------------------------------------------

def _range_survives(op: str, value, mn, mx) -> bool:
    """Can any row with column value in [mn, mx] satisfy `col op value`?"""
    if op in ("=", "=="):
        return mn <= value <= mx
    if op == "<":
        return mn < value
    if op == "<=":
        return mn <= value
    if op == ">":
        return mx > value
    if op == ">=":
        return mx >= value
    raise ValueError(f"unsupported op {op!r}")


def file_survives(file_entry: dict, predicates) -> bool:
    """True unless the file's stats PROVE no row satisfies the
    conjunction.  Missing stats for a referenced column ⇒ survive
    (conservative); an all-NULL column ⇒ pruned (every op here is
    null-rejecting).  `file_entry` is one element of the commit entry's
    `files` list (encoded form)."""
    stats = file_entry.get("stats", {})
    rows = file_entry.get("rows")
    for col, op, value in predicates:
        if op not in _OPS:
            raise ValueError(
                f"unsupported predicate op {op!r} (use one of {_OPS})"
            )
        cstat = stats.get(col)
        if cstat is None:
            continue
        if (
            rows is not None
            and cstat.get("nulls") is not None
            and cstat["nulls"] >= rows
        ):
            return False  # all NULL: null-rejecting predicate can't match
        if "min" not in cstat:
            continue
        mn = _decode_value(cstat["min"])
        mx = _decode_value(cstat["max"])
        values = value if op == "in" else [value]
        if not values:
            return False  # IN () matches nothing
        if not all(_comparable(v, mn) for v in values):
            continue
        if op == "in":
            if not any(mn <= v <= mx for v in values):
                return False
        elif not _range_survives(op, value, mn, mx):
            return False
    return True


def zorder_key(df, columns: list[str]):
    """Morton (Z-curve) key over `columns` as a pure Column expression
    — the ordering behind `compact(zorder_by=...)`.

    Each column is affinely scaled into an unsigned `bits`-wide integer
    grid using its GLOBAL min/max (one tiny aggregate, the only job
    this triggers), then the columns' bits are interleaved
    (col₀ bit 0, col₁ bit 0, …, col₀ bit 1, …) so that sorting by the
    key places rows that are close in EVERY listed dimension into the
    same neighborhood — and therefore the same output file, giving all
    listed columns simultaneously tight per-file min/max stats.  This
    is Delta OPTIMIZE ZORDER's documented construction (range-id
    interleaving); with per-column min/max scaling standing in for
    range-id sampling, it stays deterministic and shuffle-free.

    Numeric, date, and timestamp columns are supported (dates/
    timestamps scale via their numeric instant); NULLs sort first
    (grid cell 0).  The interleave is plain shift/AND/OR arithmetic —
    whole-stage-codegen territory, no UDF, no extra shuffle beyond the
    range partitioning the caller does anyway.
    """
    import pyspark.sql.functions as F

    n = len(columns)
    if n == 0:
        raise ValueError("zorder_key: need at least one column")
    bits = min(16, 62 // n)  # total key width ≤ 62 bits (fits LONG)
    grid_max = (1 << bits) - 1

    dtypes = dict(df.dtypes)
    numeric = []
    for c in columns:
        t = dtypes.get(c)
        if t is None:
            raise ValueError(f"zorder_key: no column {c!r}")
        if t in ("date", "timestamp", "timestamp_ntz"):
            col = F.col(c).cast("timestamp_ntz").cast("double")
        elif t in (
            "tinyint", "smallint", "int", "bigint",
            "float", "double",
        ) or t.startswith("decimal"):
            col = F.col(c).cast("double")
        else:
            raise ValueError(
                f"zorder_key: column {c!r} has unsupported type {t!r} "
                "(numeric/date/timestamp only)"
            )
        numeric.append(col)

    bounds = df.agg(
        *[
            agg(col).alias(f"{fn}_{i}")
            for i, col in enumerate(numeric)
            for fn, agg in (("mn", F.min), ("mx", F.max))
        ]
    ).first()

    key = F.lit(0).cast("long")
    for i, col in enumerate(numeric):
        mn = bounds[f"mn_{i}"]
        mx = bounds[f"mx_{i}"]
        if mn is None or mx is None or mx == mn:
            continue  # constant / all-null column adds no information
        span = mx - mn
        cell = F.least(
            F.lit(grid_max),
            F.greatest(
                F.lit(0),
                ((col - F.lit(mn)) / F.lit(span) * F.lit(grid_max)).cast(
                    "long"
                ),
            ),
        )
        cell = F.coalesce(cell, F.lit(0))
        for b in range(bits):
            key = key.bitwiseOR(
                F.shiftleft(
                    F.shiftright(cell, b).bitwiseAND(F.lit(1)),
                    b * n + i,
                )
            )
    return key


def predicates_to_column(predicates):
    """The same conjunction as a Spark Column — `read_where` re-applies
    it after pruning so skipping is advisory, never load-bearing."""
    import pyspark.sql.functions as F

    cond = F.lit(True)
    for col, op, value in predicates:
        c = F.col(col)
        if op in ("=", "=="):
            term = c == F.lit(value)
        elif op == "<":
            term = c < F.lit(value)
        elif op == "<=":
            term = c <= F.lit(value)
        elif op == ">":
            term = c > F.lit(value)
        elif op == ">=":
            term = c >= F.lit(value)
        elif op == "in":
            term = c.isin(list(value))
        else:
            raise ValueError(f"unsupported predicate op {op!r}")
        cond = cond & term
    return cond
