"""Partitioned lakehouse tables: the DuckLake capability surface
(SURVEY.md §2.1 S8-S13) on partitioned Parquet.

Delta Lake is the production answer (SURVEY §1.3 maps DuckLake →
Delta); it is not installable in this environment, so this module
implements the same *semantics* on plain Parquet + Spark's dynamic
partition overwrite, behind an interface a Delta backend could drop
into:

  - `overwrite_partitions` — the idempotent per-day upsert: replaces
    exactly the partitions present in the incoming frame (the
    replaceWhere / DELETE+INSERT analog,
    mobility_ingestion_pipeline.py:519-533,544-567)
  - `append` — append-only sinks; `append_rows` writes a few
    driver-side rows (the quality log) without a Spark job
  - **multi-table transactions** (`transaction()`) — the DuckLake
    cross-table txn surface: all staged writes commit atomically via
    ONE appended line in a lakehouse-level journal; per-table logs
    self-heal from it after a crash (S11)
  - a JSONL snapshot log per table recording every commit
    (version/op/partitions/rows) — the `lakehouse.snapshots()` /
    DESCRIBE HISTORY analog (1_sprint3...ipynb:6274 cell 84)
  - **versioned time-travel reads** — `read(..., version=N)` /
    `read_snapshot` replay the commit log to reconstruct the live
    file set as of any retained version (DuckLake `snapshots()` /
    Delta `VERSION AS OF`)
  - catalog helpers (list_tables / table_schema) — information_schema
    analog (S12)

Storage is copy-on-write, exactly the Delta protocol shape: every
commit writes NEW files under a writer-unique `_data/v<version>-<id>/`
staging directory and then appends one line to the commit log — the
log append IS the commit point, so a crash mid-write leaves an orphan
directory but never a half-visible table, and old versions stay
readable until `compact(vacuum=True)` (the OPTIMIZE+VACUUM analog)
reclaims them.  Commits are optimistic-concurrency-checked
(`ConcurrentWriteError`): disjoint-partition writers merge cleanly,
overlapping writers must re-read and retry — the reference's
8-parallel-day-writer cloud mode (docs/report/main.tex:260) without
its shared-catalog Postgres.

Scale notes: partition granularity is the reference's own (one DATE
per partition ≈ 10M rows/day at production scale — healthy parquet
partition size); a partition upsert writes only the partitions being
replaced, so re-running a day never rewrites the table; reads prune
superseded partitions with partition-column filters (directory-level,
never row-level); writes never funnel through the driver.
"""

from __future__ import annotations

import copy
import json
import os
import re
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field, replace
from typing import Callable, NamedTuple

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

SNAPSHOT_LOG = "_snapshots.jsonl"
TXN_LOG = "_txns.jsonl"
LOCK_FILE = "_commit.lock"

# ops whose effect spans the whole table: they conflict with ANY
# interleaved commit (Delta's serializable-vs-full-table rule).
# delete_dv/update_mor are conservative: a deletion vector may
# reference files in any partition, so they serialize against
# everything (Delta's DV writes likewise conflict with concurrent
# writes to the same files).
_FULL_TABLE_OPS = {
    "overwrite", "compact", "compact_partitioned", "restore",
    "delete_dv", "update_mor",
    # column-mapping DDL serializes against everything: a writer that
    # staged logical→physical renames from a pre-DDL snapshot must
    # retry, not commit misnamed physical columns
    "rename_column", "drop_column", "add_column",
}


class ConcurrentWriteError(Exception):
    """Optimistic-concurrency conflict (Delta ConcurrentModification
    analog): another writer committed a change that overlaps this
    write's base snapshot.  Re-read the table, recompute, and retry —
    or abort."""


class HistoryUnavailableError(FileNotFoundError):
    """A versioned read (time travel / CDC) referenced data directories
    that vacuum has reclaimed.  Raised instead of silently serving a
    partial or wrong answer — the Delta-CDF contract: change feeds and
    snapshots are only readable as far back as retention kept their
    files.  Catch it and fall back to a full recompute."""


class ConstraintViolationError(Exception):
    """A staged write contains rows whose CHECK constraint evaluates
    to FALSE (Delta CHECK constraint / DeltaInvariantViolation analog).
    Nothing was committed."""


class ManifestExportError(Exception):
    """The snapshot holds state a plain file manifest cannot express
    (live deletion vectors, additive-dir partition exclusions, or
    non-NULL ADD COLUMN defaults).  Refused rather than exported
    silently wrong; `compact()` materializes all three, after which
    export succeeds."""


def _dir_age_seconds(path: str, now_ns: int) -> float:
    """Age of a staging directory, preferring the `time_ns` its name
    embeds (`v{version}-{time_ns:x}-{pid:x}`, `_next_data_dir`) over
    filesystem mtime — the name survives copies/restores that reset
    mtimes.  Unparsable names fall back to mtime; a stat failure
    (dir vanished mid-scan) counts as infinitely old."""
    base = os.path.basename(path)
    parts = base.split("-")
    if len(parts) == 3:
        try:
            born_ns = int(parts[1], 16)
            if 0 < born_ns <= now_ns:
                return (now_ns - born_ns) / 1e9
        except ValueError:
            pass
    try:
        return max(0.0, now_ns / 1e9 - os.path.getmtime(path))
    except OSError:
        return float("inf")


def _commits_conflict(mine: dict, other: dict) -> bool:
    """Can `mine` (a staged entry, key `op`) be appended after `other`
    (an already-logged line, key `operation`) landed between my base
    version and now?  The matrix mirrors Delta's:

      - append vs anything: an append being COMMITTED commutes (a
        blind add reads nothing, so nothing it read can be stale —
        its dir enters the replay after every prior overwrite and
        carries no exclusions)
      - partition overwrite vs a landed append: CONFLICT (Delta's
        ConcurrentAppendException): the overwrite's partition
        supersession EXCLUDES same-partition rows from older additive
        dirs, so committing over an append it never read would destroy
        that append's rows — re-read and retry instead
      - partition overwrite vs partition overwrite: conflict iff they
        touch a common partition (the 8-parallel-day-writers cloud mode
        — docs/report/main.tex:260 — merges cleanly; a same-day race
        conflicts, protecting read-modify-write callers like merge_into
        and delete_where from lost updates)
      - anything vs a full-table op (overwrite/compact/restore): always
        a conflict
    """
    a, b = mine["op"], other["operation"]
    if a in _FULL_TABLE_OPS or b in _FULL_TABLE_OPS:
        return True
    if a == "append":
        return False
    if b == "append":
        # append entries carry no partition set, so conservatively any
        # partition overwrite after a concurrent append must retry
        return True
    return bool(
        set(mine.get("partitions", ())) & set(other.get("partitions", ()))
    )


# Hive's NULL-partition directory name, and the catalog's one NULL
# partition token: a NULL partition key tokenizes as the sentinel and a
# literal string 'None' as 'None' — two distinct partitions.  Every
# table records it in `_format.json` (`Lakehouse._ensure_format`); a
# table whose format file is missing or names another token is refused
# (`Lakehouse._check_format`).
NULL_SENTINEL = "__HIVE_DEFAULT_PARTITION__"


def _canon_token(raw: str) -> str:
    """Hive directory-name token → the catalog's canonical partition
    token: hive %-escaping is undone (the NULL sentinel has none to
    undo).  EVERY comparison between commit-log partition tokens and
    `<pcol>=<raw>` path segments must go through this — matching the
    constructed canonical name against escaped directories silently
    drops those partitions (found via a NULL-keyed erasure miss)."""
    from urllib.parse import unquote

    return unquote(raw)


def _token_of(value) -> str:
    """Partition VALUE (off a collected row) → canonical token."""
    return NULL_SENTINEL if value is None else str(value)


def _path_tokens(rel_path: str) -> dict[str, str]:
    """Partition column → RAW token for every `<pcol>=<raw>` directory
    segment of a logged file path (relative to its commit dir); compare
    with catalog tokens only through `_canon_token`."""
    return dict(
        seg.split("=", 1) for seg in rel_path.split(os.sep)[:-1] if "=" in seg
    )


# the deletion-vector file layout (`Lakehouse._stage_dv`)
_DV_SCHEMA = "file_path string, row_index long"


@dataclass
class _TableState:
    """A table's state as of one version, folded from its commit log
    (`_fold_log`).  Data dirs are absolute."""

    # partition token → (the commit dir serving it, partition column)
    part_map: dict[str, tuple[str, str]] = field(default_factory=dict)
    # additive (append / MoR-update) dirs → partition column → the
    # tokens a later partition overwrite superseded in them
    extra: dict[str, dict[str, list[str]]] = field(default_factory=dict)
    dvs: list[str] = field(default_factory=list)  # live deletion vectors
    renames: dict[str, str] = field(default_factory=dict)  # physical → logical
    dropped: set[str] = field(default_factory=set)  # dropped physical names
    widened: dict[str, str] = field(default_factory=dict)  # physical → type
    # add_column declarations, keyed by the PHYSICAL name the column
    # had when added (later renames layer on top)
    added: list[dict] = field(default_factory=list)

    def dirs(self) -> set[str]:
        """Every data dir the state references."""
        held = {d for d, _ in self.part_map.values()}
        return held | set(self.extra) | set(self.dvs)


def _step(state: _TableState, e: dict, path: str) -> None:
    """Apply one non-restore log entry to `state` in place; `path` is
    the table dir the entry's data dirs are relative to."""
    op = e["operation"]
    if op in ("rename_column", "drop_column"):
        logical = e["old"] if op == "rename_column" else e["column"]
        phys = next(
            (p for p, l in state.renames.items() if l == logical), logical
        )
        if op == "drop_column":
            state.renames.pop(phys, None)
            state.dropped.add(phys)
        elif e["new"] == phys:
            state.renames.pop(phys, None)  # renamed back home
        else:
            state.renames[phys] = e["new"]
        return
    if op == "widen_column":
        # the commit guard admits only strictly-widening steps, so the
        # last widening of a column is its widest
        state.widened[e["column"]] = e["to_type"]
        return
    if op == "add_column":
        state.added.append(
            {
                "column": e["column"],
                "dtype": e["dtype"],
                "default": e.get("default"),
            }
        )
        return
    d = e.get("data_dir")
    if d is None:
        return
    d = os.path.join(path, d)
    part_map, extra, dvs = state.part_map, state.extra, state.dvs
    if op in ("overwrite", "compact"):
        # full rewrite: data was read THROUGH the DV filter, so the new
        # files are clean — vectors reset
        part_map.clear()
        extra.clear()
        dvs.clear()
        extra[d] = {}
    elif op == "append":
        extra[d] = {}
    elif op == "delete_dv":
        dvs.append(d)
    elif op == "update_mor":
        # merge-on-read MERGE: one atomic line = new rows (append
        # semantics) + a vector deleting their old versions
        extra[d] = {}
        if e.get("dv_dir") is not None:  # None: nothing matched
            dvs.append(os.path.join(path, e["dv_dir"]))
    elif op in ("overwrite_partitions", "compact_partitioned"):
        if op == "compact_partitioned":
            part_map.clear()
            extra.clear()
            dvs.clear()
        pcol = e["partition_col"]
        parts = [str(p) for p in e["partitions"]]
        for p in parts:
            part_map[p] = (d, pcol)
        # supersede these partitions in every OLDER live additive dir
        # (rows written there now have a newer image in `d` — without
        # this they'd resurrect; a newer append of the same partition
        # enters `extra` after the overwrite, with no exclusion)
        for excl in extra.values():
            excl[pcol] = sorted(set(excl.get(pcol, ())) | set(parts))
        # a partition overwrite leaves vectors in place: DV rows
        # referencing superseded files go inert (their file paths are
        # no longer scanned); compaction reclaims them


def _fold_log(
    entries: list[dict], path: str, version: int | None = None
) -> _TableState:
    """The table's state as of `version` (inclusive; None = latest),
    folded from its parsed commit log `entries` in one walk — pure log
    arithmetic, no filesystem listing, no Spark job.  The log is the
    only record of table state and is never truncated, so every
    version replays from it.  A `restore` entry resets the state to
    what it was after its `of_version` (the rollback is one log line,
    no data is copied): the walk keeps a copy of the state at every
    version some restore names, so each entry is visited once however
    restores chain."""
    live = [e for e in entries if version is None or e["version"] <= version]
    targets = {e["of_version"] for e in live if e["operation"] == "restore"}
    state = _TableState()
    kept = {}
    for e in live:
        if e["operation"] == "restore":
            state = copy.deepcopy(kept[e["of_version"]])
        else:
            _step(state, e, path)
        if e["version"] in targets:
            kept[e["version"]] = copy.deepcopy(state)
    return state


@dataclass
class _Slice:
    """One commit dir's share of a planned read (`Lakehouse._plan`)."""

    d: str  # the commit dir; Spark's basePath
    roots: list[str]  # the paths Spark is handed
    files: list[dict]  # the planned files' log records (paths under d)
    schema: dict | None  # the dir's logged Spark read schema
    # rows kept: partition column ∈ canonical tokens
    keep: tuple[str, list[str]] | None = None
    # additive dirs only: partitions superseded by later overwrites
    excl: dict[str, list[str]] | None = None


class _Plan(NamedTuple):
    slices: list[_Slice]
    dvs: list[str]  # live deletion-vector dirs
    partition_cols: list[str]  # the manifest's partition columns
    version: int | None  # the planned version (None: no commits)
    entries: list[dict]  # the parsed log the plan was made from
    state: _TableState  # the table state as of `version`


def _roots(
    d: str, files: list[dict], live: list[dict], kept: list[dict]
) -> list[str]:
    """Spark's roots for a slice: the whole dir when the plan kept every
    live file (the slice's filters drop superseded rows), the kept
    partitions' subdirs when whole partitions were pruned, else the
    kept files.  Few roots matter: past
    `spark.sql.sources.parallelPartitionDiscovery.threshold` (32)
    Spark lists them with a job of its own."""
    if len(kept) == len(live):
        return [d]
    kept_paths = {f["path"] for f in kept}
    subs = {
        f["path"].split(os.sep, 1)[0] if os.sep in f["path"] else None
        for f in kept
    }
    if None not in subs and all(
        f["path"] in kept_paths
        for f in files
        if f["path"].split(os.sep, 1)[0] in subs
    ):
        return [os.path.join(d, sub) for sub in sorted(subs)]
    return [os.path.join(d, f["path"]) for f in kept]


def _with_meta(
    entry: dict, extra_meta: dict | Callable[[], dict] | None
) -> dict:
    """Merge caller metadata into a staged commit entry (recorded on
    the log line, atomic with the commit — how a consumer ties applied
    work to the exact commit that carries it, e.g. a materialized
    view's `mv_base_version` watermark).  `extra_meta` may also be a
    function, called once the stager has written the files: metadata
    the write itself produced (an `Observation` on the written frame).
    Reserved keys are protected: metadata can annotate a commit, never
    alter its replay semantics."""
    if callable(extra_meta):
        extra_meta = extra_meta()
    if not extra_meta:
        return entry
    clash = set(extra_meta) & (
        set(entry) | {"version", "timestamp", "operation", "txn_id"}
    )
    if clash:
        raise ValueError(f"extra_meta keys collide with commit fields: {clash}")
    entry.update(extra_meta)
    return entry


def _check_mode(op: str, mode: str) -> None:
    if mode not in ("copy_on_write", "merge_on_read"):
        raise ValueError(
            f"{op}: unknown mode {mode!r} (copy_on_write | merge_on_read)"
        )


def _check_filter(op: str, condition, predicates) -> None:
    if (condition is None) == (predicates is None):
        raise ValueError(
            f"{op}: pass exactly one of condition or predicates"
        )


# legal type widenings (Delta's type-widening matrix, the exact
# subset): every conversion is value-preserving — int32 is exact in
# float64, bigint is NOT (53-bit mantissa), so bigint→double is
# refused
_WIDEN_CHAINS: dict[str, tuple[str, ...]] = {
    "tinyint": ("smallint", "int", "bigint", "double"),
    "smallint": ("int", "bigint", "double"),
    "int": ("bigint", "double"),
    "float": ("double",),
}


@dataclass
class Lakehouse:
    """A directory-per-table catalog with medallion schema prefixes
    (bronze/silver/gold → subdirectories, the CREATE SCHEMA analog)."""

    root: str
    # Every commit entry that adds files lists them (path, rows, bytes,
    # footer min/max/null stats) together with the dir's Spark read
    # schema (`skipping.collect_file_stats`); reads plan from that
    # record (`_plan`), never from a directory listing.  The commit
    # log is the only record of table state: each call folds it once
    # (`_fold_log`), and a `_checkpoints/` dir is never read.

    def _table_dir(self, schema: str, name: str) -> str:
        return os.path.join(self.root, schema, name)

    # -- DDL (S8) ----------------------------------------------------------

    def create_schemas(self, *schemas: str) -> None:
        for s in schemas:
            os.makedirs(os.path.join(self.root, s), exist_ok=True)

    # -- writes (S9/S10/S11/S13) ------------------------------------------

    @contextmanager
    def _table_lock(self, path: str):
        """Exclusive per-table commit lock (advisory flock).

        The local stand-in for what serializes commits in a real
        deployment: an object store's conditional-put on the next log
        entry (Delta on S3) or a catalog database's unique (table,
        version) constraint (DuckLake's Neon Postgres catalog,
        utils_db.py:49-84).  Held only around the read-check-append of
        one log line — never around data-file writes, which happen
        before, unserialized, into unique staging directories.
        """
        import fcntl

        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, LOCK_FILE), "a") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(lf, fcntl.LOCK_UN)

    # -- table format (the NULL-partition token) ---------------------------

    FORMAT_FILE = "_format.json"

    def _check_format(self, schema: str, name: str, new: bool) -> bool:
        """True when the table's format file names `NULL_SENTINEL`;
        False when there is none and the caller says the table is
        `new` (no commits).  Anything else — a committed table without
        the file, or a file naming another NULL token (the retired
        'None' scheme, under which NULL and a literal 'None' shared one
        partition) — raises `ValueError` rather than being misread."""
        p = os.path.join(self._table_dir(schema, name), self.FORMAT_FILE)
        try:
            with open(p) as f:
                token = json.load(f).get("null_token")
        except FileNotFoundError:
            if new:
                return False
            token = None
        if token != NULL_SENTINEL:
            raise ValueError(
                f"{schema}.{name}: unsupported table format — {p} is "
                f"missing or names NULL-partition token {token!r}, not "
                f"{NULL_SENTINEL!r}"
            )
        return True

    def _ensure_format(self, schema: str, name: str) -> None:
        """Stamp the format file on a NEW table (no commits, no format
        file yet) — called from every write entry point BEFORE data is
        staged, so the token is fixed for the table's whole life — and
        refuse a table in any other format (`_check_format`)."""
        if self._check_format(schema, name, new=True):
            return
        path = self._table_dir(schema, name)
        with self._table_lock(path):
            new = not self._raw_snapshots(schema, name)
            if self._check_format(schema, name, new):
                return
            p = os.path.join(path, self.FORMAT_FILE)
            with open(p + ".tmp", "w") as f:
                json.dump({"null_token": NULL_SENTINEL}, f)
            os.replace(p + ".tmp", p)

    def _next_data_dir(self, schema: str, name: str) -> tuple[int, str]:
        """(base version, unique staging dir).  The dir name embeds a
        writer-unique suffix so concurrent stagers never clobber each
        other's files; which staged dir becomes live is decided later,
        at the serialized log append (`_commit`)."""
        self._ensure_format(schema, name)
        version = len(self.snapshots(schema, name))
        uniq = f"{time.time_ns():x}-{os.getpid():x}"
        return version, os.path.join(
            self._table_dir(schema, name), "_data", f"v{version}-{uniq}"
        )

    def _commit(
        self, schema: str, name: str, entry: dict, base_version: int,
        unique_meta: tuple[str, ...] | None = None,
    ) -> bool:
        """Optimistic commit: under the table lock, every line that
        landed after `base_version` is checked against this write's
        footprint; disjoint writers (different partitions, appends)
        merge cleanly with consecutive version numbers, overlapping
        writers raise `ConcurrentWriteError` for the caller to re-read
        and retry.  No lost updates, linear history, and the lock is
        held only for log-line arithmetic — data files were already
        written outside it.

        `unique_meta` names metadata keys that must be UNIQUE across
        the whole log: if any existing line carries the same values,
        the commit is SKIPPED (returns False) instead of appended —
        the table-level idempotence primitive streaming sinks need
        (a zombie writer and a restarted query racing the same
        micro-batch both pass an outside-the-lock seen-check; only a
        check inside the commit lock closes that window).  The
        skipped write's staged data dir stays an unreferenced orphan,
        exactly like a crashed write — vacuum reclaims it."""
        path = self._table_dir(schema, name)
        with self._table_lock(path):
            if unique_meta:
                mine = {k: entry.get(k) for k in unique_meta}
                for other in self._raw_snapshots(schema, name):
                    if all(
                        other.get(k) == v for k, v in mine.items()
                    ):
                        return False  # duplicate: already committed
            for other in self._raw_snapshots(schema, name)[base_version:]:
                if _commits_conflict(entry, other):
                    raise ConcurrentWriteError(
                        f"{schema}.{name}: commit of {entry['op']!r} based "
                        f"on version {base_version} conflicts with "
                        f"interleaved version {other['version']} "
                        f"({other['operation']!r}); re-read and retry"
                    )
            self._append_log_line(path, **entry)
        return True

    # -- CHECK constraints (Delta ALTER TABLE ADD CONSTRAINT analog) -------

    CONSTRAINTS_FILE = "_constraints.json"

    def constraints(self, schema: str, name: str) -> dict[str, str]:
        p = os.path.join(
            self._table_dir(schema, name), self.CONSTRAINTS_FILE
        )
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def add_constraint(
        self, schema: str, name: str, cname: str, predicate: str
    ) -> None:
        """Register a CHECK constraint (a SQL boolean expression over
        the table's columns).  Every subsequent write — direct or in a
        transaction — validates its staged rows BEFORE the data write;
        a violation raises `ConstraintViolationError` with sample rows
        and commits nothing.  SQL-standard three-valued semantics: a
        row passes when the predicate is TRUE **or UNKNOWN** (express
        non-nullness explicitly: `col IS NOT NULL`).  Constraints live
        in the table's catalog sidecar, not the commit log — adding
        one does not validate existing data (Delta validates history
        on ADD; call `validate(...)` for that check here)."""
        path = self._table_dir(schema, name)
        with self._table_lock(path):
            cs = self.constraints(schema, name)
            cs[cname] = predicate
            with open(os.path.join(path, self.CONSTRAINTS_FILE), "w") as f:
                json.dump(cs, f)

    def drop_constraint(self, schema: str, name: str, cname: str) -> None:
        path = self._table_dir(schema, name)
        with self._table_lock(path):
            cs = self.constraints(schema, name)
            cs.pop(cname, None)
            with open(os.path.join(path, self.CONSTRAINTS_FILE), "w") as f:
                json.dump(cs, f)

    # -- column mapping (ALTER TABLE RENAME/DROP COLUMN analog) ------------
    #
    # Delta's column-mapping mode, re-expressed for this log: data
    # files are immutable and always store PHYSICAL column names (the
    # name a column had when it first appeared); renames and drops are
    # METADATA-ONLY commits (one log line, no data rewritten — the
    # whole point at 100 TB).  Reads translate physical→logical at the
    # end of plan assembly; writers translate logical→physical before
    # staging, so every data directory of a table shares one physical
    # namespace regardless of when it was written.  Time travel
    # replays the mapping to the requested version, so a v3 read shows
    # v3's column names; RESTORE rolls the mapping back like any other
    # state.

    def column_state(
        self, schema: str, name: str, version: int | None = None,
        entries: list[dict] | None = None,
    ) -> tuple[dict[str, str], set[str]]:
        """(physical→logical renames, dropped physical names) as of
        `version` (None = latest), replayed from the metadata commits.
        Empty structures mean logical == physical (the common case —
        callers fast-path on it).  `entries` is the caller's
        already-parsed log (`snapshots()`), if it has one."""
        state = self._state(schema, name, version, entries)
        return state.renames, state.dropped

    def _state(
        self, schema: str, name: str, version: int | None = None,
        entries: list[dict] | None = None,
    ) -> _TableState:
        """`_fold_log` over the table's log (`entries`, if the caller
        already parsed it)."""
        if entries is None:
            entries = self.snapshots(schema, name)
        return _fold_log(entries, self._table_dir(schema, name), version)

    def _retired_physical(self, schema: str, name: str) -> set[str]:
        """Physical names no data-facing writer may reuse: dropped
        columns (their bytes still live in old files and would ghost-
        union under a new column of the same name) and the physical
        names of renamed columns (a frame carrying one is using a
        stale, pre-rename name)."""
        mapping, dropped = self.column_state(schema, name)
        return dropped | set(mapping)

    def _column_ddl_guard(
        self, spark: SparkSession, schema: str, name: str, col: str
    ) -> list[str]:
        """Shared validation for rename/drop: `col` must exist
        logically and must not be load-bearing for partitioning,
        constraints, or bloom indexes (Delta restricts the same ways).
        Returns the current logical columns."""
        current = self.read(spark, schema, name).columns
        if col not in current:
            raise ValueError(
                f"{schema}.{name}: no column {col!r} (have {current})"
            )
        part_map, _, _ = self._manifest(schema, name, None)
        pcols = {pcol for _, pcol in part_map.values()}
        spec = self.partition_spec(schema, name)
        if spec is not None:
            pcols |= {spec.source, spec.hidden_col}
        if col in pcols:
            raise ValueError(
                f"{schema}.{name}: {col!r} is a partition column; "
                "repartition the table instead of renaming/dropping it"
            )
        pat = re.compile(rf"\b{re.escape(col)}\b")
        for cname, pred in self.constraints(schema, name).items():
            if pat.search(pred):
                raise ValueError(
                    f"{schema}.{name}: {col!r} is referenced by CHECK "
                    f"constraint {cname!r} ({pred}); drop the "
                    "constraint first"
                )
        if col in self.bloom_index(schema, name):
            raise ValueError(
                f"{schema}.{name}: {col!r} has a bloom index; drop the "
                "index first"
            )
        return current

    def rename_column(
        self, spark: SparkSession, schema: str, name: str,
        old: str, new: str,
    ) -> None:
        """ALTER TABLE ... RENAME COLUMN old TO new — one metadata
        commit, zero bytes rewritten.  Refuses names that collide with
        a live logical column or a retired physical name (whose bytes
        still exist in immutable files)."""
        current = self._column_ddl_guard(spark, schema, name, old)
        if new in current:
            raise ValueError(
                f"{schema}.{name}: column {new!r} already exists"
            )
        mapping, dropped = self.column_state(schema, name)
        own_physical = next(
            (p for p, l in mapping.items() if l == old), old
        )
        retired = dropped | (set(mapping) - {own_physical})
        if new in retired:
            # renaming BACK to the column's own physical name is fine
            # (the mapping entry just dissolves); any OTHER retired
            # name still has foreign bytes behind it
            raise ValueError(
                f"{schema}.{name}: {new!r} is a retired physical name "
                "(old files still store data under it); pick another"
            )
        base = len(self.snapshots(schema, name))
        self._commit(
            schema, name, dict(op="rename_column", old=old, new=new), base
        )

    def drop_column(
        self, spark: SparkSession, schema: str, name: str, column: str
    ) -> None:
        """ALTER TABLE ... DROP COLUMN — metadata-only: reads stop
        surfacing it, files keep their bytes until the next `compact`
        rewrite (or `purge` for compliance erasure); time travel to a
        pre-drop version still shows it."""
        current = self._column_ddl_guard(spark, schema, name, column)
        if len(current) <= 1:
            raise ValueError(
                f"{schema}.{name}: cannot drop the only column"
            )
        base = len(self.snapshots(schema, name))
        self._commit(
            schema, name, dict(op="drop_column", column=column), base
        )

    def add_column(
        self, spark: SparkSession, schema: str, name: str,
        column: str, dtype: str, default=None,
    ) -> None:
        """ALTER TABLE ... ADD COLUMN with an optional DEFAULT — one
        metadata commit, zero bytes rewritten.  Exact Delta default
        semantics, resolved per FILE GENERATION: rows from commits
        that predate the add (their files lack the column) read the
        default; commits after the add store real values, so a
        genuine NULL written later stays NULL.  `default` must be a
        JSON-scalar (int/float/str/bool/None) — it lives on the log
        line."""
        if default is not None and not isinstance(
            default, (int, float, str, bool)
        ):
            raise ValueError(
                f"add_column default must be a JSON scalar, got "
                f"{type(default).__name__}"
            )
        current = self.read(spark, schema, name).columns
        if column in current:
            raise ValueError(
                f"{schema}.{name}: column {column!r} already exists"
            )
        if column in self._retired_physical(schema, name):
            raise ValueError(
                f"{schema}.{name}: {column!r} is a retired physical "
                "name (old files still store data under it); pick "
                "another"
            )
        base = len(self.snapshots(schema, name))
        self._commit(
            schema, name,
            dict(
                op="add_column", column=column, dtype=dtype,
                default=default,
            ),
            base,
        )

    def widen_column_type(
        self, spark: SparkSession, schema: str, name: str,
        column: str, to_type: str,
    ) -> None:
        """ALTER TABLE ... ALTER COLUMN ... TYPE — value-preserving
        type widening (Delta's type-widening feature): one metadata
        commit, zero bytes rewritten.  Files keep their narrow
        physical type forever (immutable); every read path upcasts
        each per-commit frame before the union, so old int32 files
        and new int64 files surface as one bigint column.  Writers may
        keep handing in the narrow type (reads upcast) or the wide
        one.  Only the widenings in `_WIDEN_CHAINS` are legal — each
        is exact, so a widened read never changes a value, only its
        container.  Time travel to a pre-widen version shows the
        narrow type; RESTORE rolls the widening back with everything
        else.  Legal steps live in module-level `_WIDEN_CHAINS`."""
        current = self._column_ddl_guard(spark, schema, name, column)
        cur_type = dict(
            self.read(spark, schema, name).dtypes
        )[column]
        if column not in current:  # pragma: no cover - guard raises
            raise ValueError(f"no column {column!r}")
        legal = _WIDEN_CHAINS.get(cur_type, ())
        if to_type not in legal:
            raise ValueError(
                f"{schema}.{name}: cannot widen {column!r} from "
                f"{cur_type} to {to_type}; value-preserving widenings "
                f"from {cur_type}: {list(legal) or 'none'}"
            )
        mapping, _dropped = self.column_state(schema, name)
        phys = next(
            (p for p, l in mapping.items() if l == column), column
        )
        base = len(self.snapshots(schema, name))
        self._commit(
            schema, name,
            dict(
                op="widen_column", column=phys,
                from_type=cur_type, to_type=to_type,
            ),
            base,
        )

    @staticmethod
    def _fill_added(
        frames: list[DataFrame], state: _TableState
    ) -> list[DataFrame]:
        """Attach declared-but-absent added columns (typed default or
        NULL) to each per-commit frame BEFORE the union — frame
        membership is exactly 'was this file written before the add',
        which is what makes the default/genuine-NULL distinction
        exact.  Also upcasts type-widened columns per frame (files are
        immutable, so pre-widen commits carry the narrow physical type
        forever; the cast BEFORE the union is what lets int32 and
        int64 file generations surface as one bigint column) — every
        read path (read / read_where / read_changes) funnels through
        here, so widening applies uniformly."""
        if not state.added and not state.widened:
            return frames
        out = []
        for f in frames:
            for a in state.added:
                if a["column"] not in f.columns:
                    f = f.withColumn(
                        a["column"],
                        F.lit(a["default"]).cast(a["dtype"]),
                    )
            for col, t in state.widened.items():
                if col in f.columns:
                    f = f.withColumn(col, F.col(col).cast(t))
            out.append(f)
        return out

    @staticmethod
    def _apply_column_mapping(df: DataFrame, state: _TableState) -> DataFrame:
        """physical→logical projection for read paths.  Hidden and
        positional plumbing columns pass through untouched (they are
        never renameable)."""
        if not state.renames and not state.dropped:
            return df
        return df.select(
            *[
                df[c].alias(state.renames.get(c, c))
                for c in df.columns
                if c not in state.dropped
            ]
        )

    def _to_physical(
        self, df: DataFrame, schema: str, name: str
    ) -> DataFrame:
        """logical→physical rename for write paths.  Frames must speak
        the CURRENT logical schema: a column named like a retired
        physical name (dropped, or the pre-rename name of a live
        column) is refused — silently writing it would resurrect dead
        bytes or fork the namespace."""
        mapping, dropped = self.column_state(schema, name)
        if not mapping and not dropped:
            return df
        bad = [c for c in df.columns if c in dropped or c in mapping]
        if bad:
            raise ValueError(
                f"{schema}.{name}: column(s) {bad} use retired physical "
                "names; writers must use the current logical schema "
                f"(renames: { {p: l for p, l in mapping.items()} }, "
                f"dropped: {sorted(dropped)})"
            )
        for phys, logical in mapping.items():
            if logical in df.columns:
                df = df.withColumnRenamed(logical, phys)
        return df

    # -- Bloom filter indexes (Delta CREATE BLOOMFILTER INDEX analog) ------

    BLOOM_FILE = "_bloom_index.json"
    PARTITION_SPEC_FILE = "_partition_spec.json"

    def partition_spec(self, schema: str, name: str):
        """The table's hidden-partitioning spec, or None (explicitly
        partitioned / unpartitioned tables)."""
        from .transforms import PartitionSpec

        p = os.path.join(
            self._table_dir(schema, name), self.PARTITION_SPEC_FILE
        )
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return PartitionSpec.from_json(json.load(f))

    def set_partition_spec(self, schema: str, name: str, spec: str) -> None:
        """Declare Iceberg-style HIDDEN partitioning (Iceberg spec
        §Partition Transforms): `"days(ts)"`, `"months(ts)"`,
        `"hours(ts)"`, `"bucket(16, user_id)"`, `"truncate(4, code)"`,
        `"identity(day)"`.  Set once, before the first partitioned
        write.  From then on every partition-shaped write
        (`overwrite_partitions`, `merge_into`, `delete_where`,
        `compact`) with `partition_col=None` derives the partition
        value from the SOURCE column automatically, readers never see
        the derived column, and `read_where` predicates on the raw
        source column prune partitions through the transform
        (equality always; ranges through the order-preserving
        transforms).  Changing the spec after data exists would strand
        old layouts — refused."""
        from .transforms import parse_spec

        parsed = parse_spec(spec)  # validate before persisting
        self._ensure_format(schema, name)  # before the lock: not reentrant
        path = self._table_dir(schema, name)
        with self._table_lock(path):
            if self.snapshots(schema, name) and self.partition_spec(
                schema, name
            ) not in (None, parsed):
                raise ValueError(
                    f"{schema}.{name}: partition spec cannot change "
                    "after data is written (Iceberg allows spec "
                    "evolution; this engine does not — rewrite via "
                    "clone instead)"
                )
            with open(
                os.path.join(path, self.PARTITION_SPEC_FILE), "w"
            ) as f:
                json.dump(parsed.to_json(), f)

    def _resolve_partitioning(
        self, df: DataFrame, schema: str, name: str,
        partition_col: str | None,
    ) -> tuple[DataFrame, str]:
        """(df, physical partition column).  Explicit `partition_col`
        wins (internal rewrites pass the hidden column through, and a
        frame read back through `read`, which strips it, gets it
        re-derived); with None, a hidden spec derives its value column
        — recomputed even if present, so a stale caller-supplied value
        can never disagree with the transform."""
        if partition_col in df.columns:
            return df, partition_col
        spec = self.partition_spec(schema, name)
        if partition_col is not None:
            if spec is not None and partition_col == spec.hidden_col:
                df = df.withColumn(partition_col, spec.derive(df))
            return df, partition_col
        if spec is None:
            raise ValueError(
                f"{schema}.{name}: partition_col is required for "
                "tables without a hidden partition spec "
                "(set_partition_spec)"
            )
        return (
            df.withColumn(spec.hidden_col, spec.derive(df)),
            spec.hidden_col,
        )

    @staticmethod
    def _drop_hidden(df: DataFrame) -> DataFrame:
        """Strip hidden-partitioning value columns — readers see only
        the logical schema (the 'hidden' in hidden partitioning)."""
        from .transforms import HIDDEN_PREFIX

        hidden = [c for c in df.columns if c.startswith(HIDDEN_PREFIX)]
        return df.drop(*hidden) if hidden else df

    def bloom_index(self, schema: str, name: str) -> dict[str, dict]:
        p = os.path.join(self._table_dir(schema, name), self.BLOOM_FILE)
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def add_bloom_index(
        self,
        schema: str,
        name: str,
        column: str,
        m: int | None = None,
        k: int | None = None,
    ) -> None:
        """Register a per-file Bloom filter on `column` (string/integer
        typed): every subsequent write records, per new file, an m-bit
        k-probe filter of the column's values in the commit entry, and
        `read_where` consults it for `=` / `in` predicates — the
        high-cardinality point-lookup pruning min/max stats can't give.
        Like Delta, existing files are not back-indexed (they simply
        never prune); compaction re-files the data and indexes it."""
        from .bloom import DEFAULT_K, DEFAULT_M

        path = self._table_dir(schema, name)
        with self._table_lock(path):
            cfg = self.bloom_index(schema, name)
            cfg[column] = {"m": m or DEFAULT_M, "k": k or DEFAULT_K}
            with open(os.path.join(path, self.BLOOM_FILE), "w") as f:
                json.dump(cfg, f)

    def drop_bloom_index(self, schema: str, name: str, column: str) -> None:
        path = self._table_dir(schema, name)
        with self._table_lock(path):
            cfg = self.bloom_index(schema, name)
            cfg.pop(column, None)
            with open(os.path.join(path, self.BLOOM_FILE), "w") as f:
                json.dump(cfg, f)

    def validate(self, spark: SparkSession, schema: str, name: str) -> None:
        """Check the CURRENT table state against all constraints (what
        Delta runs when a constraint is added over existing data)."""
        self._enforce_constraints(
            self.read(spark, schema, name), schema, name
        )

    def _enforce_constraints(
        self, df: DataFrame, schema: str, name: str
    ) -> None:
        cs = self.constraints(schema, name)
        if not cs:
            return
        # one pass for all constraints: a row violates iff ANY
        # predicate is FALSE (UNKNOWN passes — SQL CHECK semantics)
        viol = F.lit(False)
        for pred in cs.values():
            viol = viol | ~F.coalesce(F.expr(pred), F.lit(True))
        bad = df.filter(viol).limit(3).collect()
        if bad:
            failing = {
                cname: pred
                for cname, pred in cs.items()
                if any(
                    not r[0]
                    for r in df.filter(viol)
                    .limit(50)
                    .select(F.coalesce(F.expr(pred), F.lit(True)))
                    .collect()
                )
            }
            raise ConstraintViolationError(
                f"{schema}.{name}: write violates CHECK constraint(s) "
                f"{failing or set(cs)}; sample rows: "
                f"{[r.asDict() for r in bad]}"
            )

    def _attach_stats(
        self,
        entry: dict,
        data_dir: str,
        schema: str | None = None,
        name: str | None = None,
    ) -> dict:
        """Record the new files in the commit entry (the Delta
        add-action analog): per-file rows, bytes and footer stats plus
        the dir's read schema (`skipping.collect_file_stats`) — what
        `_plan` serves every read from.  Driver-side footer reads only;
        no Spark job — unless the table has Bloom indexes
        (`add_bloom_index`), which add one bounded Spark aggregate per
        indexed column over the new files."""
        from .skipping import collect_file_stats

        entry.update(collect_file_stats(data_dir))
        cfg = (
            self.bloom_index(schema, name)
            if schema is not None and name is not None
            else {}
        )
        if cfg and entry["files"]:
            from .bloom import build_file_blooms

            spark = SparkSession.getActiveSession()
            if spark is not None:
                blooms = build_file_blooms(spark, data_dir, cfg)
                for f in entry["files"]:
                    b = blooms.get(f["path"])
                    if b:
                        f["bloom"] = b
        return entry

    @staticmethod
    def _cluster_for_partitioned_write(
        df: DataFrame,
        partition_col: str,
        files_per_partition: int = 1,
        sort_within: tuple[str, ...] = (),
    ) -> DataFrame:
        """The one-writer-per-partition rule, in ONE place (the write
        paths and compact all follow it): hash-repartition on the
        partition column so every value's rows land in one task →
        exactly one file per partition directory per commit.  The
        unpartitioned form multiplies files by the upstream task count
        (T tasks × P partitions small files — the 100 TB small-files
        explosion) and makes per-commit file counts vary with
        AQE/parallelism.

        `files_per_partition > 1` is the large-partition escape hatch
        (a 400 GB city partition must not funnel through one writer):
        a deterministic intra-partition bucket (xxhash64 of the row,
        never rand()) splits each value across up to that many tasks —
        best-effort upper bound, since AQE may coalesce small buckets
        back together.  `sort_within` sorts rows inside each writer so
        per-file min/max stats and Bloom indexes keep their pruning
        power (a bare hash shuffle would randomize any caller-provided
        clustering)."""
        if files_per_partition > 1:
            hashable = [
                c for c, t in df.dtypes if not t.startswith("map<")
            ]  # xxhash64 rejects maps
            if hashable:
                bucket = F.pmod(
                    F.xxhash64(*[F.col(c) for c in hashable]),
                    F.lit(files_per_partition),
                )
                # explicit task count (compact's rule): AQE would
                # otherwise coalesce the small (value, bucket) shuffle
                # groups back to one task per value, silently undoing
                # the split
                n_tasks = files_per_partition * max(
                    1, df.sparkSession.sparkContext.defaultParallelism
                )
                out = df.repartition(
                    n_tasks, F.col(partition_col), bucket
                )
            else:
                out = df.repartition(F.col(partition_col))
        else:
            out = df.repartition(F.col(partition_col))
        if sort_within:
            out = out.sortWithinPartitions(partition_col, *sort_within)
        return out

    def _stage_overwrite_partitions(
        self, df: DataFrame, schema: str, name: str,
        partition_col: str, data_dir: str,
        partitions: list[str] | None = None,
        files_per_partition: int = 1,
        sort_within: tuple[str, ...] = (),
    ) -> dict:
        path = self._table_dir(schema, name)
        self._enforce_constraints(df, schema, name)
        df = self._to_physical(df, schema, name)
        (
            self._cluster_for_partitioned_write(
                df, partition_col, files_per_partition, sort_within
            )
            .write.mode("overwrite")
            .partitionBy(partition_col)
            .parquet(data_dir)
        )
        entry = self._attach_stats(
            dict(
                op="overwrite_partitions", partition_col=partition_col,
                data_dir=os.path.relpath(data_dir, path),
            ),
            data_dir,
            schema,
            name,
        )
        # the superseded set: every partition the write produced, read
        # off the file paths partitionBy just wrote (no second pass
        # over the df's lineage), plus the caller's `partitions` — a
        # partition the rewrite emptied (delete_where removed all its
        # rows) has no directory but must still be superseded
        raw = {
            t for f in entry["files"]
            if (t := _path_tokens(f["path"]).get(partition_col)) is not None
        }
        parts = {_canon_token(t) for t in raw}
        parts.update(str(p) for p in partitions or ())
        entry["partitions"] = sorted(parts)
        return entry

    def _stage_full_write(
        self, df: DataFrame, schema: str, name: str, op: str, data_dir: str
    ) -> dict:
        path = self._table_dir(schema, name)
        self._enforce_constraints(df, schema, name)
        df = self._to_physical(df, schema, name)
        spec = self.partition_spec(schema, name)
        if spec is not None and spec.source in df.columns:
            # hidden-spec tables lay out even full writes / appends by
            # the derived value, so `read_where` can DIRECTORY-prune
            # additive commit dirs too (the streaming-append shape).
            # One writer per derived value
            # (_cluster_for_partitioned_write owns the rule).
            (
                self._cluster_for_partitioned_write(
                    df.withColumn(spec.hidden_col, spec.derive(df)),
                    spec.hidden_col,
                )
                .write.mode("overwrite")
                .partitionBy(spec.hidden_col)
                .parquet(data_dir)
            )
        else:
            df.write.mode("overwrite").parquet(data_dir)
        return self._attach_stats(
            dict(op=op, data_dir=os.path.relpath(data_dir, path)),
            data_dir,
            schema,
            name,
        )

    def _stage_rows(
        self, rows: list[tuple], row_schema: StructType,
        schema: str, name: str, data_dir: str,
    ) -> dict:
        """An append of a few driver-side `rows` (tuples in
        `row_schema`'s field order): ONE zstd parquet written on the
        driver with pyarrow, carrying Spark's row-schema footer key so
        the logged read schema is the one a Spark write of the same
        rows logs — no Spark job.  Refused on a table with CHECK
        constraints, column mapping or a partition spec: those write
        paths run through Spark, and rows written around them would
        bypass what they guarantee."""
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_type

        from .skipping import SPARK_ROW_SCHEMA_KEY

        if (
            self.constraints(schema, name)
            or any(self.column_state(schema, name))
            or self.partition_spec(schema, name) is not None
        ):
            raise ValueError(
                f"{schema}.{name}: driver-written rows would bypass the "
                "table's CHECK constraints, column mapping or partition "
                "spec; append a DataFrame instead"
            )
        arrow = pa.schema(
            [
                pa.field(f.name, to_arrow_type(f.dataType), f.nullable)
                for f in row_schema.fields
            ],
            metadata={SPARK_ROW_SCHEMA_KEY: row_schema.json()},
        )
        os.makedirs(data_dir)
        pq.write_table(
            pa.Table.from_pylist(
                [dict(zip(arrow.names, r)) for r in rows], schema=arrow
            ),
            os.path.join(
                data_dir, f"part-00000-{uuid.uuid4()}-c000.zstd.parquet"
            ),
            compression="zstd",
        )
        path = self._table_dir(schema, name)
        return self._attach_stats(
            dict(op="append", data_dir=os.path.relpath(data_dir, path)),
            data_dir,
            schema,
            name,
        )

    def overwrite_partitions(
        self,
        df: DataFrame,
        schema: str,
        name: str,
        partition_col: str | None = None,
        partitions: list[str] | None = None,
        extra_meta: dict | None = None,
        files_per_partition: int = 1,
        sort_within: tuple[str, ...] = (),
    ) -> None:
        """Idempotent partition upsert: only partitions present in `df`
        are replaced; everything else is untouched.  Copy-on-write: the
        new partitions land in a fresh version directory and supersede
        the same partitions of earlier versions at read time.

        `partitions` names more partitions to supersede on top of the
        ones `df` writes — needed when a partition's new state is EMPTY
        (e.g. `delete_where` removed every row): it must still be
        superseded even though no data directory is written for it.

        Concurrency: raises `ConcurrentWriteError` if another writer
        committed an overlapping change since this writer's base
        snapshot; writers touching disjoint partitions commit
        concurrently without conflict (the reference's 8-parallel-day
        cloud mode).

        `partition_col=None` on a hidden-spec table
        (`set_partition_spec`) derives the partition value from the
        spec's source column — the caller partitions by `days(ts)`
        without ever materializing a day column.

        `files_per_partition` / `sort_within`: layout knobs forwarded
        to the one-writer-per-partition rule
        (`_cluster_for_partitioned_write`) — the escape hatch for
        partitions too big for one writer, and the way to keep
        caller-side clustering alive for file-stat/Bloom pruning."""
        df, partition_col = self._resolve_partitioning(
            df, schema, name, partition_col
        )
        base, data_dir = self._next_data_dir(schema, name)
        entry = self._stage_overwrite_partitions(
            df, schema, name, partition_col, data_dir, partitions,
            files_per_partition, sort_within,
        )
        self._commit(schema, name, _with_meta(entry, extra_meta), base)

    # -- row-level DML --------------------------------------------------
    #
    # Each operation has ONE stager (`_stage_merge`, `_stage_delete`,
    # `_stage_update`): it reads the table, writes the new files into
    # the given `data_dir` and returns the log entry (None when no row
    # matches).  `Lakehouse` commits that entry directly against the
    # base version it took BEFORE the stager's read (`_next_data_dir`),
    # so a commit landing between the read and the commit is
    # conflict-checked rather than silently based on stale state;
    # `Transaction` stages it for its journal commit.

    def merge_into(
        self,
        spark: SparkSession,
        schema: str,
        name: str,
        updates: DataFrame,
        key: str | list[str],
        partition_col: str | None = None,
        validate_cross_partition: bool = False,
        mode: str = "copy_on_write",
    ) -> None:
        """Row-level MERGE INTO (Delta MERGE analog) as a
        partition-scoped copy-on-write rewrite: WHEN MATCHED on `key`
        THEN UPDATE SET * / WHEN NOT MATCHED THEN INSERT *.

        Only partitions present in `updates` are read back and
        rewritten — surviving rows via one left-anti join on the key,
        unioned with the updates — then committed through the normal
        partition-overwrite path, so a merge is idempotent, versioned,
        time-travelable, and CDC-visible (`read_changes` shows exactly
        the delete+insert pairs of truly changed rows; rewritten-but-
        identical rows cancel out of the diff).

        At 100 TB the cost is proportional to the affected partitions,
        never the table — the daily-upsert shape this storage layout
        is built around.  An update must not move a row across
        partitions (that needs a delete on the source partition;
        express it as an explicit delete+merge instead).

        `updates` must be unique per key: a key appearing twice (same
        or different partitions) would make the merge ambiguous — and a
        cross-partition duplicate would silently materialize the same
        key in two partitions.  Validated here with one cheap aggregate
        on the (small) updates side; Delta MERGE raises the equivalent
        multiple-source-rows error at run time.

        `validate_cross_partition=True` additionally asserts no update
        key already lives in a partition OUTSIDE the affected set (the
        row-moved-partitions hazard).  That check is a semi-join scan
        of the unaffected partitions — pay it in correctness-critical
        backfills, skip it in the steady-state daily upsert where keys
        embed the partition date and can't move.

        ``mode="merge_on_read"`` (Delta DV-backed MERGE): matched rows
        are deleted by POSITION via a deletion vector and the updates
        appended, all in ONE atomic log line (`update_mor`) — write
        cost O(|updates|), no partition rewritten, and a row may move
        partitions freely (its old position is deleted wherever it
        lives, so the cross-partition hazard doesn't exist).  Readers
        pay the DV anti-join until `compact()` materializes; a merge
        that matches no live row (pure inserts) commits no vector.
        """
        _check_mode("merge_into", mode)
        base, data_dir = self._next_data_dir(schema, name)
        entry = self._stage_merge(
            spark, schema, name, data_dir, updates, key, partition_col,
            validate_cross_partition=validate_cross_partition, mode=mode,
        )
        self._commit(schema, name, entry, base)

    def delete_where(
        self,
        spark: SparkSession,
        schema: str,
        name: str,
        condition=None,
        partition_col: str | None = None,
        mode: str = "copy_on_write",
        predicates: list[tuple] | None = None,
    ) -> bool:
        """Row-level DELETE: rewrite only the partitions that contain
        matching rows, keeping the non-matching rows (GDPR-erasure /
        retention shape).  Partitions with no match are not rewritten
        (their mapping is untouched, so CDC and time travel see no
        change there); the rewrite commits through the versioned
        partition-overwrite path like every other write.

        `condition` is a Column predicate.  At 100 TB the cost is one
        scan of the table to find affected partitions (prunable if the
        predicate constrains `partition_col`) plus a rewrite of only
        those partitions.

        SQL/Delta DELETE three-valued logic: only rows where the
        predicate is TRUE are deleted — NULL-predicate rows survive
        (plain `~condition` would silently drop them whenever their
        partition gets rewritten).

        ``mode="merge_on_read"`` is the Delta deletion-vector path:
        instead of rewriting partitions, commit ONE small parquet of
        the matching rows' physical positions (file path, row index);
        readers anti-join it out.  Write cost becomes O(deleted rows)
        — a single-row GDPR erasure on a 10 TB partition no longer
        rewrites the partition — at the price of a broadcast anti-join
        on every read until `compact()` materializes the deletes and
        clears the vectors.  Same three-valued logic (only TRUE rows
        are named); time travel, CDC, and restore all see DV deletes
        as ordinary commits.

        `predicates` (the ``read_where`` triple list) may be passed
        INSTEAD of `condition`: the delete condition is derived from
        the triples (one source of truth — the rows deleted are exactly
        the rows the triples select), and the scan that finds the rows
        routes through `read_where`, opening only the
        stats/bloom-surviving files: the merge-on-read position scan,
        and on a hidden-partitioned table the copy-on-write partition
        discovery (one pruned probe, `_probe_affected_tokens`).  The
        pruned path is what makes a point erasure (GDPR delete of k
        ids) O(matching files), not O(table scan), on a Bloom-indexed
        key.

        Returns True iff a commit happened (False = no matching rows,
        table untouched, no new version) — callers tracking commit
        counts must branch on this rather than assume one version per
        call."""
        _check_filter("delete_where", condition, predicates)
        _check_mode("delete_where", mode)
        base, data_dir = self._next_data_dir(schema, name)
        entry = self._stage_delete(
            spark, schema, name, data_dir, condition, predicates,
            partition_col, mode,
        )
        if entry is None:
            return False
        self._commit(schema, name, entry, base)
        return True

    def update_where(
        self,
        spark: SparkSession,
        schema: str,
        name: str,
        condition=None,
        set: dict | None = None,
        partition_col: str | None = None,
        mode: str = "copy_on_write",
        predicates: list[tuple] | None = None,
    ) -> bool:
        """Row-level UPDATE (Delta ``UPDATE t SET ... WHERE ...``
        analog) — the third leg of the DML triad next to `merge_into`
        and `delete_where`.

        `set` maps column name → Column expression (or SQL string),
        evaluated against the pre-update row; only rows where
        `condition` is TRUE change (three-valued logic, like DELETE).
        Assignments are cast to the column's existing type, so the
        table schema never drifts under UPDATE.

        Copy-on-write (default): only partitions containing a matching
        row are rewritten — cost ∝ affected partitions, never the
        table; CDC shows exactly the delete+insert pairs of rows whose
        values actually changed (a SET that writes the same value back
        cancels out of the diff).  An assignment may NOT touch the
        partition column (or a hidden spec's source column): the row
        would silently move partitions out of the rewritten set — use
        ``mode="merge_on_read"``, where moves are safe.

        ``mode="merge_on_read"`` (Delta DV-backed UPDATE): the matched
        rows' positions become a deletion vector and their updated
        images are appended, both on ONE atomic ``update_mor`` log
        line — write cost O(matched rows), no partition rewritten,
        and partition-changing assignments are legal (the old position
        is deleted wherever it lives).  Readers pay the DV anti-join
        until `compact()` materializes.

        `predicates` (the ``read_where`` triple list) may be passed
        INSTEAD of `condition` — same contract as `delete_where`: the
        update condition derives from the triples, and the scan that
        finds the rows routes through the pruned read, opening only
        stats/bloom-surviving files (a point UPDATE of k ids on a
        Bloom-indexed key is O(matching files) scan).

        Returns True iff a commit happened (False = no matching rows,
        no new version), matching `delete_where`."""
        _check_mode("update_where", mode)
        if not set:
            raise ValueError("update_where: empty SET")
        _check_filter("update_where", condition, predicates)
        spec = self.partition_spec(schema, name)
        moved = spec.source if spec is not None else partition_col
        if mode == "copy_on_write" and moved is not None and moved in set:
            raise ValueError(
                f"update_where {schema}.{name}: SET {moved} would "
                "move rows across partitions under copy-on-write — "
                'use mode="merge_on_read"'
            )
        base, data_dir = self._next_data_dir(schema, name)
        entry = self._stage_update(
            spark, schema, name, data_dir, condition, set, predicates,
            partition_col, mode,
        )
        if entry is None:
            return False
        self._commit(schema, name, entry, base)
        return True

    def _stage_merge(
        self,
        spark: SparkSession,
        schema: str,
        name: str,
        data_dir: str,
        updates: DataFrame,
        key: str | list[str],
        partition_col: str | None = None,
        purge_condition=None,
        validate_cross_partition: bool = False,
        mode: str = "copy_on_write",
    ) -> dict:
        """MERGE (see `merge_into`); `purge_condition` is the WHEN
        MATCHED DELETE leg `Transaction.merge_into` exposes."""
        keys = [key] if isinstance(key, str) else list(key)
        dup = (
            updates.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .limit(5)
            .collect()
        )
        if dup:
            raise ValueError(
                f"merge_into {schema}.{name}: updates contain duplicate "
                f"keys {[tuple(r[k] for k in keys) for r in dup]} — "
                "one source row per key required"
            )
        update_keys = updates.select(*keys).distinct()
        if mode == "merge_on_read":
            matched = self.read(
                spark, schema, name, with_positions=True
            ).join(update_keys, keys, "left_semi")
            return self._stage_dv(schema, name, matched, updates, data_dir)
        updates, partition_col = self._resolve_partitioning(
            updates, schema, name, partition_col
        )
        current, _ = self._resolve_partitioning(
            self.read(spark, schema, name), schema, name, partition_col
        )
        affected = self._distinct_tokens(
            updates, partition_col, schema, name
        )
        if purge_condition is not None:
            affected = sorted(
                set(affected).union(
                    self._distinct_tokens(
                        current.filter(purge_condition), partition_col,
                        schema, name,
                    )
                )
            )
        in_affected = self._pvalue_match(F.col(partition_col), affected)
        if validate_cross_partition:
            strays = (
                current.filter(~in_affected)
                .join(update_keys, keys, "left_semi")
                .select(*keys, partition_col)
                .limit(5)
                .collect()
            )
            if strays:
                raise ValueError(
                    f"merge_into {schema}.{name}: update keys already "
                    f"exist outside the affected partitions: "
                    f"{[tuple(r) for r in strays]} — a merge cannot "
                    "move rows across partitions (delete from the "
                    "source partition first)"
                )
        survivors = current.filter(in_affected).join(
            update_keys, keys, "left_anti"
        )
        if purge_condition is not None:
            # SQL three-valued logic: only TRUE rows are purged
            survivors = survivors.filter(
                ~F.coalesce(purge_condition, F.lit(False))
            )
        return self._stage_overwrite_partitions(
            # allowMissingColumns = Delta's MERGE schema evolution
            # (autoMerge): updates may ADD columns — surviving rows
            # surface NULL there, exactly like an evolving append
            survivors.unionByName(updates, allowMissingColumns=True),
            schema, name, partition_col, data_dir,
            # a purge can empty a partition entirely
            partitions=affected,
        )

    def _stage_delete(
        self,
        spark: SparkSession,
        schema: str,
        name: str,
        data_dir: str,
        condition=None,
        predicates: list[tuple] | None = None,
        partition_col: str | None = None,
        mode: str = "copy_on_write",
    ) -> dict | None:
        """DELETE (see `delete_where`); None when no row matches."""
        if predicates is not None:
            from .skipping import predicates_to_column

            condition = predicates_to_column(predicates)
        if mode == "merge_on_read":
            matched = self._matching_positions(
                spark, schema, name, condition, predicates
            )
            return self._stage_dv(
                schema, name, matched, None, data_dir,
                rows_without_match=False,
            )
        current, partition_col = self._resolve_partitioning(
            self.read(spark, schema, name), schema, name, partition_col
        )
        affected = self._affected_partitions(
            spark, schema, name, current, condition, predicates,
            partition_col,
        )
        if not affected:
            return None
        survivors = current.filter(
            self._pvalue_match(F.col(partition_col), affected)
        ).filter(~F.coalesce(condition, F.lit(False)))
        return self._stage_overwrite_partitions(
            survivors, schema, name, partition_col, data_dir,
            partitions=affected,
        )

    def _stage_update(
        self,
        spark: SparkSession,
        schema: str,
        name: str,
        data_dir: str,
        condition,
        assignments: dict,
        predicates: list[tuple] | None = None,
        partition_col: str | None = None,
        mode: str = "copy_on_write",
    ) -> dict | None:
        """UPDATE (see `update_where`); None when no row matches."""
        if predicates is not None:
            from .skipping import predicates_to_column

            condition = predicates_to_column(predicates)
        mor = mode == "merge_on_read"
        current = (
            self._matching_positions(
                spark, schema, name, condition, predicates
            )
            if mor
            else self.read(spark, schema, name)
        )
        unknown = sorted(
            k for k in assignments
            if k not in current.columns or k in self._POS_COLS
        )
        if unknown:
            raise ValueError(
                f"update_where {schema}.{name}: SET names unknown "
                f"columns {unknown}"
            )
        if mor:
            return self._stage_dv(
                schema, name, current,
                self._apply_set(current, F.lit(True), assignments),
                data_dir, rows_without_match=False,
            )
        current, partition_col = self._resolve_partitioning(
            current, schema, name, partition_col
        )
        affected = self._affected_partitions(
            spark, schema, name, current, condition, predicates,
            partition_col,
        )
        if not affected:
            return None
        rewritten = self._apply_set(
            current.filter(self._pvalue_match(F.col(partition_col), affected)),
            condition,
            assignments,
        )
        return self._stage_overwrite_partitions(
            rewritten, schema, name, partition_col, data_dir,
            partitions=affected,
        )

    @staticmethod
    def _apply_set(df: DataFrame, condition, assignments: dict) -> DataFrame:
        """Project `df` with SET assignments applied to rows where
        `condition` is TRUE (SQL three-valued logic: NULL/FALSE rows
        pass through untouched).  Every expression evaluates against
        the ORIGINAL row — `SET a = b, b = a` swaps, like SQL UPDATE —
        and is cast back to the column's existing type so the table
        schema is invariant under updates (Delta casts the same way).
        """
        matched = F.coalesce(
            condition.cast("boolean"), F.lit(False)
        )
        types = dict(df.dtypes)
        exprs = []
        for c in df.columns:
            if c in assignments:
                new = assignments[c]
                if isinstance(new, str):
                    new = F.expr(new)
                exprs.append(
                    F.when(matched, new.cast(types[c]))
                    .otherwise(F.col(c))
                    .alias(c)
                )
            else:
                exprs.append(F.col(c))
        return df.select(*exprs)

    def _matching_positions(
        self, spark: SparkSession, schema: str, name: str,
        condition, predicates: list[tuple] | None,
    ) -> DataFrame:
        """The rows a merge-on-read DELETE/UPDATE names, with their
        physical positions.  Only TRUE rows (SQL three-valued logic);
        with `predicates` the scan is the pruned `read_where`, whose
        residual filter already applies the same conjunction."""
        if predicates is not None:
            return self.read_where(
                spark, schema, name, predicates, with_positions=True
            )
        return self.read(
            spark, schema, name, with_positions=True
        ).filter(condition)

    def _stage_dv(
        self,
        schema: str,
        name: str,
        matched: DataFrame,
        new_rows: DataFrame | None,
        data_dir: str,
        rows_without_match: bool = True,
    ) -> dict | None:
        """The one deletion-vector writer.  `matched` (a positional
        read) names the rows to delete by (file path, row index) — a
        read with positions already excludes earlier vectors, so no
        vector names a deleted row twice.  Without `new_rows` the
        vector itself is the commit (`delete_dv`, one parquet at
        `data_dir`); with them, the vector goes to `<data_dir>-dv` and
        `new_rows` are appended at `data_dir`, both on ONE `update_mor`
        entry — the atomic point of a merge-on-read MERGE or UPDATE.

        The vector is written first; when it names no row it is
        removed again, so no read pays a vector that deletes nothing.
        `new_rows` then still commit, on an `update_mor` entry without
        a vector, if `rows_without_match` (a MERGE's inserts); a
        DELETE or UPDATE that matched nothing (its `new_rows` derive
        from `matched`) returns None.  The test is the vector's footer
        row count, so a no-match costs no extra Spark job."""
        from .skipping import collect_file_stats

        path = self._table_dir(schema, name)
        dv_dir = data_dir if new_rows is None else data_dir + "-dv"
        if new_rows is not None:
            new_rows = new_rows.drop(*self._POS_COLS)
            self._enforce_constraints(new_rows, schema, name)
        matched.select(
            F.col("__dv_file").alias("file_path"),
            F.col("__dv_pos").alias("row_index"),
        ).coalesce(1).write.mode("overwrite").parquet(dv_dir)
        dv = collect_file_stats(dv_dir, max_columns=0)
        entry = dict(
            op="update_mor", data_dir=os.path.relpath(data_dir, path)
        )
        if any(f["rows"] for f in dv["files"]):
            if new_rows is None:
                return dict(
                    op="delete_dv", data_dir=os.path.relpath(dv_dir, path),
                    **dv,
                )
            entry.update(
                dv_dir=os.path.relpath(dv_dir, path), dv_files=dv["files"]
            )
        else:
            shutil.rmtree(dv_dir)
            if new_rows is None or not rows_without_match:
                return None
        self._to_physical(new_rows, schema, name).write.mode(
            "overwrite"
        ).parquet(data_dir)
        return self._attach_stats(entry, data_dir, schema, name)

    def _distinct_tokens(
        self, df: DataFrame, pcol: str, schema: str, name: str
    ) -> list[str]:
        """The canonical tokens of the partitions `df`'s rows fall in
        (one distinct scan)."""
        return sorted(
            {_token_of(r[0]) for r in df.select(pcol).distinct().collect()}
        )

    def _affected_partitions(
        self,
        spark: SparkSession,
        schema: str,
        name: str,
        current: DataFrame,
        condition,
        predicates: list[tuple] | None,
        pcol: str,
    ) -> list[str]:
        """Tokens of the partitions holding a row where `condition` is
        TRUE.  `predicates` on a hidden-partitioned table take the
        pruned probe (`_probe_affected_tokens`); everything else — and
        a probe that meets a match in a flat file — scans `current`."""
        spec = self.partition_spec(schema, name)
        if (
            predicates is not None
            and spec is not None
            and pcol == spec.hidden_col
        ):
            toks = self._probe_affected_tokens(
                spark, schema, name, predicates, pcol
            )
            if toks is not None:
                return toks
        return self._distinct_tokens(
            current.filter(condition), pcol, schema, name
        )

    def _probe_affected_tokens(
        self,
        spark: SparkSession,
        schema: str,
        name: str,
        predicates: list[tuple],
        pcol: str,
    ) -> list[str] | None:
        """Pruned partition discovery: instead of scanning every
        partition for matches, read only the stats/Bloom-surviving
        files (`read_where`) and take the touched partition TOKENS from
        the matching rows' file paths (the `<pcol>=<token>` segments),
        so the tokens feed `_pvalue_match` unchanged.  With a Bloom
        index on the predicate column this is O(matching files), not
        O(table).

        Returns [] when no rows match anywhere (caller commits
        nothing), or None when any matching row sits in a file whose
        path carries no `<pcol>=` segment (flat additive file — its
        partition value can't be attributed from the path; caller
        falls back to scan discovery)."""
        from urllib.parse import unquote

        probe = self.read_where(
            spark, schema, name, predicates, with_positions=True
        )
        pfx = f"{os.sep}{pcol}="
        toks: set[str] = set()
        for r in probe.select("__dv_file").distinct().collect():
            f = r[0]
            i = f.rfind(pfx)
            if i < 0:
                return None
            seg = f[i + len(pfx):].split(os.sep, 1)[0]
            # two encoding layers peel off here: `__dv_file` comes from
            # `_metadata.file_path`, a URI (the on-disk '%' of a
            # hive-escaped name arrives as '%25'), so unquote once to
            # the on-disk directory name, then _canon_token undoes the
            # hive escaping / NULL sentinel to the catalog's canonical
            # token — the form _pvalue_match and the commit log speak.
            # Anything less and a NULL/escaped partition records a
            # token no reader matches, silently skipping the partition.
            toks.add(_canon_token(unquote(seg)))
        return sorted(toks)

    def overwrite(
        self,
        df: DataFrame,
        schema: str,
        name: str,
        extra_meta: dict | None = None,
    ) -> None:
        base, data_dir = self._next_data_dir(schema, name)
        entry = self._stage_full_write(df, schema, name, "overwrite", data_dir)
        self._commit(schema, name, _with_meta(entry, extra_meta), base)

    def append(
        self,
        df: DataFrame,
        schema: str,
        name: str,
        extra_meta: dict | None = None,
        unique_meta: tuple[str, ...] | None = None,
    ) -> bool:
        """Blind additive commit.  `unique_meta` (keys of `extra_meta`)
        makes the append idempotent at the TABLE level — a duplicate
        is skipped under the commit lock (see `_commit`); returns
        False for a skipped duplicate, True when committed."""
        base, data_dir = self._next_data_dir(schema, name)  # fresh dir per commit
        entry = self._stage_full_write(df, schema, name, "append", data_dir)
        return self._commit(
            schema, name, _with_meta(entry, extra_meta), base,
            unique_meta=unique_meta,
        )

    def append_rows(
        self, rows: list[tuple], row_schema: StructType, schema: str, name: str
    ) -> None:
        """`append` of a few driver-side rows, written on the driver
        (`_stage_rows`): the same commit as a Spark append of those
        rows, without a Spark job."""
        base, data_dir = self._next_data_dir(schema, name)
        self._commit(
            schema, name,
            self._stage_rows(rows, row_schema, schema, name, data_dir), base,
        )

    # -- multi-table transactions (S11) ------------------------------------

    def transaction(self) -> "Transaction":
        """Atomic multi-table commit (the DuckLake cross-table
        transaction surface, `1_sprint3…ipynb` sprint-3 txn cells):

            with lake.transaction() as txn:
                txn.overwrite_partitions(fact, "silver", "fact", "d")
                txn.append_rows(audit_rows, QUALITY_LOG_SCHEMA,
                                "silver", "data_quality_log")

        All data files are written inside the block (the expensive,
        restartable part); the COMMIT POINT is one appended line in the
        lakehouse-level journal (`_txns.jsonl`) naming every (table,
        entry) in the txn.  Per-table log lines are appended after —
        and if a crash loses them, `snapshots()` self-heals any table
        named by a committed journal line on its next access, so the
        transaction is all-or-nothing at the journal line:

          * crash before journal append → NO table shows any change
            (staged dirs are unreferenced orphans),
          * crash after → EVERY table shows the change (healed lazily).

        An exception inside the block aborts: nothing was logged, so
        nothing is visible.  One write per table per transaction.

        The staged DML (`merge_into`, `delete_where`) runs the same
        stagers as the direct `Lakehouse` methods — same rows, same
        log entry — and differs only in where the entry goes: into the
        journal line instead of straight onto the table's log.
        """
        return Transaction(self)

    def _journal_path(self) -> str:
        return os.path.join(self.root, TXN_LOG)

    def _journal_entries(self) -> list[dict]:
        p = self._journal_path()
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return [json.loads(line) for line in f if line.strip()]

    def _heal_from_journal(self, schema: str, name: str) -> list[dict]:
        """Append any table-log lines a crashed committer never wrote,
        and return the table's parsed log.  Every read/write path calls
        snapshots() (and thus this) before assigning new versions, so
        healed lines keep log order."""
        journal = self._journal_entries()
        if not journal:
            return self._raw_snapshots(schema, name)
        path = self._table_dir(schema, name)
        # check-and-append under the table lock so two concurrent
        # healers can't both append the same missing line
        with self._table_lock(path):
            raw = self._raw_snapshots(schema, name)
            seen = {e.get("txn_id") for e in raw if e.get("txn_id")}
            healed = False
            for j in journal:
                if j["txn_id"] in seen:
                    continue
                for t in j["tables"]:
                    if t["schema"] == schema and t["name"] == name:
                        self._append_log_line(
                            path, txn_id=j["txn_id"], **t["entry"]
                        )
                        healed = True
            return self._raw_snapshots(schema, name) if healed else raw

    def compact(
        self,
        spark: SparkSession,
        schema: str,
        name: str,
        partition_col: str | None = None,
        target_files_per_partition: int = 1,
        vacuum: bool = True,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        target_file_bytes: int | None = None,
        partitions: list[str] | None = None,
        where: list[tuple] | None = None,
        vacuum_grace_seconds: float | None = None,
    ) -> dict:
        """OPTIMIZE(+VACUUM) analog: rewrite the live data's many small
        files into `target_files_per_partition` right-sized ones.

        `target_file_bytes` sizes the output by BYTES instead (Delta's
        `maxFileSize` knob, ~1 GiB in production): the live size of the
        log-planned files (`_plan`, pure log arithmetic) divides into a
        file count — per partition when partitioned (averaged over live
        partitions), total otherwise — overriding
        `target_files_per_partition`.  The knob that matters at 100 TB:
        a fixed files-per-partition count right for day one is wrong
        at year three.

        `sort_by` additionally sorts rows within each output task
        (Delta `OPTIMIZE ... ZORDER BY`'s single-column analog): parquet
        then writes tight min/max row-group statistics for those
        columns, so later range/point filters skip whole row groups at
        scan time — the cheap data-skipping layer under Catalyst's
        pushed filters.

        `zorder_by` is the TRUE multi-column form (Delta `OPTIMIZE …
        ZORDER BY (a, b)`): rows are range-partitioned and sorted by a
        Morton (Z-curve) key that bit-interleaves the listed columns,
        so ALL of them get tight per-file and per-row-group min/max
        ranges at once — a box predicate on any subset then skips most
        files via `read_where`, where a linear `sort_by` gives tight
        ranges only on its leading column.  The curve computation is
        pure Column arithmetic (one tiny min/max agg for scale bounds,
        then bit shifts — no UDF); see `skipping.zorder_key`.

        The small-files problem is the canonical lakehouse failure mode
        at 100 TB — a streaming/daily writer leaves thousands of KB-
        scale files per partition and scan task-scheduling overhead
        swamps I/O.  The rewrite is itself just a commit: the compacted
        copy lands in a new version directory, the log line makes it
        live, and with vacuum=True the superseded version directories
        are reclaimed (time travel reaches back only to the compaction,
        exactly Delta's OPTIMIZE+VACUUM contract).  With vacuum=False
        full history stays readable.  Returns {files_before,
        files_after} counted over LIVE (manifest-reachable) files —
        Delta's OPTIMIZE-metrics semantics — so superseded directories
        still on disk awaiting the vacuum grace window (or vacuum=False
        history) never inflate the layout metric.
        """
        if sort_by and zorder_by:
            raise ValueError(
                "compact: sort_by and zorder_by are exclusive — zorder "
                "IS the multi-column ordering"
            )
        path = self._table_dir(schema, name)
        # base BEFORE any read of table state: compact's commit RESETS
        # the whole manifest, so an append that landed between this
        # read and the commit would otherwise be silently erased (its
        # version falls below a commit-time base and escapes the
        # [base:] conflict scan — the lost-append the randomized
        # mixed-op schedule test caught).  Captured first, the
        # interleaved append raises ConcurrentWriteError and the
        # compact retries over the newer state.
        version, data_dir = self._next_data_dir(schema, name)
        plan = self._plan(schema, name)
        before = sum(len(sl.files) for sl in plan.slices)
        live_values = plan.state.part_map
        df = self.read(spark, schema, name)
        # rewrite in PHYSICAL names (the namespace every data dir
        # shares); sort/zorder args arrive logical and translate the
        # same way.  Dropped columns are already absent from the read
        # frame, so compaction is also the point their bytes actually
        # leave the files.
        df = self._to_physical(df, schema, name)
        _inv = {l: p for p, l in plan.state.renames.items()}
        sort_by = [_inv.get(c, c) for c in sort_by] if sort_by else sort_by
        zorder_by = (
            [_inv.get(c, c) for c in zorder_by] if zorder_by else zorder_by
        )
        spec = self.partition_spec(schema, name)
        if spec is not None and partition_col in (None, spec.hidden_col):
            # hidden-spec tables always compact partition-preserving:
            # re-derive the transform column (read strips it)
            df = df.withColumn(spec.hidden_col, spec.derive(df))
            partition_col = spec.hidden_col
        scoped = partitions is not None or where is not None
        if scoped:
            # `OPTIMIZE ... WHERE` (Delta partition-scoped OPTIMIZE):
            # rewrite ONLY the targeted partitions — at 100 TB you
            # compact the recent hot partitions, never the table.
            # Safe with vacuum: reclamation is reachability-based, so
            # directories still serving untouched partitions survive.
            # Commits as a partition OVERWRITE (identical rows,
            # compacted layout — CDC diffs empty), because the
            # compact_partitioned op resets the whole manifest.
            if partition_col is None:
                raise ValueError(
                    "compact: partitions=/where= need a partitioned "
                    "table (partition_col or a hidden spec)"
                )
            if any(sl.excl is not None for sl in plan.slices):
                raise ValueError(
                    "compact: partition-scoped compaction needs a "
                    "partition-disciplined table — additive commit "
                    "dirs (append / merge-on-read update) contribute "
                    "rows outside the partition manifest; run a full "
                    "compact() first"
                )
            if partitions is not None:
                values = {str(v) for v in partitions}
            else:
                if spec is None or partition_col != spec.hidden_col:
                    raise ValueError(
                        "compact: where= maps predicates through a "
                        "hidden partition spec; use partitions=[...] "
                        "for explicitly partitioned tables"
                    )
                from .transforms import (
                    localize_predicates,
                    partition_survives,
                )

                preds = localize_predicates(
                    where,
                    spark.conf.get("spark.sql.session.timeZone"),
                )
                values = {
                    v for v in live_values
                    if partition_survives(spec, preds, v)
                }
            df = df.filter(
                self._pvalue_match(F.col(partition_col), sorted(values))
            )
        if target_file_bytes is not None:
            import math

            size = sum(f["bytes"] for sl in plan.slices for f in sl.files)
            denom = (len(live_values) or 1) if partition_col else 1
            target_files_per_partition = max(
                1, math.ceil(size / denom / target_file_bytes)
            )
        zcol = "__zorder_key"
        if zorder_by:
            from .skipping import zorder_key

            df = df.withColumn(zcol, zorder_key(df, zorder_by))
        if partition_col is not None:
            # hash-repartition by the partition column: every value's
            # rows land in ONE task → exactly one file per partition
            # directory after the write (one shuffle total).  With a
            # >1 per-partition file target, a deterministic intra-
            # partition bucket (xxhash64 of the row, never rand())
            # splits each partition across that many tasks.
            hashable = [
                c for c, t in df.dtypes if not t.startswith("map<")
            ]  # xxhash64 rejects maps
            if target_files_per_partition > 1 and hashable:
                bucket = F.pmod(
                    F.xxhash64(*[F.col(c) for c in hashable]),
                    F.lit(target_files_per_partition),
                )
                # explicit task count: AQE would otherwise coalesce
                # small shuffles back to one task per partition
                compacted = df.repartition(
                    (len(live_values) or 1) * target_files_per_partition,
                    F.col(partition_col),
                    bucket,
                )
            else:
                compacted = df.repartition(F.col(partition_col))
            if zorder_by:
                compacted = compacted.sortWithinPartitions(
                    partition_col, zcol
                ).drop(zcol)
            elif sort_by:
                compacted = compacted.sortWithinPartitions(
                    partition_col, *sort_by
                )
            (
                compacted.write.mode("overwrite")
                .partitionBy(partition_col)
                .parquet(data_dir)
            )
            parts = self._distinct_tokens(df, partition_col, schema, name)
            self._commit(
                schema, name,
                self._attach_stats(
                    dict(
                        op=(
                            "overwrite_partitions"
                            if scoped
                            else "compact_partitioned"
                        ),
                        partitions=parts, partition_col=partition_col,
                        data_dir=os.path.relpath(data_dir, path),
                        files_before=before,
                    ),
                    data_dir,
                    schema,
                    name,
                ),
                version,
            )
        else:
            if zorder_by:
                # range-partition on the curve so each output file owns
                # a contiguous Z-range (→ a compact multi-dim tile)
                compacted = (
                    df.repartitionByRange(
                        target_files_per_partition, F.col(zcol)
                    )
                    .sortWithinPartitions(zcol)
                    .drop(zcol)
                )
            else:
                compacted = df.coalesce(target_files_per_partition)
                if sort_by:
                    compacted = compacted.sortWithinPartitions(*sort_by)
            compacted.write.mode("overwrite").parquet(data_dir)
            self._commit(
                schema, name,
                self._attach_stats(
                    dict(
                        op="compact",
                        data_dir=os.path.relpath(data_dir, path),
                        files_before=before,
                    ),
                    data_dir,
                    schema,
                    name,
                ),
                version,
            )
        if vacuum:
            if vacuum_grace_seconds is None:
                self.vacuum(schema, name, keep_version=version)
            else:
                self.vacuum(
                    schema, name, keep_version=version,
                    grace_seconds=vacuum_grace_seconds,
                )
        after = self._count_live_files(schema, name)
        return {"files_before": before, "files_after": after}

    def _count_live_files(self, schema: str, name: str) -> int:
        """Data files reachable from the LATEST manifest only (`_plan`).
        Superseded version dirs — still on disk for time travel or
        awaiting the vacuum grace — are not layout; counting them made
        OPTIMIZE metrics depend on reclamation timing."""
        return sum(len(sl.files) for sl in self._plan(schema, name).slices)

    def vacuum_retain(
        self,
        schema: str,
        name: str,
        hours: float,
        dry_run: bool = False,
        _now: str | None = None,
    ) -> dict:
        """`VACUUM … RETAIN n HOURS` analog: reclaim history older than
        the retention window, keeping every version whose commit
        timestamp is within the last `hours` (plus the latest version
        unconditionally).  Time travel and CDC remain exact inside the
        window — the contract a scheduled retention job offers its
        downstream incremental consumers.  `_now` (ISO seconds) is a
        test seam; defaults to the current wall clock."""
        import datetime

        entries = self.snapshots(schema, name)
        if not entries:
            return {"dirs": [], "bytes": 0}
        now = _now or time.strftime("%Y-%m-%dT%H:%M:%S")
        fmt = "%Y-%m-%dT%H:%M:%S"
        cutoff = datetime.datetime.strptime(now, fmt) - datetime.timedelta(
            hours=hours
        )
        kept = [
            e["version"]
            for e in entries
            if datetime.datetime.strptime(e["timestamp"], fmt) >= cutoff
        ]
        keep_version = min(kept) if kept else entries[-1]["version"]
        # the hours window IS the retention policy for SUPERSEDED
        # versions (grace 0), but a concurrent writer's staged-not-yet-
        # committed dir is outside any version's history — keep the
        # default staging grace so routine retention can't corrupt an
        # in-flight commit (unlike purge/compliance paths, retention
        # has no quiescence guarantee).
        return self.vacuum(
            schema, name, keep_version=keep_version, dry_run=dry_run,
            grace_seconds=0.0, staging_grace_seconds=600.0,
        )

    def vacuum(
        self,
        schema: str,
        name: str,
        keep_version: int,
        dry_run: bool = False,
        grace_seconds: float = 600.0,
        staging_grace_seconds: float | None = None,
    ) -> dict:
        """Reclaim data directories unreachable from every retained
        version (>= `keep_version`).  Reachability-based, not
        name-based: a directory is deleted only if NO retained
        version's manifest references it — so appends that are still
        live in the latest manifest survive any `keep_version`,
        transaction-written `t<txn_id>` directories are reclaimed like
        version directories, and a restore inside the retained range
        keeps its target's directories alive.  The commit log itself
        is never truncated.

        `dry_run=True` (Delta `VACUUM ... DRY RUN`) deletes nothing
        and reports what would go.  Returns {"dirs": [...],
        "bytes": N} of reclaimed (or reclaimable) directories either
        way — the preview a retention policy reviews before the
        irreversible step.

        Concurrency safety (`grace_seconds`, Delta's VACUUM-retention
        analog — default 10 min, pass 0 for the maintenance/compliance
        paths that must reclaim immediately and KNOW no reader/writer
        is in flight):

        * a directory referenced by NO version at all is either crash
          debris or a CONCURRENT writer's staged data whose commit
          hasn't appended yet (staging happens outside the table lock
          by design).  Deleting the latter corrupts the write, so
          never-referenced dirs are reclaimed only when older than
          `staging_grace_seconds` (age from the `time_ns` embedded in
          the staging dir name, falling back to mtime; None = follow
          `grace_seconds`).  The two graces are SPLIT because they
          protect different hazards: retention maintenance
          (`vacuum_retain`) may legitimately reclaim superseded
          versions immediately — the hours window IS that policy —
          but has no quiescence guarantee against in-flight writers,
          so it keeps the staging grace while zeroing the superseded
          one.
        * a directory superseded by a RECENT commit may still be under
          a concurrent reader whose plan bound to the old version
          (MVCC reads are lock-free).  It is reclaimed only once the
          first commit that made it unreachable is `grace_seconds`
          old."""
        data_root = os.path.join(self._table_dir(schema, name), "_data")
        if not os.path.isdir(data_root):
            return {"dirs": [], "bytes": 0}
        entries = self.snapshots(schema, name)
        if not entries:
            return {"dirs": [], "bytes": 0}
        path = self._table_dir(schema, name)
        keep: set[str] = set()
        last_ref: dict[str, int] = {}
        # one log parse: every version's manifest replays from it
        for v in range(entries[-1]["version"] + 1):
            dirs = _fold_log(entries, path, v).dirs()
            for d in dirs:
                last_ref[d] = v
            if v >= keep_version:
                keep.update(dirs)  # live deletion vectors stay reachable
        now_ns = time.time_ns()

        staging_grace = (
            grace_seconds
            if staging_grace_seconds is None
            else staging_grace_seconds
        )

        def _too_young(full: str) -> bool:
            v_last = last_ref.get(full)
            if v_last is None:  # never committed: staging-dir age
                if staging_grace <= 0:
                    return False
                return _dir_age_seconds(full, now_ns) < staging_grace
            if grace_seconds <= 0:
                return False
            superseded_at = entries[v_last + 1]["timestamp"]
            try:
                age = now_ns / 1e9 - time.mktime(
                    time.strptime(superseded_at, "%Y-%m-%dT%H:%M:%S")
                )
            except ValueError:
                return False
            return age < grace_seconds

        doomed: list[str] = []
        nbytes = 0
        for d in sorted(os.listdir(data_root)):
            full = os.path.join(data_root, d)
            if full in keep:
                continue
            if _too_young(full):
                continue  # possibly under a concurrent reader/writer
            doomed.append(full)
            for root, _dirs, fnames in os.walk(full):
                nbytes += sum(
                    os.path.getsize(os.path.join(root, fn))
                    for fn in fnames
                )
            if not dry_run:
                shutil.rmtree(full)
        return {"dirs": doomed, "bytes": nbytes}

    # -- reads (incl. versioned time travel) -------------------------------

    def _manifest(
        self, schema: str, name: str, version: int | None = None,
        entries: list[dict] | None = None,
    ) -> tuple[
        dict[str, tuple[str, str]], dict[str, dict[str, list[str]]],
        list[str],
    ]:
        """The data part of the table state as of `version` (None =
        latest; `_fold_log`) → (partition → (data_dir, partition_col),
        additive dirs → their exclusions, live deletion-vector dirs).
        `entries` is the caller's already-parsed log (`snapshots()`),
        if it has one."""
        state = self._state(schema, name, version, entries)
        return state.part_map, state.extra, state.dvs

    def restore(self, schema: str, name: str, version: int) -> None:
        """RESTORE TABLE ... TO VERSION AS OF analog: make the table's
        live state what it was after commit `version`, as a NEW commit
        (one appended log line — no data files move or copy, so the
        rollback is O(1) regardless of table size).  History is
        preserved: the mistaken commits stay readable via time travel,
        and CDC across the restore shows exactly the rows the rollback
        changed.  Requires the restored version's directories to still
        exist (i.e. not vacuumed) — the same retention caveat as Delta.
        """
        n = len(self.snapshots(schema, name))
        if not 0 <= version < n:
            raise ValueError(
                f"{schema}.{name}: cannot restore to version {version} "
                f"(history has {n} commits)"
            )
        self._commit(
            schema, name, dict(op="restore", of_version=version), n
        )

    # deletion-vector plumbing: hidden physical-position columns used
    # to anti-join DV rows out of merge-on-read scans
    _POS_COLS = ("__dv_file", "__dv_pos")

    @staticmethod
    def _with_positions(df: DataFrame, path: str) -> DataFrame:
        """Attach (file path, row index) from parquet scan metadata —
        must happen per scan frame, before any union (`_metadata` is a
        per-relation pseudo-column).  The file path is made RELATIVE
        to the table dir (each side — DV write and later reads — uses
        its own current absolute prefix), so vectors keep deleting the
        right rows after the whole table tree is relocated, the same
        contract as the log's table-relative data dirs."""
        norm = F.regexp_replace(
            F.col("_metadata.file_path"), "^file:/*", "/"
        )
        rel = F.substring(
            norm, len(path.rstrip(os.sep)) + 2, 2_000_000
        )
        return df.withColumns(
            {
                "__dv_file": rel,
                "__dv_pos": F.col("_metadata.row_index"),
            }
        )

    def _read_dv_keys(
        self, spark: SparkSession, dvs: list[str]
    ) -> DataFrame | None:
        """The union of the live deletion vectors `dvs` (a plan's
        `dvs`) as position keys, or None when there are none."""
        if not dvs:
            return None
        return spark.read.schema(_DV_SCHEMA).parquet(*dvs).select(
            F.col("file_path").alias("__dv_file"),
            F.col("row_index").alias("__dv_pos"),
        )

    def _apply_dvs(
        self,
        spark: SparkSession,
        out: DataFrame,
        dvs: list[str],
        keep_positions: bool = False,
    ) -> DataFrame:
        """Anti-join the union of live deletion vectors out of a scan
        whose frames carry position columns.  The DV side is broadcast:
        its size is O(deleted rows), which is exactly why merge-on-read
        exists — if it were large you would have compacted."""
        keys = self._read_dv_keys(spark, dvs)
        if keys is not None:
            out = out.join(
                F.broadcast(keys), list(self._POS_COLS), "left_anti"
            )
        return out if keep_positions else out.drop(*self._POS_COLS)

    @staticmethod
    def _pvalue_match(c, values) -> "F.Column":
        """Membership test of a partition COLUMN against the catalog's
        canonical string tokens.  Plain isin() is NULL-blind (NULL isin
        → NULL, silently dropped/kept depending on polarity), so the
        NULL token `NULL_SENTINEL` matches NULL rows explicitly; a
        literal string 'None' is an ordinary value.  Only a literal
        string equal to the sentinel itself would collide (hive's own
        ambiguity, undetectable from directory names)."""
        vals = list(values)
        cond = c.cast("string").isin(vals)
        if NULL_SENTINEL in vals:
            cond = cond | c.isNull()
        return F.coalesce(cond, F.lit(False))

    def _exclusion_filter(
        self, f: DataFrame, excl: dict[str, list[str]],
        schema: str, name: str,
    ) -> DataFrame:
        """Drop rows of superseded partitions from an additive-dir
        frame (see `_step`: a partition overwrite after an append
        supersedes the append's same-partition rows).  NULL-safe both
        ways: a NULL-keyed row is excluded iff the NULL partition
        (`NULL_SENTINEL`) was overwritten (otherwise it survives —
        `_pvalue_match` owns that rule); a frame missing the column
        entirely (pre-evolution append) passes through — unless it's a
        hidden-spec column, which is re-derived from its source."""
        spec = self.partition_spec(schema, name)
        for pcol, vals in excl.items():
            if not vals:
                continue
            if pcol in f.columns:
                c = F.col(pcol)
            elif (
                spec is not None
                and pcol == spec.hidden_col
                and spec.source in f.columns
            ):
                c = spec.derive(f)
            else:
                continue
            f = f.filter(~self._pvalue_match(c, vals))
        return f

    def _plan(
        self,
        schema: str,
        name: str,
        version: int | None = None,
        partition_values: list[str] | None = None,
        predicates: list[tuple] | None = None,
        tz: str | None = None,
        entries: list[dict] | None = None,
    ) -> _Plan:
        """The live files of the table as of `version` (None = latest),
        planned from the commit log alone: the replayed manifest says
        which commit dir serves which partition (and which additive
        dirs and deletion vectors are live), and each commit entry's
        `files` list says what the dir holds — no directory listing,
        no stat(), no Spark job.  A file's partition is its logged
        path's `<pcol>=<raw>` segment, read through `_canon_token`.

        Every pruning layer filters that list: superseded partitions
        (partition dirs) and superseded additive-dir partitions go
        first — what is left is the live set; `partition_values`,
        hidden-spec transform pruning of `predicates` (session time
        zone `tz`), footer stats and Bloom probes then drop what cannot
        match.  Each surviving dir becomes one `_Slice`, handed to
        Spark as the whole dir when nothing was pruned, as partition
        subdirs when whole partitions were, and as explicit files only
        where stats or Bloom pruning dropped files inside a partition.

        A commit logged before entries listed their files is listed
        once here (`collect_file_stats` without stats: it is read
        whole and never pruned); one without a logged schema lets
        Spark infer it.  `entries` is the caller's already-parsed log
        (`snapshots()`), if it has one; the plan carries the log it
        was made from and the table state folded from it (`state`), so
        one read parses and folds the log once.  A table with
        commits has its format checked once per plan (`_check_format`)."""
        from .bloom import bloom_survives
        from .skipping import collect_file_stats, file_survives

        if entries is None:
            entries = self.snapshots(schema, name)
        if entries:
            self._check_format(schema, name, new=False)
        state = self._readable_state(schema, name, version, entries)
        part_map, extra = state.part_map, state.extra
        path = self._table_dir(schema, name)
        logged: dict[str, tuple[list[dict] | None, dict | None]] = {}
        for e in entries:
            if e.get("data_dir") is not None:
                logged[os.path.join(path, e["data_dir"])] = (
                    e.get("files"), e.get("schema"),
                )
            if e.get("dv_dir") is not None:
                logged[os.path.join(path, e["dv_dir"])] = (
                    e.get("dv_files"), None,
                )

        def files_of(d: str) -> tuple[list[dict], dict | None]:
            files, sch = logged.get(d, (None, None))
            if files is None or any("bytes" not in f for f in files):
                listed = collect_file_stats(d, max_columns=0)["files"]
                if files is None:
                    return listed, sch
                size = {f["path"]: f["bytes"] for f in listed}
                files = [{**f, "bytes": size.get(f["path"], 0)} for f in files]
            return files, sch

        spec = self.partition_spec(schema, name)
        pcols = sorted({pcol for _d, pcol in part_map.values()})
        pcol_any = next(iter(pcols), None)
        wanted = None if partition_values is None else set(partition_values)
        phys = p_preds = None
        if predicates is not None:
            # predicates arrive in LOGICAL names; footer stats and
            # bloom filters are keyed by the PHYSICAL names the files
            # store
            inv = {l: p for p, l in state.renames.items()}
            phys = [(inv.get(p[0], p[0]), *p[1:]) for p in predicates]
            bloom_cfg = self.bloom_index(schema, name)
            if spec is not None:
                from .transforms import localize_predicates

                # naive temporal literals read in the SESSION timezone
                # — exactly how the residual filter interprets them
                p_preds = localize_predicates(predicates, tz)

        def survives(f: dict) -> bool:
            return phys is None or (
                file_survives(f, phys) and bloom_survives(f, phys, bloom_cfg)
            )

        def value_kept(pcol: str, v: str) -> bool:
            if wanted is not None and pcol == pcol_any and v not in wanted:
                return False
            if p_preds is None or pcol != spec.hidden_col:
                return True
            from .transforms import partition_survives

            return partition_survives(spec, p_preds, v)

        slices: list[_Slice] = []

        def add(d: str, is_live, keep, excl=None) -> None:
            files, sch = files_of(d)
            toks = {
                f["path"]: {
                    pc: _canon_token(raw)
                    for pc, raw in _path_tokens(f["path"]).items()
                }
                for f in files
            }
            live = [f for f in files if is_live(toks[f["path"]])]
            kept = [
                f for f in live
                if all(value_kept(pc, t) for pc, t in toks[f["path"]].items())
                and survives(f)
            ]
            if kept:
                slices.append(_Slice(
                    d, _roots(d, files, live, kept), kept, sch, keep, excl
                ))

        by_dir: dict[str, tuple[str, list[str]]] = {}
        for value, (d, pcol) in part_map.items():
            by_dir.setdefault(d, (pcol, []))[1].append(value)
        for d, (pcol, values) in sorted(by_dir.items()):
            add(
                d, lambda t: t.get(pcol) in values,
                (pcol, sorted(v for v in values if value_kept(pcol, v))),
            )
        extra_keep = (
            (pcol_any, sorted(wanted))
            if wanted is not None and pcol_any is not None
            else None
        )
        for d, excl in sorted(extra.items()):
            add(
                d,
                lambda t: not any(
                    t.get(pc) in vals for pc, vals in excl.items()
                ),
                extra_keep, excl,
            )
        return _Plan(
            slices,
            [d for d in state.dvs if files_of(d)[0]],
            pcols,
            entries[-1]["version"] if version is None and entries else version,
            entries,
            state,
        )

    def _slice_frame(
        self, spark: SparkSession, schema: str, name: str, sl: _Slice
    ) -> DataFrame:
        """One planned slice as a frame: its roots read under the
        commit dir as `basePath` with the dir's logged schema, then its
        partition-membership and supersede filters."""
        reader = spark.read.option("basePath", sl.d)
        if sl.schema is not None:
            reader = reader.schema(StructType.fromJson(sl.schema))
        df = reader.parquet(*sl.roots)
        if sl.keep is not None:
            df = df.filter(self._pvalue_match(F.col(sl.keep[0]), sl.keep[1]))
        if sl.excl:
            df = self._exclusion_filter(df, sl.excl, schema, name)
        return df

    def read(
        self,
        spark: SparkSession,
        schema: str,
        name: str,
        version: int | None = None,
        with_positions: bool = False,
        partition_values: list[str] | None = None,
    ) -> DataFrame:
        """Read the table as of `version` (None = latest): one frame per
        commit dir of the log-planned live file set (`_plan`), unioned.
        Superseded partitions are excluded with partition-column
        filters — directory-level pruning, no data rows ever read from
        dead partitions.  Live deletion vectors (merge-on-read deletes)
        are anti-joined out; `with_positions=True` keeps the physical
        (__dv_file, __dv_pos) columns — the handle
        `delete_where(mode="merge_on_read")` uses to name rows.

        `partition_values` restricts the read to those partitions at
        the FILE level: only the named partitions' subdirs are handed
        to Spark (the planned file set — `inputFiles()` — shrinks; the
        point-lookup shape the persistent IVF probe runs).  Flat files
        of additive commit dirs (e.g. not-yet-optimized appends) carry
        no partition in their path and fall back to a row filter."""
        plan = self._plan(schema, name, version, partition_values)
        if not plan.slices:
            if partition_values is not None:
                # probe of values the table simply doesn't hold: an
                # empty frame with the table's schema, not an error
                return self.read(
                    spark, schema, name, version, with_positions
                ).filter(F.lit(False))
            raise FileNotFoundError(
                f"{schema}.{name} has no data at version {version}"
            )
        frames = [
            self._slice_frame(spark, schema, name, sl) for sl in plan.slices
        ]
        return self._drop_hidden(
            self._union_frames(
                spark, frames, schema, name, plan.state, plan.dvs,
                with_positions,
            )
        )

    def _empty_frame(
        self, spark: SparkSession, schema: str, name: str,
        entries: list[dict],
    ) -> DataFrame:
        """The table's logical columns as an empty frame, for a table
        whose live rows are all gone (where `read` has no slice to
        read): typed from the newest logged commit-dir read schema in
        `entries` (the table's parsed log), so no file is opened and
        no Spark job runs."""
        logged = next(
            (
                e["schema"] for e in reversed(entries)
                # a delete_dv entry logs its vector's schema
                if e.get("schema") and e["operation"] != "delete_dv"
            ),
            None,
        )
        if logged is None:
            raise FileNotFoundError(f"{schema}.{name} logs no schema")
        frame = spark.createDataFrame([], StructType.fromJson(logged))
        return self._drop_hidden(
            self._union_frames(
                spark, [frame], schema, name,
                self._state(schema, name, None, entries), [], False,
            )
        )

    def _union_frames(
        self,
        spark: SparkSession,
        frames: list[DataFrame],
        schema: str,
        name: str,
        state: _TableState,
        dvs: list[str],
        with_positions: bool,
    ) -> DataFrame:
        """The common tail of `read` and `read_where`: one frame per
        commit-dir slice → the table's logical rows (added-column
        defaults filled, live deletion vectors anti-joined out, column
        mapping applied; hidden columns still present).  `state` is
        the table state the slices were planned from."""
        frames = self._fill_added(frames, state)
        tag = with_positions or bool(dvs)
        if tag:
            tdir = self._table_dir(schema, name)
            frames = [self._with_positions(f, tdir) for f in frames]
        out = frames[0]
        for f in frames[1:]:
            # schema evolution (Delta mergeSchema analog): a commit may
            # add columns; rows from earlier commits surface NULL there
            out = out.unionByName(f, allowMissingColumns=True)
        if tag:
            out = self._apply_dvs(
                spark, out, dvs, keep_positions=with_positions
            )
        return self._apply_column_mapping(out, state)

    def read_where(
        self,
        spark: SparkSession,
        schema: str,
        name: str,
        predicates: list[tuple],
        version: int | None = None,
        with_positions: bool = False,
    ) -> DataFrame:
        """Data-skipping read (Delta's stats-based file pruning): like
        `read`, but a conjunctive predicate — ``[(col, op, value),
        ...]`` with ops ``= < <= > >= in`` — is first evaluated against
        the per-file min/max stats recorded in the commit log, and only
        files that can possibly hold a matching row are handed to
        Spark.  The same predicate is then re-applied as a real filter,
        so pruning is advisory: a stats gap costs I/O, never rows.

        `with_positions=True` keeps the physical (__dv_file, __dv_pos)
        columns, exactly as `read` does — the handle the PRUNED
        merge-on-read DELETE path uses (`delete_where(predicates=…)`):
        a point erasure then opens only the stats/bloom-surviving
        files instead of scanning the table for positions.

        Five pruning layers compose, all but the last on the logged
        file list (`_plan`): superseded-partition exclusion, hidden-
        spec transform pruning (a predicate on a `set_partition_spec`
        source column drops the partitions — in partition dirs and
        spec-partitioned additive dirs alike — its transform proves
        empty of matches), footer-stats skipping, Bloom-filter probes
        for `=`/`in` on indexed columns (`add_bloom_index`, the
        high-cardinality case where every file's range overlaps), and
        parquet row-group zonemaps (free once files are
        sorted/z-ordered by `compact`).  At 100 TB the file layers are
        what turn a needle query from "schedule 80k tasks" into
        "schedule the 3 files whose range matches".
        """
        from .skipping import predicates_to_column

        plan = self._plan(
            schema, name, version, predicates=predicates,
            tz=spark.conf.get("spark.sql.session.timeZone"),
        )
        if not plan.slices:
            # every file provably irrelevant: an empty frame with the
            # table's schema (Catalyst folds the FALSE filter away —
            # no file is opened)
            return self.read(
                spark, schema, name, version, with_positions
            ).filter(F.lit(False))
        frames = [
            self._slice_frame(spark, schema, name, sl) for sl in plan.slices
        ]
        out = self._union_frames(
            spark, frames, schema, name, plan.state, plan.dvs, with_positions
        )
        return self._drop_hidden(out.filter(predicates_to_column(predicates)))

    def _readable_state(
        self, schema: str, name: str, version: int | None,
        entries: list[dict],
    ) -> _TableState:
        """The table state as of `version` folded from the parsed log
        `entries`, refused with HistoryUnavailableError when vacuum
        reclaimed any directory it references — what every versioned
        read serves from, so none returns partial history.  O(|manifest|)
        isdir checks — no listing, no data read."""
        state = self._state(schema, name, version, entries)
        missing = sorted(d for d in state.dirs() if not os.path.isdir(d))
        if missing:
            raise HistoryUnavailableError(
                f"{schema}.{name} (version {'latest' if version is None else version}): "
                f"{len(missing)} referenced data director"
                f"{'y is' if len(missing) == 1 else 'ies are'} gone — "
                f"reclaimed by vacuum (e.g. {os.path.relpath(missing[0], self.root)}); "
                "time travel / CDC cannot reach past retention — "
                "recompute from the current state instead"
            )
        return state

    def read_snapshot(
        self, spark: SparkSession, schema: str, name: str, version: int
    ) -> DataFrame:
        """Time-travel read (Delta `VERSION AS OF` / DuckLake snapshot
        read): the table exactly as it was after commit `version`."""
        return self.read(spark, schema, name, version=version)

    def purge(
        self,
        spark: SparkSession,
        schema: str,
        name: str,
        condition,
        partition_col: str | None = None,
    ) -> dict:
        """Physical erasure (the GDPR right-to-be-forgotten workflow):
        DELETE alone is not erasure — copy-on-write keeps the old
        partition files for time travel, and a merge-on-read delete
        keeps the rows' BYTES and merely masks them.  `purge` runs the
        full chain:

          1. copy-on-write `delete_where` (TRUE rows only, 3VL-safe),
          2. `compact` to materialize any deletion vectors into clean
             files (masked bytes rewritten away),
          3. `vacuum` down to the compacted version, physically
             reclaiming every superseded directory.

        Afterwards no file under the table contains the purged rows and
        time travel no longer reaches them — the explicit trade a
        compliance deletion makes.  Returns {"bytes_reclaimed": N,
        "ok": fsck-clean} so the caller can log evidence."""
        self.delete_where(
            spark, schema, name, condition, partition_col=partition_col
        )
        self.compact(
            spark, schema, name, partition_col=partition_col, vacuum=False
        )
        keep = self.snapshots(schema, name)[-1]["version"]
        # compliance deletion reclaims immediately (caller guarantees
        # quiescence; the bytes must actually be gone)
        rec = self.vacuum(schema, name, keep_version=keep, grace_seconds=0.0)
        rep = self.fsck(schema, name)
        return {"bytes_reclaimed": rec["bytes"], "ok": rep["ok"]}

    def fsck(self, schema: str, name: str) -> dict:
        """Integrity audit (an fsck for one table): verifies, WITHOUT
        reading data rows, that
          * every directory the current manifest references exists,
          * every per-file stats entry in live commits points at a file
            that is still on disk,
          * every live deletion-vector directory exists,
          * the commit log's version numbers are dense (0..N, no gaps),
        and reports orphan directories under `_data/` that no retained
        version references (vacuum candidates, not errors).  Returns
        {"ok": bool, "errors": [...], "orphans": [...]} — run it after
        a restore from backup or a suspected partial copy; `ok` means
        reads at the current version cannot hit a missing file."""
        path = self._table_dir(schema, name)
        errors: list[str] = []
        entries = self.snapshots(schema, name)
        versions = [e["version"] for e in entries]
        if versions != list(range(len(versions))):
            errors.append(f"non-dense version sequence: {versions}")
        live_dirs = self._state(schema, name, None, entries).dirs()
        for d in sorted(live_dirs):
            if not os.path.isdir(d):
                errors.append(
                    f"missing data dir: {os.path.relpath(d, path)}"
                )
        # stats entries of commits whose dir is live must name real files
        live_rel = {os.path.relpath(d, path) for d in live_dirs}
        for e in entries:
            d = e.get("data_dir")
            if d is None or d not in live_rel:
                continue
            for f in e.get("files", []):
                fp = os.path.join(path, d, f["path"]) if not os.path.isabs(
                    f["path"]
                ) else f["path"]
                if not os.path.exists(fp):
                    errors.append(
                        f"stats entry names missing file: v{e['version']} "
                        f"{f['path']}"
                    )
        # orphans = unreachable from ANY version (vacuum's own
        # reachability, dry run) — historical dirs are NOT orphans
        orphans = [
            os.path.relpath(d, path)
            for d in self.vacuum(
                schema, name, keep_version=0, dry_run=True,
                grace_seconds=0.0,
            )["dirs"]
        ]
        return {"ok": not errors, "errors": errors, "orphans": orphans}

    def clone(
        self,
        spark: SparkSession,
        src_schema: str,
        src_name: str,
        dst_schema: str,
        dst_name: str,
        partition_col: str | None = None,
        version: int | None = None,
    ) -> None:
        """Deep `CREATE TABLE … CLONE` analog: `dst` becomes the state
        of `src` (as of `version`; None = latest) in ONE commit, with
        the provenance (`cloned_from: schema.name@vN`) recorded on the
        commit line and the source's CHECK constraints carried over.
        The clone is fully independent afterwards — source mutations,
        compactions, and vacuums never touch it (deep copy; a shallow
        zero-copy clone would break the table-relative layout contract
        that keeps every table relocatable)."""
        snaps = self.snapshots(src_schema, src_name)
        if not snaps:
            raise FileNotFoundError(
                f"{src_schema}.{src_name}: nothing to clone"
            )
        src_version = version if version is not None else snaps[-1]["version"]
        df = self.read(spark, src_schema, src_name, version=src_version)
        meta = {"cloned_from": f"{src_schema}.{src_name}@v{src_version}"}
        if partition_col or self.partition_spec(dst_schema, dst_name):
            # an explicit column, or the destination carries a hidden
            # spec (set_partition_spec before cloning) — the latter IS
            # partition-spec evolution: clone the data into the new
            # layout, exactly what the spec-change refusal points at
            self.overwrite_partitions(
                df, dst_schema, dst_name, partition_col, extra_meta=meta
            )
        else:
            self.overwrite(df, dst_schema, dst_name, extra_meta=meta)
        for cname, pred in self.constraints(src_schema, src_name).items():
            self.add_constraint(dst_schema, dst_name, cname, pred)

    def read_as_of(
        self, spark: SparkSession, schema: str, name: str, timestamp: str
    ) -> DataFrame:
        """`TIMESTAMP AS OF` analog: the table as of the newest commit
        whose wall-clock timestamp is ≤ `timestamp` (ISO-8601
        `YYYY-MM-DDTHH:MM:SS`, compared lexicographically — the format
        the commit log records).  Same-second commit ties resolve to
        the highest version, i.e. the state an observer at that instant
        would have read.  Raises if `timestamp` predates the table."""
        entries = self.snapshots(schema, name)
        eligible = [
            e["version"] for e in entries if e["timestamp"] <= timestamp
        ]
        if not eligible:
            first = entries[0]["timestamp"] if entries else "<no commits>"
            raise ValueError(
                f"{schema}.{name}: no commit at or before {timestamp!r} "
                f"(first commit: {first})"
            )
        return self.read(spark, schema, name, version=max(eligible))

    def register_views(
        self,
        spark: SparkSession,
        schema: str,
        names: list[str] | None = None,
        prefix: str | None = None,
    ) -> list[str]:
        """Register every table of `schema` as a temp view named
        `<schema>_<table>` (or `<prefix>_<table>`), so plain
        `spark.sql` works against the lakehouse — the reference's
        `CREATE VIEW bronze.x AS SELECT * FROM read_parquet(...)`
        surface (notebooks cell 19).  Views capture the CURRENT
        manifest; re-register after writes that must become visible."""
        out: list[str] = []
        for n in names or self.list_tables(schema):
            view = f"{prefix or schema}_{n}"
            self.read(spark, schema, n).createOrReplaceTempView(view)
            out.append(view)
        return out

    def read_changes(
        self,
        spark: SparkSession,
        schema: str,
        name: str,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """CDC read (Delta Change Data Feed analog): every row inserted
        or deleted between commit `from_version` (exclusive base state)
        and `to_version` (inclusive; None = latest), as the table rows
        plus a `_change_type` column ('insert' | 'delete'); an update
        appears as its delete+insert pair.

        Cost model is the point: both manifests come from pure log
        arithmetic, and only *slices whose mapping changed* between the
        two versions are read and diffed (`exceptAll` both ways).  A
        daily partition-overwrite pipeline at 100 TB therefore diffs
        one day's partition, never the table; untouched partitions are
        never scanned.  This is what an incremental downstream consumer
        (gold refresh, index update, training-shard rebuild) reads
        instead of reprocessing the full table.  A compaction rewrites
        bytes but not rows, so its diff is empty — logical CDC, like
        Delta's.

        Deletion vectors integrate by construction: each side is the
        DV-FILTERED state as of its version, and any slice whose DV
        coverage changed between the versions counts as changed — so a
        merge-on-read delete diffs as exactly its deleted rows, and
        the compaction that later materializes those vectors still
        diffs empty.
        """
        old = self._plan(schema, name, from_version)
        new = self._plan(schema, name, to_version, entries=old.entries)

        # dirs holding files whose DV coverage changed between versions
        dv_touched: set[str] = set()
        keys = self._read_dv_keys(
            spark, sorted(set(old.dvs).symmetric_difference(new.dvs))
        )
        if keys is not None:
            tdir = self._table_dir(schema, name)
            touched_files = [
                os.path.join(tdir, r[0])  # stored table-relative
                for r in keys.select("__dv_file").distinct().collect()
            ]
            dv_touched = {
                sl.d
                for sl in old.slices + new.slices
                if any(f.startswith(sl.d + os.sep) for f in touched_files)
            }

        def changed(side: _Plan, other: _Plan) -> DataFrame | None:
            """Slices on this side whose mapping OR DV coverage differs
            — each read through this side's deletion vectors."""
            others = {sl.d: sl for sl in other.slices}
            diff = []
            for sl in side.slices:
                o = others.get(sl.d)
                if sl.d in dv_touched:
                    diff.append(sl)
                elif sl.excl is not None:
                    # an exclusion added between the versions changes
                    # the dir's LIVE slice (a partition overwrite
                    # superseded some of its rows) — diff it
                    if o is None or o.excl != sl.excl:
                        diff.append(sl)
                else:
                    pcol, values = sl.keep
                    same = (
                        set(o.keep[1])
                        if o is not None and o.excl is None
                        and o.keep[0] == pcol
                        else set()
                    )
                    moved = [v for v in values if v not in same]
                    if moved:
                        diff.append(replace(sl, keep=(pcol, moved)))
            if not diff:
                return None
            frames = [
                self._slice_frame(spark, schema, name, sl) for sl in diff
            ]
            # both sides surface the TO-version logical names so the
            # diff compares columns consistently across a rename; a
            # column dropped inside the window simply leaves the diff
            # (its deletions are invisible post-drop — same as Delta
            # CDF after a schema change)
            return self._drop_hidden(
                self._union_frames(
                    spark, frames, schema, name, new.state, side.dvs, False
                )
            )

        old_df = changed(old, new)
        new_df = changed(new, old)
        if old_df is None and new_df is None:
            raise FileNotFoundError(
                f"{schema}.{name}: no commits in ({from_version}, "
                f"{to_version}]"
            )
        if old_df is None:
            old_df = new_df.limit(0)
        if new_df is None:
            new_df = old_df.limit(0)
        # align evolved schemas so the set difference is well-defined:
        # a column one side lacks compares as NULL there
        old_types = dict(old_df.dtypes)
        new_types = dict(new_df.dtypes)
        for c in new_types.keys() - old_types.keys():
            old_df = old_df.withColumn(c, F.lit(None).cast(new_types[c]))
        for c in old_types.keys() - new_types.keys():
            new_df = new_df.withColumn(c, F.lit(None).cast(old_types[c]))
        new_df = new_df.select(old_df.columns)
        inserts = new_df.exceptAll(old_df).withColumn(
            "_change_type", F.lit("insert")
        )
        deletes = old_df.exceptAll(new_df).withColumn(
            "_change_type", F.lit("delete")
        )
        return inserts.unionByName(deletes)

    # -- catalog / snapshots (S12) ----------------------------------------

    def history(
        self, spark: SparkSession, schema: str, name: str
    ) -> DataFrame:
        """DESCRIBE HISTORY analog: one row per commit, newest first —
        (version, timestamp, operation, partition_col, n_partitions,
        txn_id, cloned_from).  Pure log arithmetic wrapped as a
        DataFrame so it joins/filters like any other table (audit
        dashboards query it with plain SQL)."""
        rows = [
            (
                int(e["version"]),
                e.get("timestamp"),
                e.get("operation"),
                e.get("partition_col"),
                len(e["partitions"]) if e.get("partitions") else None,
                e.get("txn_id"),
                e.get("cloned_from"),
            )
            for e in reversed(self.snapshots(schema, name))
        ]
        from .localrel import values_df

        return values_df(
            spark,
            rows,
            "version long, timestamp string, operation string, "
            "partition_col string, n_partitions int, txn_id string, "
            "cloned_from string",
        )

    def describe_detail(self, schema: str, name: str) -> dict:
        """DESCRIBE DETAIL analog — current version, live file count,
        physical row count, and bytes, summed over the planned live
        files (`_plan`: the commit log's file records): no Spark job,
        no listing, no data read.  `num_rows` is the physical count
        (before deletion-vector filtering; `num_deletion_vectors` says
        how many live vectors apply)."""
        plan = self._plan(schema, name)
        files = [f for sl in plan.slices for f in sl.files]
        return {
            "name": f"{schema}.{name}",
            "version": plan.version,
            "num_files": len(files),
            "num_rows": sum(f["rows"] for f in files),
            "size_bytes": sum(f["bytes"] for f in files),
            "num_deletion_vectors": len(plan.dvs),
            "partition_columns": plan.partition_cols,
            "partition_spec": (
                f"{s.transform}({'' if s.n is None else f'{s.n}, '}"
                f"{s.source})"
                if (s := self.partition_spec(schema, name)) is not None
                else None
            ),
            "constraints": self.constraints(schema, name),
        }

    def logged_partition_metrics(
        self, schema: str, name: str, key: str
    ) -> tuple[dict[str, dict], list[str] | None]:
        """The live partitions' metrics as the commits that own them
        logged them under `key` (`extra_meta={key: {token: {"rows": n,
        ...}}}`), from the commit log alone: no Spark job, no data
        read.  Returns (metrics by partition token, the live partitions
        whose metrics are not usable).  A partition's metrics are
        usable only when its owning commit logged them and their `rows`
        equal the rows that commit logged for the partition's files;
        appends, DML, compactions and commits older than the metrics
        log none.  The second item is None when live deletion vectors
        or additive dirs (appends, merge-on-read updates, a full
        compaction) exist: then only a whole-table scan answers."""
        entries = self.snapshots(schema, name)
        state = self._readable_state(schema, name, None, entries)
        if state.extra or state.dvs:
            return {}, None
        path = self._table_dir(schema, name)
        owner = {
            os.path.join(path, e["data_dir"]): e
            for e in entries if e.get("data_dir") is not None
        }
        logged: dict[str, dict] = {}
        rest: list[str] = []
        for token, (d, pcol) in sorted(state.part_map.items()):
            e = owner.get(d, {})
            m = e.get(key, {}).get(token)
            rows = sum(
                f["rows"] for f in e.get("files", ())
                if (raw := _path_tokens(f["path"]).get(pcol)) is not None
                and _canon_token(raw) == token
            )
            if m is None or m.get("rows") != rows:
                rest.append(token)
            else:
                logged[token] = m
        return logged, rest

    def recommend_compaction(
        self,
        schema: str,
        name: str,
        small_file_bytes: int = 32 << 20,
        min_small_files: int = 4,
    ) -> dict:
        """OPTIMIZE advisor (Delta auto-compaction's decision function,
        surfaced as a queryable recommendation): per live partition,
        how many live files there are and how many are SMALL, from the
        planned live files' logged sizes (`_plan`) — no Spark job, no
        listing, no data read.  At 100 TB the small-file problem is an
        ops loop (streaming appends accrete files until scans schedule
        tens of thousands of splits); this is the loop's sensor.  On a
        partition-disciplined table the returned `partitions` list
        feeds `compact(partitions=...)` directly so the rewrite stays
        scoped to the offenders; when `unpartitioned_dirs` > 0 the
        table holds additive (flat-append / MoR-update) dirs and needs
        one FULL `compact()` first — the same precondition
        partition-scoped compaction itself enforces.

        Returns ``{"partitions": [values...],   # worth compacting
                    "detail": {value: {"files": n, "small": n,
                                       "bytes": total}},
                    "unpartitioned_dirs": n_extra_dirs,
                    "reason": ...}`` — a partition is recommended when
        it holds ≥ `min_small_files` live files under
        `small_file_bytes`; an additive dir's files under a
        `<pcol>=<value>` subdir count toward their partitions, and
        every other file in it lands in the `<unpartitioned>` detail
        row.  `unpartitioned_dirs` counts only dirs holding such
        UNATTRIBUTED data files (a dir whose every data file attributed
        to a partition does not appear; compact() folds all of them in
        regardless).
        """
        plan = self._plan(schema, name)
        pcol = next(iter(plan.partition_cols), None)
        detail: dict[str, dict] = {}
        unattributed_dirs = 0
        for sl in plan.slices:
            stray = False
            for f in sl.files:
                raw = _path_tokens(f["path"]).get(
                    pcol if sl.excl is not None else sl.keep[0]
                )
                if raw is None:
                    key, stray = "<unpartitioned>", True
                else:
                    key = _canon_token(raw)
                row = detail.setdefault(
                    key, {"files": 0, "small": 0, "bytes": 0}
                )
                row["files"] += 1
                row["bytes"] += f["bytes"]
                row["small"] += f["bytes"] < small_file_bytes
            unattributed_dirs += stray
        recommended = sorted(
            v for v, row in detail.items()
            if v != "<unpartitioned>" and row["small"] >= min_small_files
        )
        return {
            "partitions": recommended,
            "detail": detail,
            "unpartitioned_dirs": unattributed_dirs,
            "reason": (
                f">={min_small_files} live files under "
                f"{small_file_bytes} bytes"
            ),
        }

    def export_manifest(
        self,
        schema: str,
        name: str,
        version: int | None = None,
        write: bool = True,
    ) -> dict:
        """Consistent-snapshot file manifest for EXTERNAL engines (the
        Delta symlink-manifest / Iceberg metadata-files shape): the
        exact parquet files that make up the table as of `version`,
        plus the metadata an engine with no commit-log reader needs to
        reconstruct the logical table — physical→logical column
        renames, dropped physical columns, NULL-default added columns,
        the partition column read from hive paths, and hidden/derived
        columns to discard.  `tests/test_manifest_export.py` proves the
        contract by replaying a manifest in DuckDB and matching
        `read()` row-for-row.

        Honesty rule: a manifest is a plain file list, so snapshot
        state that lives OUTSIDE the files is unexportable and raises
        `ManifestExportError` rather than exporting silently-wrong
        data: live deletion vectors (merge-on-read deletes/updates not
        yet materialized), additive-dir partition exclusions (a CoW
        rewrite superseded a row-subset of an append file), and
        non-NULL ADD COLUMN defaults (pre-add files must read the
        default, but the bytes aren't in them).  `compact()`
        materializes all three; export after it succeeds.

        Lifetime: the manifest pins nothing — `vacuum` of versions the
        manifest references invalidates it (exactly Delta's symlink
        manifest caveat).  Export-then-vacuum-to-later is the caller's
        race to avoid.

        With `write=True` the manifest also lands atomically at
        `<table>/_manifests/v<N>.json` for out-of-band consumers.
        """
        plan = self._plan(schema, name, version)
        if plan.version is None:
            raise FileNotFoundError(f"{schema}.{name} does not exist")
        resolved = plan.version
        if plan.dvs:
            raise ManifestExportError(
                f"{schema}.{name}@v{resolved} has {len(plan.dvs)} live "
                "deletion-vector dir(s); a file manifest cannot express "
                "row-position deletes - compact() first"
            )
        if any(sl.excl for sl in plan.slices):
            raise ManifestExportError(
                f"{schema}.{name}@v{resolved} has additive-dir partition "
                "exclusions (a rewrite superseded rows inside append "
                "files); compact() first"
            )
        added = plan.state.added
        bad_adds = [a for a in added if a["default"] is not None]
        if bad_adds:
            raise ManifestExportError(
                f"{schema}.{name}@v{resolved} declares non-NULL ADD "
                f"COLUMN default(s) {[a['column'] for a in bad_adds]}; "
                "pre-add files must read the default but don't store "
                "it - compact() first"
            )

        # two file groups, because they need DIFFERENT read options:
        # hive files live under <pcol>=<value>/ dirs and store the
        # partition value in the PATH only; flat files (appends not yet
        # laid out) store every column in the data.  One mixed
        # read_parquet(hive_partitioning=...) call is a binder error in
        # DuckDB/Trino alike — consumers read each group and union.
        # Appends under a hidden/explicit spec DO lay out by
        # <pcol>=<value> subdirs — classify by path.
        hive_files: list[str] = []
        flat_files: list[str] = []
        for sl in plan.slices:
            for f in sl.files:
                (hive_files if "=" in f["path"] else flat_files).append(
                    os.path.join(sl.d, f["path"])
                )
        mapping = plan.state.renames
        spec = self.partition_spec(schema, name)
        manifest = {
            "table": f"{schema}.{name}",
            "version": resolved,
            "files": sorted(hive_files + flat_files),
            "hive_files": sorted(hive_files),
            "flat_files": sorted(flat_files),
            # physical name (as stored in files / hive paths) → logical
            "column_mapping": mapping,
            "dropped_physical_columns": sorted(plan.state.dropped),
            # read with union-by-name: schema-evolved commits may add
            # NULL-backed columns missing from older files
            "union_by_name": True,
            # partition value lives in the hive path, not the file
            "hive_partition_columns": plan.partition_cols,
            # hidden partitioning: the derived hive column is plumbing,
            # not part of the logical schema - drop it after the read
            "hidden_partition_columns": (
                [spec.hidden_col] if spec is not None else []
            ),
            # NULL-default ADD COLUMNs may not exist in ANY file yet -
            # consumers must add the missing ones as typed NULLs
            "added_null_columns": [
                {
                    "column": mapping.get(a["column"], a["column"]),
                    "dtype": a["dtype"],
                }
                for a in added
            ],
            # type-widened columns: files keep their narrow physical
            # type (immutable), so consumers must CAST after the read
            # — union_by_name unifies mixed generations on its own,
            # but a table whose files are all still narrow would
            # otherwise surface the narrow type.  Keyed by PHYSICAL
            # name (pre-mapping), values are Spark/ANSI type names.
            "widened_columns": plan.state.widened,
        }
        if write:
            mdir = os.path.join(
                self._table_dir(schema, name), "_manifests"
            )
            os.makedirs(mdir, exist_ok=True)
            target = os.path.join(mdir, f"v{resolved:08d}.json")
            tmp = target + f".tmp{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(manifest, f, indent=1)
            os.replace(tmp, target)
        return manifest

    def list_tables(self, schema: str) -> list[str]:
        d = os.path.join(self.root, schema)
        if not os.path.isdir(d):
            return []
        return sorted(
            n for n in os.listdir(d)
            if os.path.isdir(os.path.join(d, n))
        )

    def _raw_snapshots(self, schema: str, name: str) -> list[dict]:
        log = os.path.join(self._table_dir(schema, name), SNAPSHOT_LOG)
        if not os.path.exists(log):
            return []
        with open(log) as f:
            return [json.loads(line) for line in f if line.strip()]

    def snapshots(self, schema: str, name: str) -> list[dict]:
        """Commit history for a table (DESCRIBE HISTORY analog), after
        healing any committed-but-unlogged transaction lines."""
        return self._heal_from_journal(schema, name)

    def _log_snapshot(self, path: str, op: str, **extra) -> None:
        """Serialized version-assign + append (no conflict check — used
        by paths that are conflict-free by construction, e.g. journal
        healing, which replays already-committed transactions)."""
        with self._table_lock(path):
            self._append_log_line(path, op, **extra)

    def _append_log_line(self, path: str, op: str, **extra) -> None:
        """Assign the next version number and append one log line.
        Caller must hold the table lock (or otherwise be the only
        writer); the append itself is the commit point."""
        os.makedirs(path, exist_ok=True)
        log = os.path.join(path, SNAPSHOT_LOG)
        version = len(
            self._raw_snapshots(*_schema_name_from(path, self.root))
        )
        entry = {
            "version": version,
            "timestamp": time.strftime("%Y-%m-%dT%H:%M:%S"),
            "operation": op,
            **extra,
        }
        with open(log, "a") as f:
            f.write(json.dumps(entry) + "\n")


def _schema_name_from(path: str, root: str) -> tuple[str, str]:
    rel = os.path.relpath(path, root)
    schema, name = rel.split(os.sep)[:2]
    return schema, name


class Transaction:
    """Staged multi-table write set; see `Lakehouse.transaction()`.

    Data directories are written eagerly (named `_data/t<txn_id>`, so
    concurrent version numbering never collides); log visibility is
    deferred to `_commit`, whose FIRST action — one journal-line append
    — is the atomic commit point for every table at once.  Each write
    method records the table's base version, runs the `Lakehouse`
    stager for its operation against this transaction's data dir, and
    stages the returned entry; no write logic lives here.
    """

    def __init__(self, lake: Lakehouse):
        self.lake = lake
        self.txn_id = f"{time.time_ns():x}-{os.getpid():x}"
        self.pending: list[tuple[str, str, dict]] = []
        # per-table snapshot version captured when the txn FIRST reads
        # that table (top of each staging method, before any scan) —
        # the commit point replays every line that landed after it
        # through `_commits_conflict`, same optimistic-concurrency
        # matrix as the direct-path `_commit`.  Without this, an
        # interleaved compact/overwrite silently invalidated a staged
        # MoR deletion vector's (file_path, row_index) keys and
        # silently lost staged CoW rewrites (r13, ADVICE).
        self.base_versions: dict[tuple[str, str], int] = {}

    def _record_base(self, schema: str, name: str) -> None:
        self.base_versions.setdefault(
            (schema, name), len(self.lake.snapshots(schema, name))
        )

    # -- staged write ops (same signatures as Lakehouse's) -----------------

    def _data_dir(self, schema: str, name: str) -> str:
        self.lake._ensure_format(schema, name)
        return os.path.join(
            self.lake._table_dir(schema, name), "_data", f"t{self.txn_id}"
        )

    def _stage(self, schema: str, name: str, entry: dict) -> None:
        if any(s == schema and n == name for s, n, _ in self.pending):
            raise ValueError(
                f"transaction already writes {schema}.{name} "
                "(one write per table per txn)"
            )
        self.pending.append((schema, name, entry))

    def overwrite_partitions(
        self, df: DataFrame, schema: str, name: str,
        partition_col: str | None = None,
        extra_meta: dict | Callable[[], dict] | None = None,
    ) -> None:
        self._record_base(schema, name)
        df, partition_col = self.lake._resolve_partitioning(
            df, schema, name, partition_col
        )
        entry = self.lake._stage_overwrite_partitions(
            df, schema, name, partition_col, self._data_dir(schema, name),
        )
        self._stage(schema, name, _with_meta(entry, extra_meta))

    def overwrite(self, df: DataFrame, schema: str, name: str) -> None:
        self._record_base(schema, name)
        self._stage(
            schema, name,
            self.lake._stage_full_write(
                df, schema, name, "overwrite", self._data_dir(schema, name)
            ),
        )

    def merge_into(
        self,
        spark: SparkSession,
        schema: str,
        name: str,
        updates: DataFrame,
        key: str | list[str],
        partition_col: str | None = None,
        purge_condition=None,
    ) -> None:
        """Stage a copy-on-write MERGE (`Lakehouse.merge_into`'s
        stager) inside the transaction: the merged partitions are
        computed against the CURRENT table state at stage time and
        become visible only at the journal commit — so several tables'
        merges (e.g. an index's postings + doc lengths + stats) land
        atomically.

        `purge_condition` is the WHEN MATCHED DELETE leg (Delta MERGE
        analog): current rows where the predicate is TRUE are dropped
        even when no update row shares their key, and partitions
        containing such rows join the rewrite set.  This is what a
        reindex needs — replacing a document's postings must also
        remove rows for terms the new text no longer contains, which
        live under keys (and partitions) the update frame never
        mentions."""
        self._record_base(schema, name)
        self._stage(
            schema, name,
            self.lake._stage_merge(
                spark, schema, name, self._data_dir(schema, name),
                updates, key, partition_col,
                purge_condition=purge_condition,
            ),
        )

    def delete_where(
        self,
        spark: SparkSession,
        schema: str,
        name: str,
        condition=None,
        partition_col: str | None = None,
        predicates: list[tuple] | None = None,
        mode: str = "copy_on_write",
    ) -> bool:
        """Stage a row-level DELETE (`Lakehouse.delete_where`'s stager,
        both modes) inside the transaction — so a multi-table erasure
        (an index's postings + doc lengths + stats refresh) lands at
        one journal line and a reader can never observe postings for a
        document whose length row is already gone.  Returns True iff
        rows matched (False = nothing staged for this table).

        ``mode="merge_on_read"`` stages ONE small deletion-vector
        parquet instead of rewriting every affected partition wholly
        (a bucket-partitioned postings table can see a single
        document's erasure touch most buckets); the journal line stays
        the atomic point for every staged table at once."""
        _check_filter("delete_where", condition, predicates)
        _check_mode("delete_where", mode)
        self._record_base(schema, name)
        entry = self.lake._stage_delete(
            spark, schema, name, self._data_dir(schema, name),
            condition, predicates, partition_col, mode,
        )
        if entry is None:
            return False
        self._stage(schema, name, entry)
        return True

    def append(self, df: DataFrame, schema: str, name: str) -> None:
        self._record_base(schema, name)
        self._stage(
            schema, name,
            self.lake._stage_full_write(
                df, schema, name, "append", self._data_dir(schema, name)
            ),
        )

    def append_rows(
        self, rows: list[tuple], row_schema: StructType, schema: str, name: str
    ) -> None:
        self._record_base(schema, name)
        self._stage(
            schema, name,
            self.lake._stage_rows(
                rows, row_schema, schema, name, self._data_dir(schema, name)
            ),
        )

    # -- commit protocol ---------------------------------------------------

    def _commit_journal(self) -> None:
        """THE commit point: one appended journal line."""
        line = {
            "txn_id": self.txn_id,
            "timestamp": time.strftime("%Y-%m-%dT%H:%M:%S"),
            "tables": [
                {"schema": s, "name": n, "entry": e}
                for s, n, e in self.pending
            ],
        }
        # journal appends serialize on a lakehouse-level lock so
        # concurrent transactions each land as one intact line
        with self.lake._table_lock(self.lake.root):
            # optimistic-concurrency scan (r13): every log line that
            # landed after this txn's first read of each table runs
            # through the SAME conflict matrix as direct-path commits.
            # Raising here (before the journal append) aborts the
            # whole txn atomically — nothing became visible.  This is
            # what makes a staged MoR deletion vector safe: a
            # compact/overwrite landing between stage and commit would
            # otherwise leave DV (file_path, row_index) keys matching
            # nothing, silently resurrecting the deleted rows.
            for schema, name, entry in self.pending:
                base = self.base_versions.get((schema, name))
                if base is None:
                    continue
                # snapshots() (not _raw_snapshots): heal first, so a
                # concurrent txn that crashed after ITS journal append
                # still counts as landed.  Healing takes per-table
                # locks — distinct flock files from the root journal
                # lock held here, so no self-deadlock.
                for other in self.lake.snapshots(schema, name)[base:]:
                    if _commits_conflict(entry, other):
                        raise ConcurrentWriteError(
                            f"{schema}.{name}: txn {self.txn_id} "
                            f"staged {entry['op']!r} against version "
                            f"{base}, but interleaved version "
                            f"{other['version']} "
                            f"({other['operation']!r}) landed before "
                            "the journal commit; re-stage and retry"
                        )
            with open(self.lake._journal_path(), "a") as f:
                f.write(json.dumps(line) + "\n")

    def _commit_table_logs(self) -> None:
        """Post-commit convenience appends; a crash here is repaired by
        `snapshots()`'s journal healing."""
        for schema, name, entry in self.pending:
            self.lake._log_snapshot(
                self.lake._table_dir(schema, name),
                txn_id=self.txn_id,
                **entry,
            )

    def _commit(self) -> None:
        if not self.pending:
            return
        self._commit_journal()
        self._commit_table_logs()

    def __enter__(self) -> "Transaction":
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        if exc_type is None:
            self._commit()
        # on exception: nothing logged → nothing visible (abort)
        return False


# -- data-quality log (S13 + §5 audits) ------------------------------------

QUALITY_LOG_SCHEMA = StructType([
    StructField("check_timestamp", TimestampType()),
    StructField("table_name", StringType()),
    StructField("metric_name", StringType()),
    StructField("metric_value", DoubleType()),
    StructField("notes", StringType()),
])


@contextmanager
def temp_lakehouse(schema: str = "gold", prefix: str = "umdl_tmp_lake_"):
    """Throwaway Lakehouse scoped to a `with` block — the shared
    mkdtemp/rmtree pattern the persistent-index query builders
    (bm25_search, _persistent_ivf_serve/_persistent_ivfadc/_stream,
    near_dup_incremental) all need: build an index in a temp root,
    query it, and guarantee cleanup on any exit path.

    Callers must pin results that outlive the block (e.g.
    `localCheckpoint(eager=True)`) BEFORE exiting — the root is
    deleted on exit, so an un-pinned lazy plan would read vanished
    files.  If the process dies inside the block, the OS tempdir
    reaper owns the leak (same story as any mkdtemp)."""
    import tempfile

    root = tempfile.mkdtemp(prefix=prefix)
    try:
        lake = Lakehouse(root)
        lake.create_schemas(schema)
        yield lake
    finally:
        shutil.rmtree(root, ignore_errors=True)


def quality_rows(
    table_name: str, metrics: dict, notes: str | None = ""
) -> list[tuple]:
    """`{metric_name: value}` as data_quality_log rows
    (`QUALITY_LOG_SCHEMA`), every row stamped with the same driver UTC
    instant."""
    from datetime import datetime, timezone

    now = datetime.now(timezone.utc)
    return [(now, table_name, k, float(v), notes) for k, v in metrics.items()]


def log_metric(
    lake: Lakehouse, spark: SparkSession, table_name: str, metrics: dict
) -> None:
    """Append one audit to silver.data_quality_log: a row per
    `{metric_name: value}` entry, all in ONE commit (the reference's
    helper, mobility_ingestion_pipeline.py:76-80, commits per row),
    written on the driver (`Lakehouse.append_rows`) — no Spark job."""
    lake.append_rows(
        quality_rows(table_name, metrics), QUALITY_LOG_SCHEMA,
        "silver", "data_quality_log",
    )


def save_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int,
    sort_col: str | None = None,
) -> None:
    """Bucketed catalog table (CLUSTERED BY ... INTO n BUCKETS).

    Bucketing is the lakehouse answer to repeated fact×fact joins at
    100 TB: both sides pre-hashed into matching bucket files, so the
    join plans as a SortMergeJoin with NO Exchange on either side —
    the shuffle happened once at write time, not on every query.
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.format("parquet").saveAsTable(table_name)
    # Record the count the files were PHYSICALLY hashed with, so a
    # later cross-session attach can refuse a mismatched declared
    # count (see attach_or_save_bucketed: a wrong declared count is a
    # silent wrong-results bug, Spark trusts the DDL and skips the
    # exchange).
    from urllib.parse import urlparse

    spark = df.sparkSession
    loc = next(
        (
            urlparse(r.data_type).path
            for r in spark.sql(
                f"DESCRIBE TABLE EXTENDED {table_name}"
            ).collect()
            if r.col_name == "Location"
        ),
        None,
    )
    if loc and os.path.isdir(loc):
        with open(os.path.join(loc, "_N_BUCKETS"), "w") as f:
            f.write(str(n_buckets))


def attach_or_save_bucketed(
    spark: SparkSession,
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int,
    sort_col: str | None = None,
) -> None:
    """Ensure `table_name` exists as a bucketed table, WITHOUT
    re-shuffling if a previous session already paid for the write.

    Spark encodes the bucket id in each data file's name, so bucket
    files surviving in the warehouse directory (session catalogs are
    in-memory; the files are not) can be re-registered as an external
    bucketed table by DDL — the scan keeps its outputPartitioning and
    joins still plan with NO Exchange.  This is the point of bucketing
    at 100 TB: the shuffle happens once at write time, ever, not once
    per session.  A directory without Spark's _SUCCESS marker (crashed
    write) is discarded and rewritten.

    The declared bucket count is LOAD-BEARING for correctness, not just
    speed: Spark trusts the DDL's `INTO n BUCKETS`, skips the exchange,
    and a declared count that differs from the count the files were
    physically hashed with silently co-locates the WRONG keys — a
    wrong-results bug, not a slow one.  So the physical count is
    recorded in a `_N_BUCKETS` marker at write time, and attach refuses
    to re-register surviving files unless the marker matches the
    requested count (mismatch or missing marker → rebuild).  This
    matters whenever the caller derives n_buckets from current source
    bytes (`fact_bucket_count`) and the sources changed since the
    layout was written.
    """
    if attach_bucketed(spark, df, table_name, bucket_col, n_buckets, sort_col):
        return
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    loc = os.path.join(wh, table_name)
    if os.path.exists(loc):
        shutil.rmtree(loc)  # stale partial write blocks saveAsTable
    save_bucketed(df, table_name, bucket_col, n_buckets, sort_col)


def attach_bucketed(
    spark: SparkSession,
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int,
    sort_col: str | None = None,
) -> bool:
    """The attach-only (metadata-only, never writes data) half of
    `attach_or_save_bucketed`: True if the table is usable after the
    call — already in the session catalog, or surviving bucket files
    re-registered by external-table DDL — else False (missing,
    incomplete, or bucket-count-mismatched layout; see the safety
    discussion above).  Lets query builders ride an existing layout
    without ever triggering the CTAS write themselves."""
    if spark.catalog.tableExists(table_name):
        return True
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    loc = os.path.join(wh, table_name)
    n_marker = os.path.join(loc, "_N_BUCKETS")
    complete = os.path.exists(os.path.join(loc, "_SUCCESS")) and any(
        f.endswith(".parquet") for f in os.listdir(loc)
    )
    if complete:
        try:
            with open(n_marker) as f:
                written_with = int(f.read().strip())
        except (OSError, ValueError):
            written_with = -1  # legacy/unknown layout: never trust it
        complete = written_with == n_buckets
    if not complete:
        return False
    cols = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    sort = f" SORTED BY ({sort_col})" if sort_col else ""
    spark.sql(
        f"CREATE TABLE {table_name} ({cols}) USING PARQUET "
        f"CLUSTERED BY ({bucket_col}){sort} INTO {n_buckets} BUCKETS "
        f"LOCATION '{loc}'"
    )
    return True
