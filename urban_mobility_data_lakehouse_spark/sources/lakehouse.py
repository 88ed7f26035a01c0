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
  - `append` — append-only sinks (the quality log)
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

import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

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


# Hive's NULL-partition directory name.  For tables created at format
# v2 (see Lakehouse.null_token) it is ALSO the catalog's canonical
# NULL partition token, which retires the NULL/'None' identity
# collision: a literal string 'None' tokenizes as 'None', NULL as the
# sentinel — two distinct partitions.  Legacy tables (created before
# the format file existed) keep the documented 'None' token.
NULL_SENTINEL = "__HIVE_DEFAULT_PARTITION__"


def _canon_token(raw: str, null_token: str = "None") -> str:
    """Hive directory-name token → the catalog's canonical partition
    token: the __HIVE_DEFAULT_PARTITION__ sentinel maps to the table's
    NULL token (`Lakehouse.null_token` — 'None' on legacy tables, the
    sentinel itself on format-v2 tables, where this mapping is the
    identity) and hive %-escaping is undone.  EVERY comparison between
    commit-log partition tokens and on-disk `<pcol>=<raw>` names must
    go through this (or `_pvalue_subdirs`) — matching the constructed
    canonical name against escaped/sentinel directories silently drops
    those partitions (found via a NULL-keyed erasure miss, r11)."""
    from urllib.parse import unquote

    return null_token if raw == NULL_SENTINEL else unquote(raw)


def _token_of(value, null_token: str = "None") -> str:
    """Partition VALUE (off a collected row) → canonical token."""
    return null_token if value is None else str(value)


def _pvalue_subdirs(
    d: str, pcol: str, values, null_token: str = "None"
) -> list[str]:
    """Existing `<pcol>=<raw>` subdirectories of `d` whose CANONICAL
    token is in `values` — one listdir, escaped and NULL-sentinel
    names matched correctly (see `_canon_token`)."""
    pfx = f"{pcol}="
    want = set(values)
    try:
        names = os.listdir(d)
    except OSError:
        return []
    return [
        p
        for n in sorted(names)
        if n.startswith(pfx)
        and _canon_token(n[len(pfx):], null_token) in want
        and os.path.isdir(p := os.path.join(d, n))
    ]


def _with_meta(entry: dict, extra_meta: dict | None) -> dict:
    """Merge caller metadata into a staged commit entry (recorded on
    the log line, atomic with the commit — how a consumer ties applied
    work to the exact commit that carries it, e.g. a materialized
    view's `mv_base_version` watermark).  Reserved keys are protected:
    metadata can annotate a commit, never alter its replay semantics."""
    if not extra_meta:
        return entry
    clash = set(extra_meta) & (
        set(entry) | {"version", "timestamp", "operation", "txn_id"}
    )
    if clash:
        raise ValueError(f"extra_meta keys collide with commit fields: {clash}")
    entry.update(extra_meta)
    return entry


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
    # Delta's dataSkippingNumIndexedCols analog: commit-log entries
    # carry per-file min/max/null_count footer stats for the first
    # `stats_max_columns` leaf columns (collect_stats=False opts out;
    # older logs without stats stay readable — pruning just no-ops).
    collect_stats: bool = True
    stats_max_columns: int = 32
    # Delta checkpoint analog: every `checkpoint_interval` commits the
    # writer snapshots the REPLAYED manifest to `_checkpoints/v<N>.json`,
    # so readers replay only the log suffix after the newest checkpoint
    # ≤ their target version instead of the whole history.  Metadata
    # cost per read becomes O(interval), not O(total commits) — the
    # difference between a streaming table with 100k commits being
    # readable and not.  0 disables writing; existing checkpoints are
    # always honored, tables without any stay fully readable.
    checkpoint_interval: int = 32

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

    # -- table format (the NULL-partition-token flag) ----------------------

    FORMAT_FILE = "_format.json"

    def null_token(self, schema: str, name: str) -> str:
        """The table's canonical NULL-partition token.  Tables created
        at format v2 (every table this code creates: `_ensure_format`
        stamps `_format.json` before the first commit) use the
        dedicated hive sentinel, so a NULL partition key and a literal
        string 'None' are DISTINCT partition identities.  Tables
        without the format file — created before the flag existed —
        keep the documented legacy token 'None' (str(None)), where the
        two forms share identity; `_stage_overwrite_partitions` refuses
        writes that would mix them, same-commit or cross-commit."""
        p = os.path.join(self._table_dir(schema, name), self.FORMAT_FILE)
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f).get("null_token", "None")
        return "None"

    def migrate_null_token(
        self, spark: SparkSession, schema: str, name: str
    ) -> dict:
        """Upgrade a LEGACY table (NULL token 'None') to format v2 in
        ONE versioned commit (r13, VERDICT #4).

        Under the legacy scheme a NULL partition key and a literal
        string 'None' SHARE the token 'None' — physically
        distinguishable (sentinel dir vs `pcol=None` dir) but one
        identity to every delete/rewrite.  Migration:

        * no commits yet → stamp `_format.json` with the sentinel,
          done;
        * the table's HISTORY (every version directory, raw dir names
          only — no data read) holds BOTH physical forms → REFUSE:
          under the shared identity which rows each historical commit
          meant is ambiguous, and guessing would silently rewrite one
          form as the other;
        * otherwise the live 'None'-token rows are rewritten under the
          new identity — NULL rows re-land in the sentinel dir with
          the sentinel as their CANONICAL token, superseding the
          legacy 'None' entry in the same commit — and `_format.json`
          is stamped with the sentinel plus `migrated_at_version`.

        Time travel / CDC / RESTORE below `migrated_at_version` raise
        `HistoryUnavailableError` whenever the legacy token ever held
        data: the old log lines speak the old identity, and re-reading
        them under the new scheme would silently drop (or double) the
        NULL partition — surfaced, not guessed."""
        path = self._table_dir(schema, name)
        if self.null_token(schema, name) != "None":
            return {"migrated": False, "reason": "already_v2"}

        def _stamp(guard: int | None) -> None:
            payload: dict = {"null_token": NULL_SENTINEL}
            if guard is not None:
                payload["migrated_at_version"] = guard
            tmp = os.path.join(path, self.FORMAT_FILE + ".tmp")
            with open(tmp, "w") as f:
                json.dump(payload, f)
            os.replace(tmp, os.path.join(path, self.FORMAT_FILE))

        entries = self.snapshots(schema, name)
        if not entries:
            os.makedirs(path, exist_ok=True)
            _stamp(None)
            return {
                "migrated": True,
                "rewritten_partitions": [],
                "history_guard_version": None,
            }
        # history-wide physical-form census: directory NAMES across
        # every version dir (live and superseded) — metadata-scale,
        # no data read
        hist: dict[str, set[str]] = {}
        for _root, dirs, _files in os.walk(path):
            for d in dirs:
                if "=" not in d:
                    continue
                pc, tok = d.split("=", 1)
                if tok in ("None", NULL_SENTINEL):
                    hist.setdefault(pc, set()).add(tok)
        mixed = sorted(p for p, fm in hist.items() if len(fm) == 2)
        if mixed:
            raise ValueError(
                f"{schema}.{name}: cannot migrate null token — history "
                "holds BOTH NULL-keyed (sentinel) and literal-'None' "
                f"directories for partition column(s) {mixed}. Under "
                "the legacy scheme the two shared one identity, so "
                "which rows each historical commit meant is ambiguous; "
                "rename or drop one form first instead of letting the "
                "migration guess."
            )
        part_map, _extra, _dvs = self._manifest(schema, name)
        live_none = part_map.get("None")
        if live_none is None:
            # nothing live under the legacy token; the scheme flip is
            # pure metadata.  Historical data may still have carried
            # it → guard every pre-flip version.
            guard = (
                entries[-1]["version"] + 1
                if any(hist.values())
                else None
            )
            _stamp(guard)
            return {
                "migrated": True,
                "rewritten_partitions": [],
                "history_guard_version": guard,
            }
        pcol = live_none[1]
        live_forms = {
            t
            for t in self._live_raw_tokens(schema, name, pcol)
            if t in ("None", NULL_SENTINEL)
        }
        # build the read plan BEFORE stamping (it bakes legacy-token
        # path resolution and filters); the rewrite commit itself is
        # token-explicit, so the scheme flip lands after the commit
        cur = self.read(spark, schema, name)
        if live_forms == {NULL_SENTINEL}:
            rows = cur.filter(F.col(pcol).isNull())
            parts = ["None", NULL_SENTINEL]
        else:
            rows = cur.filter(F.col(pcol) == "None")
            parts = ["None"]
        self.overwrite_partitions(
            rows, schema, name, pcol, partitions=parts,
            extra_meta={"migration": "null_token_v2"},
        )
        guard = self.snapshots(schema, name)[-1]["version"]
        _stamp(guard)
        return {
            "migrated": True,
            "rewritten_partitions": parts,
            "history_guard_version": guard,
        }

    def _migration_guard_version(
        self, schema: str, name: str
    ) -> int | None:
        p = os.path.join(self._table_dir(schema, name), self.FORMAT_FILE)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f).get("migrated_at_version")

    def _ensure_format(self, schema: str, name: str) -> None:
        """Stamp the format file on a genuinely NEW table (no commits,
        no format file yet) — called from every write entry point
        BEFORE data is staged, so the token scheme is fixed for the
        table's whole life.  Existing tables are never upgraded in
        place: their committed log lines and directory names already
        speak the legacy token."""
        path = self._table_dir(schema, name)
        p = os.path.join(path, self.FORMAT_FILE)
        if os.path.exists(p):
            return
        with self._table_lock(path):
            if os.path.exists(p) or self._raw_snapshots(schema, name):
                return
            tmp = p + ".tmp"
            with open(tmp, "w") as f:
                json.dump({"null_token": NULL_SENTINEL}, f)
            os.replace(tmp, p)

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
        self, schema: str, name: str, version: int | None = None
    ) -> tuple[dict[str, str], set[str]]:
        """(physical→logical renames, dropped physical names) as of
        `version` (None = latest), replayed from the metadata commits.
        Empty structures mean logical == physical (the common case —
        callers fast-path on it)."""
        entries = self.snapshots(schema, name)

        def replay(upto: int | None) -> tuple[dict[str, str], set[str]]:
            mapping: dict[str, str] = {}
            dropped: set[str] = set()
            for e in entries:
                if upto is not None and e["version"] > upto:
                    break
                op = e["operation"]
                if op == "restore":
                    mapping, dropped = replay(e["of_version"])
                elif op == "rename_column":
                    phys = next(
                        (p for p, l in mapping.items() if l == e["old"]),
                        e["old"],
                    )
                    if e["new"] == phys:
                        mapping.pop(phys, None)  # renamed back home
                    else:
                        mapping[phys] = e["new"]
                elif op == "drop_column":
                    phys = next(
                        (p for p, l in mapping.items() if l == e["column"]),
                        e["column"],
                    )
                    mapping.pop(phys, None)
                    dropped.add(phys)
            return mapping, dropped

        return replay(version)

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

    def _widened(
        self, schema: str, name: str, version: int | None = None
    ) -> dict[str, str]:
        """physical column → widest committed type as of `version`
        (restore-aware, like `column_state`).  Later widenings of the
        same column override earlier ones (the commit guard only
        admits strictly-widening steps, so last-wins == widest)."""
        entries = self.snapshots(schema, name)

        def replay(upto: int | None) -> dict[str, str]:
            widened: dict[str, str] = {}
            for e in entries:
                if upto is not None and e["version"] > upto:
                    break
                op = e["operation"]
                if op == "restore":
                    widened = replay(e["of_version"])
                elif op == "widen_column":
                    widened[e["column"]] = e["to_type"]
            return widened

        return replay(version)

    def _added_columns(
        self, schema: str, name: str, version: int | None = None
    ) -> list[dict]:
        """add_column declarations live as of `version` (restore-aware,
        like `column_state`).  Keyed by PHYSICAL name — the name the
        column had when added; later renames layer on top."""
        entries = self.snapshots(schema, name)

        def replay(upto: int | None) -> list[dict]:
            adds: list[dict] = []
            for e in entries:
                if upto is not None and e["version"] > upto:
                    break
                op = e["operation"]
                if op == "restore":
                    adds = replay(e["of_version"])
                elif op == "add_column":
                    adds.append(
                        {
                            "column": e["column"],
                            "dtype": e["dtype"],
                            "default": e.get("default"),
                        }
                    )
            return adds

        return replay(version)

    def _fill_added(
        self, frames: list[DataFrame], schema: str, name: str,
        version: int | None = None,
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
        adds = self._added_columns(schema, name, version)
        widened = self._widened(schema, name, version)
        if not adds and not widened:
            return frames
        out = []
        for f in frames:
            for a in adds:
                if a["column"] not in f.columns:
                    f = f.withColumn(
                        a["column"],
                        F.lit(a["default"]).cast(a["dtype"]),
                    )
            for col, t in widened.items():
                if col in f.columns:
                    f = f.withColumn(col, F.col(col).cast(t))
            out.append(f)
        return out

    def _apply_column_mapping(
        self, df: DataFrame, schema: str, name: str,
        version: int | None = None,
    ) -> DataFrame:
        """physical→logical projection for read paths.  Hidden and
        positional plumbing columns pass through untouched (they are
        never renameable)."""
        mapping, dropped = self.column_state(schema, name, version)
        if not mapping and not dropped:
            return df
        return df.select(
            *[
                df[c].alias(mapping.get(c, c))
                for c in df.columns
                if c not in dropped
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
        wins (internal rewrites pass the hidden column through); with
        None, a hidden spec derives its value column — recomputed even
        if present, so a stale caller-supplied value can never
        disagree with the transform."""
        if partition_col is not None:
            return df, partition_col
        spec = self.partition_spec(schema, name)
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

    def _ensure_partition_col(
        self, df: DataFrame, schema: str, name: str, partition_col: str
    ) -> DataFrame:
        """Re-derive a hidden partition column onto a frame that came
        back through `read` (which strips it).  No-op for physical
        partition columns."""
        if partition_col in df.columns:
            return df
        spec = self.partition_spec(schema, name)
        if spec is not None and partition_col == spec.hidden_col:
            return df.withColumn(partition_col, spec.derive(df))
        return df

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
        """Record per-file footer stats in the commit entry (the Delta
        add-action stats analog) — the data-skipping index consulted by
        `read_where`.  Driver-side footer reads only; no Spark job —
        unless the table has Bloom indexes (`add_bloom_index`), which
        add one bounded Spark aggregate per indexed column over the new
        files."""
        if self.collect_stats:
            from .skipping import collect_file_stats

            entry["files"] = collect_file_stats(
                data_dir, max_columns=self.stats_max_columns
            )
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
        if partitions is not None:
            parts = [str(p) for p in partitions]
            # r13 (ADVICE): the legacy NULL/'None' mix guard must also
            # cover explicit-partitions writes (delete_where/update
            # rewrites, direct callers).  The caller's tokens are
            # CANONICAL — on a legacy table NULL and literal-'None'
            # both arrive as 'None' — so the two physical forms are
            # recovered from the directory names partitionBy just
            # produced, exactly as the directory-derived branch does.
            if self.null_token(schema, name) == "None":
                prefix = f"{partition_col}="
                raw = {
                    d[len(prefix):]
                    for d in os.listdir(data_dir)
                    if d.startswith(prefix)
                    and os.path.isdir(os.path.join(data_dir, d))
                }
                self._guard_legacy_null_mix(
                    schema, name, partition_col,
                    {t for t in ("None", NULL_SENTINEL) if t in raw},
                )
        else:
            # read the partition set off the directory names the write
            # just produced — the old distinct().collect() recomputed
            # the df's ENTIRE lineage a second time per commit (hive
            # escaping unquoted, a no-op for the plain scalar values
            # this catalog supports)
            from urllib.parse import unquote

            prefix = f"{partition_col}="
            parts = [
                unquote(d[len(prefix):])
                for d in os.listdir(data_dir)
                if d.startswith(prefix)
                and os.path.isdir(os.path.join(data_dir, d))
            ]
            # a NULL partition value writes the sentinel directory
            # __HIVE_DEFAULT_PARTITION__.  On format-v2 tables (every
            # table this code creates) the sentinel IS the canonical
            # NULL token, so it stays as-is and a literal string
            # 'None' is just an ordinary value — two distinct
            # partition identities, nothing to guard.
            #
            # LEGACY tables (no format file) keep the documented token
            # 'None' (str(None), what the old distinct().collect()
            # path recorded), where a literal string value 'None'
            # SHARES partition identity with NULL — so the ambiguous
            # mix is refused loudly instead of silently merging
            # identities downstream: both when one write produces both
            # directory forms, and (r12, the cross-commit case) when
            # the incoming write carries one form while the table's
            # live directories already hold the other.
            nt = self.null_token(schema, name)
            if nt == "None":
                self._guard_legacy_null_mix(
                    schema, name, partition_col,
                    {p for p in parts if p in ("None", NULL_SENTINEL)},
                )
                parts = [
                    "None" if p == NULL_SENTINEL else p for p in parts
                ]
        return self._attach_stats(
            dict(
                op="overwrite_partitions",
                partitions=sorted(parts), partition_col=partition_col,
                data_dir=os.path.relpath(data_dir, path),
            ),
            data_dir,
            schema,
            name,
        )

    def _guard_legacy_null_mix(
        self,
        schema: str,
        name: str,
        partition_col: str,
        incoming: set[str],
    ) -> None:
        """Refuse the NULL / literal-'None' identity mix on a LEGACY
        (no `_format.json`) table, where both physical forms share the
        canonical token 'None'.  `incoming` holds the RAW forms this
        write carries (subset of {'None', NULL_SENTINEL}) — derived
        from staged directory names by both the directory-derived and
        the explicit-partitions write paths.  Raises on a same-commit
        mix (both forms staged) and on a cross-commit mix (one form
        staged while the table's live dirs hold the other)."""
        if len(incoming) == 2:
            raise ValueError(
                f"{schema}.{name}: partition column "
                f"{partition_col!r} mixes NULL and the literal "
                "string 'None' — this legacy table's token "
                "scheme gives both the same partition identity "
                "('None'), so later deletes/rewrites would "
                "conflate them. Rename the literal value (e.g. "
                "map it to 'none' or a sentinel) before "
                "partitioning on it."
            )
        if incoming:
            other = (
                NULL_SENTINEL if incoming == {"None"} else "None"
            )
            if other in self._live_raw_tokens(
                schema, name, partition_col
            ):
                raise ValueError(
                    f"{schema}.{name}: this write's partition "
                    f"column {partition_col!r} carries "
                    f"{'NULL' if other == 'None' else 'a literal string None'} "
                    "while the table already holds "
                    f"{'a literal string None' if other == 'None' else 'NULL-keyed'} "
                    "rows — on this legacy table both forms "
                    "share partition identity ('None'), so the "
                    "cross-commit mix is refused the same way "
                    "the same-commit mix is."
                )

    def _live_raw_tokens(
        self, schema: str, name: str, pcol: str
    ) -> set[str]:
        """RAW `<pcol>=<token>` directory names across every live data
        dir — the one vantage point where NULL (sentinel dir) and a
        literal string 'None' are physically distinguishable.  Used
        only by the legacy-table mix guard, and only when the incoming
        write actually carries one of the two forms (never on the hot
        path)."""
        part_map, extra, _dvs = self._manifest(schema, name)
        dirs = {d for d, pc in part_map.values() if pc == pcol}
        dirs |= set(extra)
        pfx = f"{pcol}="
        out: set[str] = set()
        for d in dirs:
            try:
                names = os.listdir(d)
            except OSError:
                continue
            out.update(
                n[len(pfx):] for n in names if n.startswith(pfx)
            )
        return out

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

    def overwrite_partitions(
        self,
        df: DataFrame,
        schema: str,
        name: str,
        partition_col: str | None = None,
        partitions: list[str] | None = None,
        extra_meta: dict | None = None,
        _base: int | None = None,
        files_per_partition: int = 1,
        sort_within: tuple[str, ...] = (),
    ) -> None:
        """Idempotent partition upsert: only partitions present in `df`
        are replaced; everything else is untouched.  Copy-on-write: the
        new partitions land in a fresh version directory and supersede
        the same partitions of earlier versions at read time.

        `partitions` overrides the superseded set (normally derived
        from `df`) — needed when a partition's new state is EMPTY
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
        caller-side clustering alive for file-stat/Bloom pruning.

        `_base`: internal — read-modify-write callers (merge_into,
        delete_where) pass the version count they captured BEFORE
        reading the table, so a commit that lands between their read
        and this commit is conflict-checked rather than silently based
        on stale state (the TOCTOU window the randomized mixed-op
        schedule test caught: an interleaved commit with a version
        BELOW the commit-time base escapes the `[base:]` conflict
        scan)."""
        df, partition_col = self._resolve_partitioning(
            df, schema, name, partition_col
        )
        base, data_dir = self._next_data_dir(schema, name)
        if _base is not None:
            base = _base
        entry = self._stage_overwrite_partitions(
            df, schema, name, partition_col, data_dir, partitions,
            files_per_partition, sort_within,
        )
        self._commit(schema, name, _with_meta(entry, extra_meta), base)

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
        pay the DV anti-join until `compact()` materializes.
        """
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
        if mode == "merge_on_read":
            return self._merge_into_mor(spark, schema, name, updates, keys)
        if mode != "copy_on_write":
            raise ValueError(
                f"merge_into: unknown mode {mode!r} "
                "(copy_on_write | merge_on_read)"
            )
        updates, partition_col = self._resolve_partitioning(
            updates, schema, name, partition_col
        )
        # optimistic-concurrency base, captured BEFORE any read of
        # table state: every commit that lands after what this merge
        # reads must fall in the conflict scan's [base:] range
        base = len(self.snapshots(schema, name))
        nt = self.null_token(schema, name)
        affected = [
            _token_of(r[0], nt)
            for r in updates.select(partition_col).distinct().collect()
        ]
        if validate_cross_partition:
            strays = (
                self._ensure_partition_col(
                    self.read(spark, schema, name), schema, name,
                    partition_col,
                )
                .filter(
                    ~self._pvalue_match(
                        F.col(partition_col), affected, nt
                    )
                )
                .join(updates.select(*keys).distinct(), keys, "left_semi")
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
        current = self._ensure_partition_col(
            self.read(spark, schema, name), schema, name, partition_col
        ).filter(self._pvalue_match(F.col(partition_col), affected, nt))
        survivors = current.join(
            updates.select(*keys).distinct(), keys, "left_anti"
        )
        self.overwrite_partitions(
            # allowMissingColumns = Delta's MERGE schema evolution
            # (autoMerge): updates may ADD columns — surviving rows
            # surface NULL there, exactly like an evolving append
            survivors.unionByName(updates, allowMissingColumns=True),
            schema, name, partition_col, _base=base,
        )

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
        the rows the triples select), and the merge-on-read
        position-finding scan routes through `read_where`, opening only
        the stats/bloom-surviving files.  The pruned path is what makes
        a point erasure (GDPR delete of k ids) O(matching files), not
        O(table scan), on a Bloom-indexed key.

        Returns True iff a commit happened (False = no matching rows,
        table untouched, no new version) — callers tracking commit
        counts must branch on this rather than assume one version per
        call."""
        if (condition is None) == (predicates is None):
            raise ValueError(
                "delete_where: pass exactly one of condition or "
                "predicates"
            )
        if predicates is not None:
            from .skipping import predicates_to_column

            condition = predicates_to_column(predicates)
        if mode == "merge_on_read":
            return self._delete_where_dv(
                spark, schema, name, condition, predicates
            )
        if mode != "copy_on_write":
            raise ValueError(
                f"delete_where: unknown mode {mode!r} "
                "(copy_on_write | merge_on_read)"
            )
        # base BEFORE the read — see overwrite_partitions `_base`
        base = len(self.snapshots(schema, name))
        nt = self.null_token(schema, name)
        current = self.read(spark, schema, name)
        if partition_col is None:
            current, partition_col = self._resolve_partitioning(
                current, schema, name, None
            )
        else:
            current = self._ensure_partition_col(
                current, schema, name, partition_col
            )
        affected = [
            _token_of(r[0], nt)
            for r in current.filter(condition)
            .select(partition_col)
            .distinct()
            .collect()
        ]
        if not affected:
            return False
        survivors = current.filter(
            self._pvalue_match(F.col(partition_col), affected, nt)
        ).filter(~F.coalesce(condition, F.lit(False)))
        self.overwrite_partitions(
            survivors, schema, name, partition_col, partitions=affected,
            _base=base,
        )
        return True

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
        update condition derives from the triples, and the
        merge-on-read position-finding scan routes through the pruned
        read, opening only stats/bloom-surviving files (a point UPDATE
        of k ids on a Bloom-indexed key is O(matching files) scan).

        Returns True iff a commit happened (False = no matching rows,
        no new version), matching `delete_where`."""
        if mode not in ("copy_on_write", "merge_on_read"):
            raise ValueError(
                f"update_where: unknown mode {mode!r} "
                "(copy_on_write | merge_on_read)"
            )
        if not set:
            raise ValueError("update_where: empty SET")
        if (condition is None) == (predicates is None):
            raise ValueError(
                "update_where: pass exactly one of condition or "
                "predicates"
            )
        if predicates is not None:
            from .skipping import predicates_to_column

            condition = predicates_to_column(predicates)
        if mode == "merge_on_read":
            return self._update_where_mor(
                spark, schema, name, condition, set, predicates
            )
        # base BEFORE the read — see overwrite_partitions `_base`
        base = len(self.snapshots(schema, name))
        current = self.read(spark, schema, name)
        unknown = sorted(k for k in set if k not in current.columns)
        if unknown:
            raise ValueError(
                f"update_where {schema}.{name}: SET names unknown "
                f"columns {unknown}"
            )
        spec = self.partition_spec(schema, name)
        moved = spec.source if spec is not None else partition_col
        if moved is not None and moved in set:
            raise ValueError(
                f"update_where {schema}.{name}: SET {moved} would "
                "move rows across partitions under copy-on-write — "
                'use mode="merge_on_read"'
            )
        if partition_col is None:
            current, partition_col = self._resolve_partitioning(
                current, schema, name, None
            )
        else:
            current = self._ensure_partition_col(
                current, schema, name, partition_col
            )
        nt = self.null_token(schema, name)
        affected = [
            _token_of(r[0], nt)
            for r in current.filter(condition)
            .select(partition_col)
            .distinct()
            .collect()
        ]
        if not affected:
            return False
        rewritten = self._apply_set(
            current.filter(
                self._pvalue_match(F.col(partition_col), affected, nt)
            ),
            condition,
            set,
        )
        self.overwrite_partitions(
            rewritten, schema, name, partition_col,
            partitions=affected, _base=base,
        )
        return True

    def _update_where_mor(
        self, spark: SparkSession, schema: str, name: str,
        condition, assignments: dict,
        predicates: list[tuple] | None = None,
    ) -> bool:
        """Merge-on-read UPDATE: DV over the matched positions + the
        updated row images appended, one atomic `update_mor` commit
        (same log shape as MoR MERGE, so CDC/compaction/fsck handling
        is shared).  With `predicates`, the positional scan routes
        through the pruned `read_where`, which already applies the
        same conjunction as its residual filter."""
        path = self._table_dir(schema, name)
        # base BEFORE the positional read (see _merge_into_mor)
        base, data_dir = self._next_data_dir(schema, name)
        if predicates is not None:
            current = self.read_where(
                spark, schema, name, predicates, with_positions=True
            )
        else:
            current = self.read(
                spark, schema, name, with_positions=True
            )
        unknown = sorted(
            k for k in assignments
            if k not in current.columns or k.startswith("__dv_")
        )
        if unknown:
            raise ValueError(
                f"update_where {schema}.{name}: SET names unknown "
                f"columns {unknown}"
            )
        matched = (
            current
            if predicates is not None
            else current.filter(condition)
        )
        if matched.limit(1).count() == 0:
            return False  # no matches → no commit (CoW parity)
        updated = self._apply_set(
            matched, F.lit(True), assignments
        ).drop("__dv_file", "__dv_pos")
        self._enforce_constraints(updated, schema, name)
        dv_dir = data_dir + "-dv"
        matched.select(
            F.col("__dv_file").alias("file_path"),
            F.col("__dv_pos").alias("row_index"),
        ).coalesce(1).write.mode("overwrite").parquet(dv_dir)
        self._to_physical(updated, schema, name).write.mode(
            "overwrite"
        ).parquet(data_dir)
        self._commit(
            schema, name,
            self._attach_stats(
                dict(
                    op="update_mor",
                    data_dir=os.path.relpath(data_dir, path),
                    dv_dir=os.path.relpath(dv_dir, path),
                ),
                data_dir,
                schema,
                name,
            ),
            base,
        )
        return True

    def _merge_into_mor(
        self,
        spark: SparkSession,
        schema: str,
        name: str,
        updates: DataFrame,
        keys: list[str],
    ) -> None:
        """Merge-on-read MERGE: stage (a) the updates as new data files
        and (b) a deletion vector naming the matched rows' positions,
        then commit both with one `update_mor` log line — the atomic
        point, exactly like every other commit."""
        path = self._table_dir(schema, name)
        self._enforce_constraints(updates, schema, name)
        # base BEFORE the positional read: the DV names row positions
        # in the files of the state it read, so any commit after that
        # state must conflict (see overwrite_partitions `_base`)
        base, data_dir = self._next_data_dir(schema, name)
        current = self.read(spark, schema, name, with_positions=True)
        matches = current.join(
            updates.select(*keys).distinct(), keys, "left_semi"
        ).select(
            F.col("__dv_file").alias("file_path"),
            F.col("__dv_pos").alias("row_index"),
        )
        dv_dir = data_dir + "-dv"
        matches.coalesce(1).write.mode("overwrite").parquet(dv_dir)
        self._to_physical(updates, schema, name).write.mode(
            "overwrite"
        ).parquet(data_dir)
        self._commit(
            schema, name,
            self._attach_stats(
                dict(
                    op="update_mor",
                    data_dir=os.path.relpath(data_dir, path),
                    dv_dir=os.path.relpath(dv_dir, path),
                ),
                data_dir,
                schema,
                name,
            ),
            base,
        )

    def _delete_where_dv(
        self,
        spark: SparkSession,
        schema: str,
        name: str,
        condition,
        predicates: list[tuple] | None = None,
    ) -> bool:
        """Merge-on-read delete: commit the matching rows' physical
        positions as a deletion vector (one parquet write, no data
        rewritten).  Reading with positions already excludes earlier
        DVs, so vectors never name an already-deleted row twice.  With
        `predicates`, the positional scan routes through `read_where`
        (stats/bloom/partition pruning) — it already applies the same
        conjunction as its residual filter, so no re-filter needed."""
        path = self._table_dir(schema, name)
        # base BEFORE the positional read (see _merge_into_mor)
        base, data_dir = self._next_data_dir(schema, name)
        if predicates is not None:
            scanned = self.read_where(
                spark, schema, name, predicates, with_positions=True
            )
        else:
            scanned = self.read(
                spark, schema, name, with_positions=True
            ).filter(condition)  # TRUE rows only (3-valued logic)
        matches = scanned.select(
            F.col("__dv_file").alias("file_path"),
            F.col("__dv_pos").alias("row_index"),
        )
        if matches.limit(1).count() == 0:
            return False  # no matches → no commit (CoW parity)
        matches.coalesce(1).write.mode("overwrite").parquet(data_dir)
        self._commit(
            schema, name,
            dict(
                op="delete_dv",
                data_dir=os.path.relpath(data_dir, path),
            ),
            base,
        )
        return True

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

    # -- multi-table transactions (S11) ------------------------------------

    def transaction(self) -> "Transaction":
        """Atomic multi-table commit (the DuckLake cross-table
        transaction surface, `1_sprint3…ipynb` sprint-3 txn cells):

            with lake.transaction() as txn:
                txn.overwrite_partitions(fact, "silver", "fact", "d")
                txn.append(audit_row, "silver", "data_quality_log")

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

    def _heal_from_journal(self, schema: str, name: str) -> None:
        """Append any table-log lines a crashed committer never wrote.
        Every read/write path calls snapshots() (and thus this) before
        assigning new versions, so healed lines keep log order."""
        journal = self._journal_entries()
        if not journal:
            return
        path = self._table_dir(schema, name)
        # check-and-append under the table lock so two concurrent
        # healers can't both append the same missing line
        with self._table_lock(path):
            raw = self._raw_snapshots(schema, name)
            seen = {e.get("txn_id") for e in raw if e.get("txn_id")}
            for j in journal:
                if j["txn_id"] in seen:
                    continue
                for t in j["tables"]:
                    if t["schema"] == schema and t["name"] == name:
                        self._append_log_line(
                            path, txn_id=j["txn_id"], **t["entry"]
                        )

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
        `maxFileSize` knob, ~1 GiB in production): the live size from
        `describe_detail` (pure log arithmetic) divides into a file
        count — per partition when partitioned (averaged over live
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
        before = self._count_live_files(schema, name)
        df = self.read(spark, schema, name)
        # rewrite in PHYSICAL names (the namespace every data dir
        # shares); sort/zorder args arrive logical and translate the
        # same way.  Dropped columns are already absent from the read
        # frame, so compaction is also the point their bytes actually
        # leave the files.
        cmap, _ = self.column_state(schema, name)
        df = self._to_physical(df, schema, name)
        _inv = {l: p for p, l in cmap.items()}
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
            _pm, extras_live, _dvs = self._manifest(schema, name)
            if any(_count_data_files(x) > 0 for x in extras_live):
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
                    v
                    for v in self._manifest(schema, name)[0]
                    if partition_survives(spec, preds, v)
                }
            df = df.filter(
                self._pvalue_match(
                    F.col(partition_col), sorted(values),
                    self.null_token(schema, name),
                )
            )
        if target_file_bytes is not None:
            import math

            detail = self.describe_detail(schema, name)
            live_parts = len(self._manifest(schema, name)[0]) or 1
            denom = live_parts if partition_col is not None else 1
            target_files_per_partition = max(
                1,
                math.ceil(
                    detail["size_bytes"] / denom / target_file_bytes
                ),
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
                n_parts = len(self._manifest(schema, name)[0]) or 1
                compacted = df.repartition(
                    n_parts * target_files_per_partition,
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
            parts = sorted(
                _token_of(r[0], self.null_token(schema, name))
                for r in df.select(partition_col).distinct().collect()
            )
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
        """Data files reachable from the LATEST manifest only: each
        live partition's slice of its version directory plus the
        additive (append/MoR-update) dirs.  Superseded version dirs —
        still on disk for time travel or awaiting the vacuum grace —
        are not layout; counting them made OPTIMIZE metrics depend on
        reclamation timing."""
        part_map, extras, _dvs = self._manifest(schema, name)
        nt = self.null_token(schema, name)
        n = 0
        seen: set[str] = set()
        for value, (d, pcol) in part_map.items():
            subs = _pvalue_subdirs(d, pcol, [value], nt)
            for p in subs if subs else [d]:
                if p not in seen:
                    seen.add(p)
                    n += _count_data_files(p)
        for d in extras:
            if d not in seen:
                seen.add(d)
                n += _count_data_files(d)
        return n

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
        import shutil

        data_root = os.path.join(self._table_dir(schema, name), "_data")
        if not os.path.isdir(data_root):
            return {"dirs": [], "bytes": 0}
        entries = self.snapshots(schema, name)
        if not entries:
            return {"dirs": [], "bytes": 0}
        keep: set[str] = set()
        last_ref: dict[str, int] = {}
        for v in range(entries[-1]["version"] + 1):
            part_map, extra, dvs = self._manifest(schema, name, v)
            dirs = {d for d, _ in part_map.values()} | set(extra) | set(dvs)
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
        self, schema: str, name: str, version: int | None = None
    ) -> tuple[
        dict[str, tuple[str, str]], dict[str, dict[str, list[str]]],
        list[str],
    ]:
        """Replay the commit log up to `version` (inclusive; None =
        latest) → (partition → (data_dir, partition_col), extra dirs,
        live deletion-vector dirs).  Pure log arithmetic — no
        filesystem listing, no Spark job.  Seeds from the newest
        checkpoint ≤ `version` when one exists, replaying only the log
        suffix after it."""
        if version is not None:
            mg = self._migration_guard_version(schema, name)
            if mg is not None and version < mg:
                raise HistoryUnavailableError(
                    f"{schema}.{name}: version {version} predates the "
                    f"null-token migration (commit {mg}); its log "
                    "lines speak the legacy 'None' identity and cannot "
                    "be re-read under the v2 scheme without guessing "
                    "which physical form they meant"
                )
        entries = self.snapshots(schema, name)
        path = self._table_dir(schema, name)
        cp = self._load_checkpoint(path, version)
        if cp is None:
            return self._replay(entries, path, version)
        seed = (
            {
                value: (os.path.join(path, d), pcol)
                for value, (d, pcol) in cp["part_map"].items()
            },
            {
                os.path.join(path, d): excl
                for d, excl in self._norm_extra(cp["extra"]).items()
            },
            [os.path.join(path, d) for d in cp.get("dvs", [])],
        )
        return self._replay(
            entries, path, version, seed=seed, start_after=cp["version"]
        )

    def _checkpoints_dir(self, path: str) -> str:
        return os.path.join(path, "_checkpoints")

    def _load_checkpoint(
        self, path: str, version: int | None
    ) -> dict | None:
        """Newest checkpoint with version ≤ `version` (None = any)."""
        d = self._checkpoints_dir(path)
        if not os.path.isdir(d):
            return None
        best = None
        for fname in os.listdir(d):
            if not (fname.startswith("v") and fname.endswith(".json")):
                continue
            v = int(fname[1:-5])
            if version is not None and v > version:
                continue
            if best is None or v > best:
                best = v
        if best is None:
            return None
        with open(os.path.join(d, f"v{best:08d}.json")) as f:
            return json.load(f)

    def _write_checkpoint(self, path: str, entries: list[dict]) -> None:
        """Snapshot the replayed manifest at the log head (caller holds
        the table lock).  Atomic via tmp + rename; data dirs are stored
        relative to the table so the tree stays relocatable."""
        part_map, extra, dvs = self._replay(entries, path, None)
        version = entries[-1]["version"]
        cp = {
            "version": version,
            "part_map": {
                value: [os.path.relpath(d, path), pcol]
                for value, (d, pcol) in part_map.items()
            },
            "extra": {
                os.path.relpath(d, path): excl
                for d, excl in extra.items()
            },
            "dvs": [os.path.relpath(d, path) for d in dvs],
        }
        d = self._checkpoints_dir(path)
        os.makedirs(d, exist_ok=True)
        target = os.path.join(d, f"v{version:08d}.json")
        tmp = target + f".tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cp, f)
        os.replace(tmp, target)

    @staticmethod
    def _norm_extra(raw) -> dict[str, dict[str, list[str]]]:
        """Normalize an additive-dir manifest: dir → {partition_col →
        sorted excluded partition values}.  Accepts the legacy bare
        list-of-dirs shape (pre-exclusion checkpoints) as 'no
        exclusions'."""
        if isinstance(raw, dict):
            return {
                d: {p: sorted(v) for p, v in excl.items()}
                for d, excl in raw.items()
            }
        return {d: {} for d in raw}

    def _replay(
        self,
        entries: list[dict],
        path: str,
        version: int | None,
        seed: tuple[dict, dict, list] | None = None,
        start_after: int = -1,
    ) -> tuple[
        dict[str, tuple[str, str]], dict[str, dict[str, list[str]]],
        list[str],
    ]:
        part_map: dict[str, tuple[str, str]] = {}
        # additive (append / MoR-update) dirs → partition exclusions:
        # a later partition OVERWRITE supersedes same-partition rows
        # that live in OLDER additive dirs, so each overwritten value
        # is recorded here and filtered out at read time (a newer
        # append of the same partition is unaffected — its dir enters
        # the map after the overwrite, with no exclusion)
        extra: dict[str, dict[str, list[str]]] = {}
        dvs: list[str] = []  # live deletion-vector dirs
        if seed is not None:
            part_map, extra, dvs = (
                dict(seed[0]), self._norm_extra(seed[1]), list(seed[2]),
            )
        for e in entries:
            if e["version"] <= start_after:
                continue
            if version is not None and e["version"] > version:
                break
            op = e["operation"]
            if op == "restore":
                # reset to the state as of the restored version — the
                # rollback is one log line, no data is copied
                part_map, extra, dvs = self._replay(
                    entries, path, e["of_version"]
                )
                continue
            d = e.get("data_dir")
            if d is None:
                continue
            d = os.path.join(path, d)
            if op in ("overwrite", "compact"):
                # full rewrite: data was read THROUGH the DV filter, so
                # the new files are clean — vectors reset
                part_map, extra, dvs = {}, {d: {}}, []
            elif op == "append":
                extra[d] = {}
            elif op == "delete_dv":
                dvs.append(d)
            elif op == "update_mor":
                # merge-on-read MERGE: one atomic line = new rows
                # (append semantics) + a vector deleting their old
                # versions
                extra[d] = {}
                dvs.append(os.path.join(path, e["dv_dir"]))
            elif op in ("overwrite_partitions", "compact_partitioned"):
                if op == "compact_partitioned":
                    part_map, extra, dvs = {}, {}, []
                pcol = e["partition_col"]
                parts = [str(p) for p in e["partitions"]]
                for p in parts:
                    part_map[p] = (d, pcol)
                # supersede these partitions in every OLDER live
                # additive dir (rows written there now have a newer
                # image in `d` — without this they'd resurrect)
                for excl in extra.values():
                    excl[pcol] = sorted(
                        set(excl.get(pcol, ())) | set(parts)
                    )
                # a partition overwrite leaves vectors in place: DV rows
                # referencing superseded files go inert (their file
                # paths are no longer scanned); compaction reclaims them
        return part_map, extra, dvs

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
        right rows after the whole table tree is relocated, same as
        the checkpoint/log relative-path contract."""
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
        live = [d for d in dvs if _count_data_files(d) > 0]
        if not live:
            return None
        return spark.read.parquet(*live).select(
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
    def _pvalue_match(c, values, null_token: str = "None") -> "F.Column":
        """Membership test of a partition COLUMN against the catalog's
        canonical string tokens.  The null partition's token is the
        table's `null_token` ('None' on legacy tables, the hive
        sentinel on format-v2 tables — shared by the explicit-
        `partitions` path and the directory-derived path); plain
        isin() is NULL-blind (NULL isin → NULL, silently dropped/kept
        depending on polarity), so the null token must match NULL rows
        explicitly.  On legacy tables a LITERAL string value 'None'
        shares partition identity with NULL (documented, write-guarded);
        on format-v2 tables the two are distinct — only a literal
        string equal to the sentinel itself would collide (hive's own
        universal ambiguity, undetectable from directory names)."""
        vals = list(values)
        cond = c.cast("string").isin(vals)
        if null_token in vals:
            cond = cond | c.isNull()
        return F.coalesce(cond, F.lit(False))

    def _exclusion_filter(
        self, f: DataFrame, excl: dict[str, list[str]],
        schema: str, name: str,
    ) -> DataFrame:
        """Drop rows of superseded partitions from an additive-dir
        frame (see `_replay`: a partition overwrite after an append
        supersedes the append's same-partition rows).  NULL-safe both
        ways: a NULL-keyed row is excluded iff the null token 'None'
        was overwritten (otherwise it survives — `_pvalue_match` owns
        that rule); a frame missing the column entirely
        (pre-evolution append) passes through — unless it's a
        hidden-spec column, which is re-derived from its source."""
        spec = self.partition_spec(schema, name)
        nt = self.null_token(schema, name)
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
            f = f.filter(~self._pvalue_match(c, vals, nt))
        return f

    def read(
        self,
        spark: SparkSession,
        schema: str,
        name: str,
        version: int | None = None,
        with_positions: bool = False,
        partition_values: list[str] | None = None,
    ) -> DataFrame:
        """Read the table as of `version` (None = latest) by unioning
        each commit directory's still-live slice.  Superseded partitions
        are excluded with partition-column filters — directory-level
        pruning, no data rows ever read from dead partitions.  Live
        deletion vectors (merge-on-read deletes) are anti-joined out;
        `with_positions=True` keeps the physical (__dv_file, __dv_pos)
        columns — the handle `delete_where(mode="merge_on_read")` uses
        to name rows.

        `partition_values` restricts the read to those partitions at
        the DIRECTORY level: only the named `<pcol>=<value>` subdirs
        are handed to Spark (the planned file set — `inputFiles()` —
        shrinks, nothing else is even listed; the point-lookup shape
        the persistent IVF probe runs).  Unpartitioned commit dirs
        (e.g. not-yet-optimized appends) can't dir-prune and fall back
        to a row filter."""
        part_map, extra, dvs = self._manifest(schema, name, version)
        self._require_dirs(
            schema, name, version,
            {d for d, _ in part_map.values()} | set(extra) | set(dvs),
        )
        nt = self.null_token(schema, name)
        tag = with_positions or bool(dvs)
        wanted = (
            None if partition_values is None else set(partition_values)
        )
        pcol_any: str | None = None
        by_dir: dict[str, tuple[str, list[str]]] = {}
        for value, (d, pcol) in part_map.items():
            pcol_any = pcol
            if wanted is not None and value not in wanted:
                continue
            # a partition superseded to EMPTY (delete_where removed all
            # its rows) maps to a version dir holding no files for it —
            # or no files at all; skip unreadable dirs
            if _count_data_files(d) == 0:
                continue
            by_dir.setdefault(d, (pcol, []))[1].append(value)

        def _subdirs(d: str, pcol: str, v: str) -> list[str]:
            # canonical matching (_canon_token): the table's null
            # token matches the hive sentinel directory (and, on
            # legacy tables, a literal 'pcol=None' dir), and
            # hive-escaped names (e.g. 'a%3Ab' for 'a:b') match their
            # canonical form
            return _pvalue_subdirs(d, pcol, [v], nt)

        def _partitioned(d: str, pcol: str, values: list[str]) -> DataFrame:
            paths = [d]
            if wanted is not None:
                # point the scan at the surviving value subdirs only;
                # a value whose subdir is absent in this commit dir
                # contributes nothing (and must not fail the listing)
                paths = [
                    p
                    for v in sorted(values)
                    for p in _subdirs(d, pcol, v)
                ]
                if not paths:
                    return None
            return _read_commit_dir(
                spark, d, paths, base_path=True
            ).filter(self._pvalue_match(F.col(pcol), values, nt))

        frames = [
            f
            for d, (pcol, values) in sorted(by_dir.items())
            if (f := _partitioned(d, pcol, values)) is not None
        ]
        for d in sorted(extra):
            # an append/overwrite of an EMPTY frame commits a directory
            # with no parquet files; reading it would fail schema
            # inference, so skip — the commit stays in history
            if _count_data_files(d) == 0:
                continue
            f = self._exclusion_filter(
                _read_commit_dir(spark, d), extra[d], schema, name
            )
            if wanted is not None and pcol_any is not None:
                f = f.filter(
                    self._pvalue_match(
                        F.col(pcol_any), sorted(wanted), nt
                    )
                )
            frames.append(f)
        if not frames and wanted is not None:
            # probe of values the table simply doesn't hold: an empty
            # frame with the table's schema, not an error
            return self.read(
                spark, schema, name, version, with_positions
            ).filter(F.lit(False))
        if not frames:
            raise FileNotFoundError(
                f"{schema}.{name} has no data at version {version}"
            )
        frames = self._fill_added(frames, schema, name, version)
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
        return self._drop_hidden(
            self._apply_column_mapping(out, schema, name, version)
        )

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

        Four pruning layers compose here: superseded-partition
        exclusion (directory), footer-stats skipping (file — this),
        Bloom-filter probes for `=`/`in` on indexed columns (file —
        `add_bloom_index`, the high-cardinality case where every
        file's range overlaps), and parquet row-group zonemaps (page,
        free once files are sorted/z-ordered by `compact`).  At 100 TB
        the file layers are what turn a needle query from "schedule
        80k tasks" into "schedule the 3 files whose range matches".
        """
        from .bloom import bloom_survives
        from .skipping import file_survives, predicates_to_column

        part_map, extra, dvs = self._manifest(schema, name, version)
        path = self._table_dir(schema, name)
        nt = self.null_token(schema, name)
        stats_by_dir: dict[str, list[dict]] = {
            os.path.join(path, e["data_dir"]): e["files"]
            for e in self.snapshots(schema, name)
            if e.get("data_dir") is not None and e.get("files") is not None
        }
        # predicates arrive in LOGICAL names; footer stats and bloom
        # filters are keyed by the PHYSICAL names the files store —
        # translate for the pruning layers, keep the logical form for
        # the residual filter (applied after the mapping projection)
        _cmap, _ = self.column_state(schema, name, version)
        _inv = {l: p for p, l in _cmap.items()}
        phys_preds = [
            (_inv.get(p[0], p[0]), *p[1:]) for p in predicates
        ]
        residual = predicates_to_column(predicates)
        bloom_cfg = self.bloom_index(schema, name)

        def surviving(d: str) -> list[str] | None:
            """Absolute paths of files worth reading, or None for
            'no stats — read the whole directory'."""
            files = stats_by_dir.get(d)
            if files is None:
                return None
            return [
                os.path.join(d, f["path"])
                for f in files
                if file_survives(f, phys_preds)
                and bloom_survives(f, phys_preds, bloom_cfg)
            ]

        by_dir: dict[str, tuple[str, list[str]]] = {}
        for value, (d, pcol) in part_map.items():
            if _count_data_files(d) == 0:
                continue
            by_dir.setdefault(d, (pcol, []))[1].append(value)
        # hidden-partitioning (set_partition_spec): predicates on the
        # RAW source column prune partitions through the transform —
        # equality via the exact value mapping, ranges through the
        # order-preserving transforms.  Like every layer here it only
        # REMOVES partitions the transform proves empty of matches;
        # the residual filter still re-applies the real predicate.
        p_spec = self.partition_spec(schema, name)
        if p_spec is not None:
            from .transforms import (
                localize_predicates,
                partition_survives,
            )

            # naive temporal literals read in the SESSION timezone —
            # exactly how the residual filter will interpret them
            p_preds = localize_predicates(
                predicates,
                spark.conf.get("spark.sql.session.timeZone"),
            )
            by_dir = {
                d: (pcol, kept)
                for d, (pcol, values) in by_dir.items()
                if (
                    kept := (
                        [
                            v
                            for v in values
                            if partition_survives(p_spec, p_preds, v)
                        ]
                        if pcol == p_spec.hidden_col
                        else values
                    )
                )
            }
        frames = []
        for d, (pcol, values) in sorted(by_dir.items()):
            keep = surviving(d)
            if (
                p_spec is not None
                and pcol == p_spec.hidden_col
                and keep is None
            ):
                # no footer stats: still prune at the DIRECTORY level —
                # hand Spark only the surviving value subdirs (matched
                # canonically: escaped / NULL-sentinel dir names count)
                keep = _pvalue_subdirs(d, pcol, values, nt)
            elif (
                p_spec is not None
                and pcol == p_spec.hidden_col
                and keep
            ):
                # intersect file-stats survivors with partition
                # pruning — the file's dir segment is matched through
                # _canon_token, never by constructing the name (an
                # escaped or NULL-sentinel directory would not match
                # its canonical token and its rows would silently drop)
                want = set(values)
                pfx = f"{pcol}="
                keep = [
                    p
                    for p in keep
                    if any(
                        seg.startswith(pfx)
                        and _canon_token(seg[len(pfx):], nt) in want
                        for seg in os.path.relpath(p, d).split(
                            os.sep
                        )[:-1]
                    )
                ]
            src = (
                _read_commit_dir(spark, d, base_path=True)
                if keep is None
                else _read_commit_dir(spark, d, keep, base_path=True)
                if keep
                else None
            )
            if src is not None:
                frames.append(
                    src.filter(
                        self._pvalue_match(F.col(pcol), values, nt)
                    )
                )
        hidden_pfx = (
            None if p_spec is None else f"{p_spec.hidden_col}="
        )
        for d in sorted(extra):
            if _count_data_files(d) == 0:
                continue
            keep = surviving(d)
            if hidden_pfx is not None and any(
                s.startswith(hidden_pfx) for s in os.listdir(d)
            ):
                # spec-partitioned ADDITIVE dir (append/overwrite on a
                # hidden-spec table): transform-prune its value subdirs
                # exactly like the part_map dirs above.  `live` keeps
                # the RAW directory tokens (that is what the file
                # paths carry) but every decision — transform pruning,
                # supersede exclusion — runs on the CANONICAL token,
                # so escaped / NULL-sentinel dirs are neither wrongly
                # pruned (value_of(lit) is canonical) nor wrongly kept
                excl = set(extra[d].get(p_spec.hidden_col, ()))
                live = {
                    raw
                    for s in os.listdir(d)
                    if s.startswith(hidden_pfx)
                    and partition_survives(
                        p_spec,
                        p_preds,
                        _canon_token(raw := s[len(hidden_pfx):], nt),
                    )
                    and _canon_token(raw, nt) not in excl
                }
                if keep is None:
                    keep = [
                        os.path.join(d, f"{hidden_pfx}{v}")
                        for v in sorted(live)
                    ]
                else:
                    allowed = {f"{hidden_pfx}{v}" for v in live}
                    keep = [
                        p
                        for p in keep
                        if allowed
                        & set(os.path.relpath(p, d).split(os.sep)[:-1])
                    ]
                if keep:
                    frames.append(
                        self._exclusion_filter(
                            _read_commit_dir(
                                spark, d, keep, base_path=True
                            ),
                            extra[d], schema, name,
                        )
                    )
                continue
            if keep is None:
                frames.append(
                    self._exclusion_filter(
                        _read_commit_dir(spark, d), extra[d], schema, name
                    )
                )
            elif keep:
                frames.append(
                    self._exclusion_filter(
                        _read_commit_dir(spark, d, keep),
                        extra[d], schema, name,
                    )
                )
        if not frames:
            # every file provably irrelevant: an empty frame with the
            # table's schema (Catalyst folds the FALSE filter away —
            # no file is opened)
            return self.read(
                spark, schema, name, version, with_positions
            ).filter(F.lit(False))
        frames = self._fill_added(frames, schema, name, version)
        tag = bool(dvs) or with_positions
        if tag:
            frames = [self._with_positions(f, path) for f in frames]
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        if tag:
            out = self._apply_dvs(
                spark, out, dvs, keep_positions=with_positions
            )
        out = self._apply_column_mapping(out, schema, name, version)
        return self._drop_hidden(out.filter(residual))

    def _require_dirs(
        self, schema: str, name: str, version, dirs: set[str]
    ) -> None:
        """Versioned reads must see every directory their manifest
        references; a missing one means vacuum reclaimed that history.
        O(|manifest|) stat calls — no listing, no data read."""
        missing = sorted(d for d in dirs if not os.path.isdir(d))
        if missing:
            raise HistoryUnavailableError(
                f"{schema}.{name} (version {'latest' if version is None else version}): "
                f"{len(missing)} referenced data director"
                f"{'y is' if len(missing) == 1 else 'ies are'} gone — "
                f"reclaimed by vacuum (e.g. {os.path.relpath(missing[0], self.root)}); "
                "time travel / CDC cannot reach past retention — "
                "recompute from the current state instead"
            )

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
        part_map, extra, dvs = self._manifest(schema, name)
        live_dirs = {d for d, _ in part_map.values()} | set(extra) | set(dvs)
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
        old_map, old_extra, old_dvs = self._manifest(
            schema, name, from_version
        )
        new_map, new_extra, new_dvs = self._manifest(
            schema, name, to_version
        )
        # vacuum may have reclaimed the from-side's files (e.g. a
        # default OPTIMIZE+VACUUM landed inside the window): refuse to
        # serve a diff that would misreport surviving rows as inserts
        self._require_dirs(
            schema, name, from_version,
            {d for d, _ in old_map.values()} | set(old_extra) | set(old_dvs)
            | {d for d, _ in new_map.values()} | set(new_extra)
            | set(new_dvs),
        )

        # dirs holding files whose DV coverage changed between versions
        dv_delta = [
            d
            for d in set(old_dvs).symmetric_difference(new_dvs)
        ]
        dv_touched: set[str] = set()
        if dv_delta:
            keys = self._read_dv_keys(spark, dv_delta)
            if keys is not None:
                tdir = self._table_dir(schema, name)
                touched_files = [
                    os.path.join(tdir, r[0])  # stored table-relative
                    for r in keys.select("__dv_file").distinct().collect()
                ]
                all_dirs = {d for d, _ in old_map.values()} | set(old_extra) \
                    | {d for d, _ in new_map.values()} | set(new_extra)
                for fpath in touched_files:
                    for d in all_dirs:
                        if fpath.startswith(d + os.sep):
                            dv_touched.add(d)

        def changed(side_map, side_extra, other_map, other_extra, side_dvs):
            """Slices on this side whose mapping OR DV coverage differs
            — each read through this side's deletion vectors."""
            by_dir: dict[str, tuple[str, list[str]]] = {}
            for value, (d, pcol) in side_map.items():
                if (
                    other_map.get(value) != (d, pcol) or d in dv_touched
                ) and _count_data_files(d) > 0:  # emptied-partition commit
                    by_dir.setdefault(d, (pcol, []))[1].append(value)
            dirs = [
                d
                for d in side_extra
                if (
                    d not in other_extra
                    # an exclusion added between the versions changes
                    # the dir's LIVE slice (a partition overwrite
                    # superseded some of its rows) — diff it
                    or side_extra[d] != other_extra[d]
                    or d in dv_touched
                )
                and _count_data_files(d) > 0
            ]
            frames = [
                _read_commit_dir(spark, d, base_path=True)
                .filter(
                    self._pvalue_match(
                        F.col(pcol), values,
                        self.null_token(schema, name),
                    )
                )
                for d, (pcol, values) in sorted(by_dir.items())
            ] + [
                self._exclusion_filter(
                    _read_commit_dir(spark, d), side_extra[d], schema, name
                )
                for d in sorted(dirs)
            ]
            frames = self._fill_added(frames, schema, name, to_version)
            if side_dvs and frames:
                tdir = self._table_dir(schema, name)
                frames = [
                    self._with_positions(f, tdir) for f in frames
                ]
            out = None
            for f in frames:
                out = (
                    f
                    if out is None
                    else out.unionByName(f, allowMissingColumns=True)
                )
            if out is not None and side_dvs:
                out = self._apply_dvs(spark, out, side_dvs)
            if out is None:
                return None
            # both sides surface the TO-version logical names so the
            # diff compares columns consistently across a rename; a
            # column dropped inside the window simply leaves the diff
            # (its deletions are invisible post-drop — same as Delta
            # CDF after a schema change)
            return self._drop_hidden(
                self._apply_column_mapping(out, schema, name, to_version)
            )

        old_df = changed(old_map, old_extra, new_map, new_extra, old_dvs)
        new_df = changed(new_map, new_extra, old_map, old_extra, new_dvs)
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
        physical row count, and bytes, computed from LOG ARITHMETIC
        plus the commit entries' footer stats: no Spark job, no data
        read.  `num_rows` is the physical count (before deletion-
        vector filtering; `num_deletion_vectors` says whether any
        apply) and is None if any live file predates stats collection.
        """
        part_map, extra, dvs = self._manifest(schema, name)
        path = self._table_dir(schema, name)
        nt = self.null_token(schema, name)
        entries = self.snapshots(schema, name)
        stats_by_dir = {
            os.path.join(path, e["data_dir"]): e["files"]
            for e in entries
            if e.get("data_dir") is not None and e.get("files") is not None
        }

        def live_files(d: str, values: list[str] | None, pcol: str | None):
            """(relpath) files of `d` belonging to live partitions."""
            files = stats_by_dir.get(d)
            if files is None:
                return None  # pre-stats commit: unknown
            if values is None:
                return files
            # canonical match on the leading dir segment (escaped /
            # NULL-sentinel names must count toward their partition)
            want = set(values)
            pfx = f"{pcol}="
            out = []
            for f in files:
                seg = f["path"].split(os.sep, 1)[0]
                if seg.startswith(pfx) and _canon_token(
                    seg[len(pfx):], nt
                ) in want:
                    out.append(f)
            return out

        by_dir: dict[str, tuple[str, list[str]]] = {}
        for value, (d, pcol) in part_map.items():
            by_dir.setdefault(d, (pcol, []))[1].append(value)
        num_files = 0
        num_rows: int | None = 0
        size_bytes = 0
        partition_cols: set[str] = set()
        slices = [
            (d, values, pcol) for d, (pcol, values) in by_dir.items()
        ] + [(d, None, None) for d in extra]
        for d, values, pcol in slices:
            if pcol:
                partition_cols.add(pcol)
            files = live_files(d, values, pcol)
            if files is None:
                # fall back to walking the dir; rows stay unknown
                num_rows = None
                for root, _dirs, fnames in os.walk(d):
                    for fn in fnames:
                        if fn.endswith(".parquet"):
                            num_files += 1
                            size_bytes += os.path.getsize(
                                os.path.join(root, fn)
                            )
                continue
            for f in files:
                num_files += 1
                if num_rows is not None:
                    num_rows += f["rows"]
                fpath = os.path.join(d, f["path"])
                if os.path.exists(fpath):
                    size_bytes += os.path.getsize(fpath)
        return {
            "name": f"{schema}.{name}",
            "version": entries[-1]["version"] if entries else None,
            "num_files": num_files,
            "num_rows": num_rows,
            "size_bytes": size_bytes,
            "num_deletion_vectors": len(
                [d for d in dvs if _count_data_files(d) > 0]
            ),
            "partition_columns": sorted(partition_cols),
            "partition_spec": (
                f"{s.transform}({'' if s.n is None else f'{s.n}, '}"
                f"{s.source})"
                if (s := self.partition_spec(schema, name)) is not None
                else None
            ),
            "constraints": self.constraints(schema, name),
        }

    def recommend_compaction(
        self,
        schema: str,
        name: str,
        small_file_bytes: int = 32 << 20,
        min_small_files: int = 4,
    ) -> dict:
        """OPTIMIZE advisor (Delta auto-compaction's decision function,
        surfaced as a queryable recommendation): per live partition,
        how many live files there are and how many are SMALL, from log
        arithmetic + driver-side `stat()` only — no Spark job, no data
        read.  At 100 TB the small-file problem is an ops loop
        (streaming appends accrete files until scans schedule tens of
        thousands of splits); this is the loop's sensor.  On a
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
        `small_file_bytes`; any additive (unpartitioned append) dir's
        `<pcol>=<value>` subdirs count toward their partitions, and
        everything else in it — flat top-level files AND files under
        unrecognized subdirs — lands in the `<unpartitioned>` detail
        row.  `unpartitioned_dirs` counts only dirs holding such
        UNATTRIBUTED data files (a dir whose every data file attributed
        to a partition does not appear; compact() folds all of them in
        regardless).
        """
        part_map, extra, _dvs = self._manifest(schema, name)
        nt = self.null_token(schema, name)
        detail: dict[str, dict] = {}

        def account(key: str, path: str) -> None:
            sz = os.path.getsize(path)
            row = detail.setdefault(
                key, {"files": 0, "small": 0, "bytes": 0}
            )
            row["files"] += 1
            row["bytes"] += sz
            if sz < small_file_bytes:
                row["small"] += 1

        def scan(d: str, value: str, pcol: str) -> None:
            for base in _pvalue_subdirs(d, pcol, [value], nt):
                for root, _dirs, fnames in os.walk(base):
                    for fn in fnames:
                        if fn.endswith(".parquet"):
                            account(value, os.path.join(root, fn))

        for value, (d, pcol) in part_map.items():
            scan(d, value, pcol)
        pcol_any = next(
            (pcol for _v, (_d, pcol) in part_map.items()), None
        )
        unattributed_dirs = 0
        for d in extra:
            if not os.path.isdir(d):
                continue
            stray = 0
            for root, dirs, fnames in os.walk(d):
                if root == d and pcol_any is not None:
                    # peel attributed <pcol>=<value> subdirs out of the
                    # walk; they count toward their partitions — keyed
                    # by CANONICAL token (an escaped or NULL-sentinel
                    # dir name would otherwise self-miss in scan's
                    # _pvalue_subdirs match and detail under a raw key)
                    for sub in sorted(dirs):
                        if sub.startswith(f"{pcol_any}="):
                            scan(
                                d,
                                _canon_token(sub.split("=", 1)[1], nt),
                                pcol_any,
                            )
                    dirs[:] = [
                        s for s in dirs
                        if not s.startswith(f"{pcol_any}=")
                    ]
                for fn in fnames:
                    if fn.endswith(".parquet"):
                        account(
                            "<unpartitioned>", os.path.join(root, fn)
                        )
                        stray += 1
            if stray:
                unattributed_dirs += 1
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
        entries = self.snapshots(schema, name)
        if not entries:
            raise FileNotFoundError(f"{schema}.{name} does not exist")
        resolved = (
            entries[-1]["version"] if version is None else version
        )
        part_map, extra, dvs = self._manifest(schema, name, version)
        self._require_dirs(
            schema, name, version,
            {d for d, _ in part_map.values()} | set(extra) | set(dvs),
        )
        live_dvs = [d for d in dvs if _count_data_files(d) > 0]
        if live_dvs:
            raise ManifestExportError(
                f"{schema}.{name}@v{resolved} has {len(live_dvs)} live "
                "deletion-vector dir(s); a file manifest cannot express "
                "row-position deletes - compact() first"
            )
        if any(excl for excl in extra.values()):
            raise ManifestExportError(
                f"{schema}.{name}@v{resolved} has additive-dir partition "
                "exclusions (a rewrite superseded rows inside append "
                "files); compact() first"
            )
        bad_adds = [
            a for a in self._added_columns(schema, name, version)
            if a["default"] is not None
        ]
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
        hive_files: list[str] = []
        flat_files: list[str] = []
        partition_cols: set[str] = set()
        nt = self.null_token(schema, name)
        for value, (d, pcol) in sorted(part_map.items()):
            partition_cols.add(pcol)
            # canonical subdir match: an escaped or NULL-sentinel
            # partition directory must land in the manifest too —
            # a constructed-name isdir() would skip it and export a
            # silently incomplete file list
            for sub in _pvalue_subdirs(d, pcol, [value], nt):
                for root, _dirs, fnames in os.walk(sub):
                    hive_files.extend(
                        os.path.join(root, fn)
                        for fn in fnames
                        if fn.endswith(".parquet")
                    )
        for d in sorted(extra):
            for root, _dirs, fnames in os.walk(d):
                for fn in fnames:
                    if not fn.endswith(".parquet"):
                        continue
                    p = os.path.join(root, fn)
                    # appends under a hidden/explicit spec DO lay out
                    # by <pcol>=<value> subdirs — classify by path
                    if "=" in os.path.relpath(p, d):
                        hive_files.append(p)
                    else:
                        flat_files.append(p)
        mapping, dropped = self.column_state(schema, name, version)
        spec = self.partition_spec(schema, name)
        manifest = {
            "table": f"{schema}.{name}",
            "version": resolved,
            "files": sorted(hive_files + flat_files),
            "hive_files": sorted(hive_files),
            "flat_files": sorted(flat_files),
            # physical name (as stored in files / hive paths) → logical
            "column_mapping": mapping,
            "dropped_physical_columns": sorted(dropped),
            # read with union-by-name: schema-evolved commits may add
            # NULL-backed columns missing from older files
            "union_by_name": True,
            # partition value lives in the hive path, not the file
            "hive_partition_columns": sorted(partition_cols),
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
                for a in self._added_columns(schema, name, version)
            ],
            # type-widened columns: files keep their narrow physical
            # type (immutable), so consumers must CAST after the read
            # — union_by_name unifies mixed generations on its own,
            # but a table whose files are all still narrow would
            # otherwise surface the narrow type.  Keyed by PHYSICAL
            # name (pre-mapping), values are Spark/ANSI type names.
            "widened_columns": self._widened(schema, name, version),
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
        self._heal_from_journal(schema, name)
        return self._raw_snapshots(schema, name)

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
        if (
            self.checkpoint_interval
            and (version + 1) % self.checkpoint_interval == 0
        ):
            self._write_checkpoint(
                path,
                self._raw_snapshots(*_schema_name_from(path, self.root)),
            )


def _schema_name_from(path: str, root: str) -> tuple[str, str]:
    rel = os.path.relpath(path, root)
    schema, name = rel.split(os.sep)[:2]
    return schema, name


class Transaction:
    """Staged multi-table write set; see `Lakehouse.transaction()`.

    Data directories are written eagerly (named `_data/t<txn_id>`, so
    concurrent version numbering never collides); log visibility is
    deferred to `_commit`, whose FIRST action — one journal-line append
    — is the atomic commit point for every table at once.
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
    ) -> None:
        self._record_base(schema, name)
        df, partition_col = self.lake._resolve_partitioning(
            df, schema, name, partition_col
        )
        self._stage(
            schema, name,
            self.lake._stage_overwrite_partitions(
                df, schema, name, partition_col,
                self._data_dir(schema, name),
            ),
        )

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
        """Stage a copy-on-write MERGE (same semantics as
        `Lakehouse.merge_into`) inside the transaction: the merged
        partitions are computed against the CURRENT table state at
        stage time and become visible only at the journal commit —
        so several tables' merges (e.g. an index's postings + doc
        lengths + stats) land atomically.

        `purge_condition` is the WHEN MATCHED DELETE leg (Delta MERGE
        analog): current rows where the predicate is TRUE are dropped
        even when no update row shares their key, and partitions
        containing such rows join the rewrite set.  This is what a
        reindex needs — replacing a document's postings must also
        remove rows for terms the new text no longer contains, which
        live under keys (and partitions) the update frame never
        mentions."""
        self._record_base(schema, name)
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
                f"txn merge_into {schema}.{name}: duplicate keys "
                f"{[tuple(r[k] for k in keys) for r in dup]}"
            )
        lake = self.lake
        updates, partition_col = lake._resolve_partitioning(
            updates, schema, name, partition_col
        )
        nt = lake.null_token(schema, name)
        affected = {
            _token_of(r[0], nt)
            for r in updates.select(partition_col).distinct().collect()
        }
        current_full = lake._ensure_partition_col(
            lake.read(spark, schema, name), schema, name, partition_col
        )
        if purge_condition is not None:
            affected |= {
                _token_of(r[0], nt)
                for r in current_full.filter(purge_condition)
                .select(partition_col)
                .distinct()
                .collect()
            }
        current = current_full.filter(
            lake._pvalue_match(
                F.col(partition_col), sorted(affected), nt
            )
        )
        survivors = current.join(
            updates.select(*keys).distinct(), keys, "left_anti"
        )
        if purge_condition is not None:
            # SQL three-valued logic: only TRUE rows are purged
            survivors = survivors.filter(
                ~F.coalesce(purge_condition, F.lit(False))
            )
        self._stage(
            schema, name,
            lake._stage_overwrite_partitions(
                survivors.unionByName(updates, allowMissingColumns=True),
                schema, name, partition_col,
                self._data_dir(schema, name),
                # purge can empty a partition entirely — list the
                # rewrite set explicitly so the commit still records
                # (and supersedes) partitions the staged write
                # produced no directory for
                partitions=sorted(affected)
                if purge_condition is not None
                else None,
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
        """Stage a row-level DELETE (same semantics as
        `Lakehouse.delete_where`) inside the transaction — so a
        multi-table erasure (an index's postings + doc lengths + stats
        refresh) lands at one journal line and a reader can never
        observe postings for a document whose length row is already
        gone.  Returns True iff rows matched (False = nothing staged
        for this table).

        With `predicates` instead of `condition` (one source of truth,
        like `Lakehouse.delete_where`), and when every triple is an
        `=`/`in` on the table's hidden-partition SOURCE column, the
        affected partitions are derived FORWARD through the transform
        (`PartitionSpec.value_of`) — the discovery step costs zero
        table scans, the shape a point erasure on a
        bucket-partitioned key needs at 100 TB.  Other predicates fall
        back to the scan-based discovery.

        ``mode="merge_on_read"`` stages the Delta deletion-vector
        shape instead (`Lakehouse.delete_where` MoR twin): ONE small
        parquet of the matching rows' physical positions, no data
        rewritten — write cost O(deleted rows) where copy-on-write
        rewrites every affected partition wholly (a bucket-partitioned
        postings table can see a single document's erasure touch most
        buckets).  With `predicates`, the position-finding scan routes
        through `read_where` (stats/Bloom pruning).  Readers anti-join
        the vector out until `compact()` materializes; the journal
        line stays the atomic point for every staged table at once."""
        lake = self.lake
        self._record_base(schema, name)
        if (condition is None) == (predicates is None):
            raise ValueError(
                "txn delete_where: pass exactly one of condition or "
                "predicates"
            )
        if mode == "merge_on_read":
            if predicates is not None:
                scanned = lake.read_where(
                    spark, schema, name, predicates,
                    with_positions=True,
                )
            else:
                # TRUE rows only (SQL three-valued logic)
                scanned = lake.read(
                    spark, schema, name, with_positions=True
                ).filter(condition)
            matches = scanned.select(
                F.col("__dv_file").alias("file_path"),
                F.col("__dv_pos").alias("row_index"),
            )
            if matches.limit(1).count() == 0:
                return False  # no matches → nothing staged (CoW parity)
            data_dir = self._data_dir(schema, name)
            matches.coalesce(1).write.mode("overwrite").parquet(data_dir)
            self._stage(
                schema, name,
                dict(
                    op="delete_dv",
                    data_dir=os.path.relpath(
                        data_dir, lake._table_dir(schema, name)
                    ),
                ),
            )
            return True
        if mode != "copy_on_write":
            raise ValueError(
                f"txn delete_where: unknown mode {mode!r} "
                "(copy_on_write | merge_on_read)"
            )
        if predicates is not None:
            from .skipping import predicates_to_column

            condition = predicates_to_column(predicates)
        affected: list[str] | None = None
        spec = lake.partition_spec(schema, name)
        if (
            predicates is not None
            and partition_col is None
            and spec is not None
            and all(
                p[0] == spec.source and p[1] in ("=", "==", "in")
                for p in predicates
            )
        ):
            cand: set[str] = set()
            for _, op, val in predicates:
                vals = val if op == "in" else (val,)
                cand.update(spec.value_of(v) for v in vals)
            # live partition values: the mapped partitions PLUS any
            # values sitting in additive (append) dirs, read off their
            # spec subdirectory names — an appended row's bucket may
            # not be in part_map yet.  An additive dir WITHOUT spec
            # subdirs hides its values: fall back to scan discovery
            # rather than risk missing a bucket.
            part_map, extra, _dvs = lake._manifest(schema, name)
            live = set(part_map)
            pfx = f"{spec.hidden_col}="
            nt = lake.null_token(schema, name)
            opaque_additive = False
            for d in extra:
                subs = [
                    s for s in (
                        os.listdir(d) if os.path.isdir(d) else ()
                    )
                    if s.startswith(pfx)
                ]
                if subs:
                    # CANONICAL tokens (escaped / NULL-sentinel dir
                    # names must intersect with value_of's canonical
                    # output, not their raw spelling)
                    live.update(
                        _canon_token(s[len(pfx):], nt) for s in subs
                    )
                elif _count_data_files(d) > 0:
                    opaque_additive = True
            if not opaque_additive:
                affected = sorted(cand & live)
                if not affected:
                    return False
                # the derived buckets may hold none of the ids (id
                # absent from the table): keep the rows-matched
                # contract with ONE pruned existence probe.  Only on
                # this branch — the scan-discovery fallback below
                # answers the same question itself
                if (
                    lake.read_where(spark, schema, name, predicates)
                    .limit(1)
                    .count()
                    == 0
                ):
                    return False
        current = lake.read(spark, schema, name)
        if partition_col is None:
            current, partition_col = lake._resolve_partitioning(
                current, schema, name, None
            )
        else:
            current = lake._ensure_partition_col(
                current, schema, name, partition_col
            )
        if (
            affected is None
            and predicates is not None
            and spec is not None
            and partition_col == spec.hidden_col
        ):
            # predicates on a NON-source column of a hidden-partitioned
            # table (e.g. erase-by-doc_id from a bucket(term) postings
            # table): forward derivation can't apply, but the discovery
            # scan can still be stats/Bloom-pruned — open only the
            # read_where-surviving files and read the touched bucket
            # tokens off their paths.  None = a matching row lives in a
            # flat additive file (no token in its path) → fall back to
            # the full scan below
            affected = self._probe_affected_tokens(
                spark, schema, name, predicates, partition_col
            )
            if affected is not None and not affected:
                return False
        if affected is None:
            affected = [
                _token_of(r[0], lake.null_token(schema, name))
                for r in current.filter(condition)
                .select(partition_col)
                .distinct()
                .collect()
            ]
        if not affected:
            return False
        survivors = current.filter(
            lake._pvalue_match(
                F.col(partition_col), affected,
                lake.null_token(schema, name),
            )
        ).filter(~F.coalesce(condition, F.lit(False)))
        self._stage(
            schema, name,
            lake._stage_overwrite_partitions(
                survivors, schema, name, partition_col,
                self._data_dir(schema, name), partitions=affected,
            ),
        )
        return True

    def _probe_affected_tokens(
        self,
        spark: SparkSession,
        schema: str,
        name: str,
        predicates: list[tuple],
        pcol: str,
    ) -> list[str] | None:
        """Pruned partition discovery for a staged DELETE: instead of
        scanning every partition for matches, read only the
        stats/Bloom-surviving files (`read_where`) and take the
        touched partition TOKENS from the matching rows' file paths —
        the same `<pcol>=<token>` segments the forward-derivation
        branch reads off directory names, so the tokens feed
        `_pvalue_match` unchanged.  With a Bloom index on the
        predicate column this is O(matching files), not O(table).

        Returns [] when no rows match anywhere (caller commits
        nothing), or None when any matching row sits in a file whose
        path carries no `<pcol>=` segment (flat additive file — its
        partition value can't be attributed from the path; caller
        falls back to scan discovery)."""
        from urllib.parse import unquote

        probe = self.lake.read_where(
            spark, schema, name, predicates, with_positions=True
        )
        pfx = f"{os.sep}{pcol}="
        nt = self.lake.null_token(schema, name)
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
            toks.add(_canon_token(unquote(seg), nt))
        return sorted(toks)

    def append(self, df: DataFrame, schema: str, name: str) -> None:
        self._record_base(schema, name)
        self._stage(
            schema, name,
            self.lake._stage_full_write(
                df, schema, name, "append", self._data_dir(schema, name)
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

QUALITY_LOG_SCHEMA = (
    "check_timestamp timestamp, table_name string, metric_name string, "
    "metric_value double, notes string"
)


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
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix=prefix)
    try:
        lake = Lakehouse(root)
        lake.create_schemas(schema)
        yield lake
    finally:
        shutil.rmtree(root, ignore_errors=True)


def metric_rows(
    spark: SparkSession, table_name: str, metrics: dict, notes: str = ""
) -> DataFrame:
    """`{metric_name: value}` as data_quality_log rows: one VALUES
    relation in ONE partition (one file from one task, not a file per
    VALUES slice), every row stamped with the same check_timestamp."""
    from .localrel import values_df

    rows = [(None, table_name, k, float(v), notes) for k, v in metrics.items()]
    return values_df(spark, rows, QUALITY_LOG_SCHEMA).coalesce(1).withColumn(
        "check_timestamp", F.current_timestamp()
    )


def log_metric(
    lake: Lakehouse, spark: SparkSession, table_name: str, metrics: dict
) -> None:
    """Append one audit to silver.data_quality_log: a row per
    `{metric_name: value}` entry, all in ONE commit (the reference's
    helper, mobility_ingestion_pipeline.py:76-80, commits per row)."""
    lake.append(
        metric_rows(spark, table_name, metrics), "silver", "data_quality_log"
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
    import shutil
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



# per-(session, commit-dir) parquet schema memo: commit directories are
# immutable once a manifest references them (every mutation commits a
# NEW version directory; type widening is metadata-only and casts after
# the scan), so the schema inferred on first contact can be re-supplied
# to every later scan of the same dir.  Skipping per-read footer/schema
# inference measurably cuts the driver cost of the lifecycle suites
# (~56 ms of plan time per read; bm25_search alone issues ~80 commit-dir
# reads per run).  Keyed weakly by session; the `kind` key separates the
# basePath-anchored shape (partition columns discovered relative to the
# commit dir) from the bare-subset shape (no partition columns).
_DIR_SCHEMAS: "weakref.WeakKeyDictionary" = None  # lazy init


def _read_commit_dir(spark, d, paths=None, base_path=False):
    global _DIR_SCHEMAS
    import weakref

    if _DIR_SCHEMAS is None:
        _DIR_SCHEMAS = weakref.WeakKeyDictionary()
    try:
        per = _DIR_SCHEMAS.setdefault(spark, {})
    except TypeError:  # session not weakref-able (mock/stub)
        per = {}
    kind = "base" if base_path else ("full" if paths is None else "sub")
    reader = spark.read
    if base_path:
        reader = reader.option("basePath", d)
    sch = per.get((d, kind))
    if sch is not None:
        reader = reader.schema(sch)
    df = reader.parquet(*(paths or [d]))
    if sch is None:
        per[(d, kind)] = df.schema
    return df


def _count_data_files(path: str) -> int:
    n = 0
    for root, _dirs, files in os.walk(path):
        n += sum(
            1 for f in files if f.endswith(".parquet") and not f.startswith("_")
        )
    return n
