"""Incrementally maintained materialized views over lakehouse tables.

The reference rebuilds its Gold aggregates from Silver in full on every
pipeline run (`airflow/dags/mobility_ingestion_pipeline.py` gold tasks
recompute each `CREATE OR REPLACE TABLE gold.* AS SELECT … GROUP BY`).
That is fine at GB scale and catastrophic at 100 TB: a one-day upsert
should never cost a full-table aggregation.  This module is the
Spark-first replacement — a grouped-aggregate Gold table, partitioned
by one of its group keys, maintained from the base table's commit log
and change-data feed with work proportional to the CHANGED PARTITIONS,
never the table:

    mv = MaterializedView(
        lake, base=("silver", "trips"), view=("gold", "daily_totals"),
        group_by=["day", "kind"], partition_col="day",
        aggs={"n": "count(*)",
              "total": "cast(sum(cast(v as decimal(25,6))) as double)"},
    )
    mv.refresh(spark)        # full build the first time
    …mutate silver.trips…
    mv.refresh(spark)        # recomputes only the touched days

Refresh algorithm (the affected-partition recompute strategy):

1. The base's log entries in (last_applied, current] name the
   AFFECTED PARTITIONS when every entry is a partition overwrite on
   `partition_col` (`overwrite_partitions`, direct or in a
   transaction, and the copy-on-write MERGE/DELETE/UPDATE, which
   commit as one) or a compaction (an entry logging `files_before`:
   rows unchanged, nothing affected).  Those overwrites log the
   canonical tokens of the partitions they replaced, so the set is
   read off the log: no change feed, no Spark job.
2. Any other entry in the window (a flat append, a full overwrite, a
   deletion vector, a restore, column DDL, another partition column)
   does not name its partitions: the window's row changes are read
   with `read_changes(last_applied, current)` — only slices whose
   manifest mapping changed are diffed — and their distinct
   `partition_col` values are the affected partitions.  Either way
   the set is bounded by the change volume, not the table.  A window
   whose files vacuum reclaimed rebuilds the view in full on either
   path.
3. Each affected partition is re-aggregated whole from the CURRENT
   base state, read partition-pruned.  `partition_col` is a group key,
   so every group lies in one partition and the recompute is exact
   under inserts, updates AND deletes — no restriction to
   self-maintainable (algebraic) aggregates, and a group whose rows all
   vanished disappears from the view.  A partition a write replaced
   with identical rows (a re-run day) recomputes to the same groups.
4. The affected partitions are replaced in ONE commit whose log line
   records `mv_base_version` — the watermark is atomic with the data
   it reflects, so a crashed refresh either fully happened or fully
   didn't, and re-running it is a no-op or an idempotent recompute of
   the same partitions.  No sidecar state files.

Exactly-once without a scheduler: the watermark lives in the view's
own commit log, concurrency is inherited from the lakehouse's
optimistic commits (a competing refresh loses the race, re-reads the
log, and finds nothing left to do).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .lakehouse import (
    ConcurrentWriteError,
    HistoryUnavailableError,
    Lakehouse,
    _token_of,
)

META_KEY = "mv_base_version"
# log line recording watermark progression when a commit range produced
# no row-level changes (pure compactions) — avoids re-diffing the same
# window forever; carries no data_dir so manifest replay skips it.
ADVANCE_OP = "mv_advance"


def watermark(
    lake: Lakehouse, schema: str, name: str, key: str = META_KEY
) -> int | None:
    """Newest `key` on the table's commit log — the source version a
    derived table reflects — or None if no commit carries one."""
    return max(
        (
            e[key]
            for e in lake.snapshots(schema, name)
            if e.get(key) is not None
        ),
        default=None,
    )


def advance_watermark(
    lake: Lakehouse, schema: str, name: str, version: int,
    key: str = META_KEY, op: str = ADVANCE_OP,
) -> None:
    """Move the table's watermark `key` to `version` with a
    metadata-only `op` log line (no data written) — for a window whose
    changes left the derived table as it was.  The line may be the
    table's first commit (a change feed whose source held no rows), so
    the table's format is stamped first, as every write does."""
    lake._ensure_format(schema, name)
    lake._log_snapshot(lake._table_dir(schema, name), op, **{key: version})


def read_window(
    lake: Lakehouse,
    spark: SparkSession,
    base: tuple[str, str],
    last: int,
    current: int,
) -> DataFrame | None:
    """`base`'s row changes over (`last`, `current`], or None when no
    slice's mapping changed in the window (metadata-only commits:
    nothing to diff).  A window whose files vacuum reclaimed (e.g. a
    default OPTIMIZE+VACUUM) raises HistoryUnavailableError — its
    changes are unknowable, so the caller must rebuild or refuse."""
    try:
        return lake.read_changes(
            spark, *base, from_version=last, to_version=current
        )
    except HistoryUnavailableError:
        raise
    except FileNotFoundError:
        return None


@dataclass
class MaterializedView:
    """A grouped-aggregate view of `base`, stored as the lakehouse
    table `view` partitioned by `partition_col` (one of `group_by`),
    refreshed incrementally from the base's CDC feed.

    `aggs` maps output column name → SQL aggregate expression (evaluated
    per group); identical expressions drive the initial full build and
    every incremental recompute, so the two paths agree by construction.
    """

    lake: Lakehouse
    base: tuple[str, str]
    view: tuple[str, str]
    group_by: list[str]
    aggs: dict[str, str]
    partition_col: str
    max_retries: int = field(default=3)

    def __post_init__(self) -> None:
        if self.partition_col not in self.group_by:
            raise ValueError(
                f"partition_col {self.partition_col!r} must be one of "
                f"group_by {self.group_by}"
            )
        overlap = set(self.aggs) & set(self.group_by)
        if overlap:
            raise ValueError(f"agg output names shadow group keys: {overlap}")

    # -- watermarks --------------------------------------------------------

    def last_applied(self) -> int | None:
        """Newest base version reflected in the view (from the view's
        commit log), or None if the view has never been built."""
        return watermark(self.lake, *self.view)

    # -- affected partitions -----------------------------------------------

    def _logged_partitions(
        self, entries: list[dict], last: int, current: int
    ) -> list[str] | None:
        """The canonical tokens of the partitions the base's commits in
        (`last`, `current`] replaced, read off their log entries, or
        None when some entry does not name them (the caller diffs the
        window instead).  A compaction — keyed on `files_before`,
        which a partition-scoped one logs on an `overwrite_partitions`
        line too — rewrites no row and names none."""
        parts: set[str] = set()
        for e in entries:
            if not last < e["version"] <= current or "files_before" in e:
                continue
            if (
                e["operation"] != "overwrite_partitions"
                or e.get("partition_col") != self.partition_col
            ):
                return None
            parts.update(e["partitions"])
        return sorted(parts)

    def _diffed_partitions(
        self, spark: SparkSession, last: int, current: int
    ) -> list[str]:
        """The distinct `partition_col` tokens of the window's row
        changes (`read_window`): one change-feed read and one collect."""
        cdc = read_window(self.lake, spark, self.base, last, current)
        if cdc is None:
            return []
        return sorted({
            _token_of(r[0])
            for r in cdc.select(self.partition_col).distinct().collect()
        })

    # -- aggregation (shared by full build and incremental recompute) ------

    def _aggregate(self, rows: DataFrame) -> DataFrame:
        return rows.groupBy(*self.group_by).agg(
            *[F.expr(expr).alias(name) for name, expr in self.aggs.items()]
        )

    def read(self, spark: SparkSession) -> DataFrame:
        return self.lake.read(spark, *self.view)

    # -- refresh -----------------------------------------------------------

    def refresh(self, spark: SparkSession) -> dict:
        """Bring the view up to the base table's current version by
        recomputing the partitions the window's commits touched, named
        by their log entries or, failing that, by the change feed (see
        the module docstring).  Returns a summary dict: strategy
        ('noop' | 'full' | 'incremental' | 'advance'), the applied
        version range, and the rewritten partitions for incremental
        refreshes."""
        for attempt in range(self.max_retries + 1):
            try:
                return self._refresh_once(spark)
            except ConcurrentWriteError:
                if attempt == self.max_retries:
                    raise
        raise AssertionError("unreachable")

    def _refresh_once(self, spark: SparkSession) -> dict:
        entries = self.lake.snapshots(*self.base)
        if not entries:
            raise FileNotFoundError(
                f"base table {self.base[0]}.{self.base[1]} has no commits"
            )
        current = entries[-1]["version"]
        last = self.last_applied()
        if last is None:
            return self._full_build(spark, current)
        if last >= current:
            return {"strategy": "noop", "from": last, "to": last}

        parts = self._logged_partitions(entries, last, current)
        try:
            if parts is None:
                parts = self._diffed_partitions(spark, last, current)
            else:
                # the same rule as the diff: a window whose base state
                # vacuum reclaimed rebuilds (isdir checks, no read)
                self.lake._readable_state(*self.base, last, entries)
        except HistoryUnavailableError:
            # vacuum reclaimed the window: the only honest refresh is
            # a rebuild
            return self._full_build(spark, current)
        if not parts:
            # metadata-only commits, compactions, or row changes that
            # cancelled out: advance the watermark, touch no data
            advance_watermark(self.lake, *self.view, current)
            return {"strategy": "advance", "from": last, "to": current}
        # the affected partitions' canonical tokens are shared by the
        # base read and the view write (a NULL value is the NULL
        # sentinel)
        try:
            rows = self.lake.read(spark, *self.base, partition_values=parts)
        except FileNotFoundError:
            # the base has no live rows: every affected partition
            # empties
            rows = self.lake._empty_frame(spark, *self.base, entries)
        self.lake.overwrite_partitions(
            self._aggregate(rows), *self.view,
            partition_col=self.partition_col,
            partitions=parts,
            extra_meta={META_KEY: current},
        )
        return {
            "strategy": "incremental",
            "from": last,
            "to": current,
            "affected_partitions": parts,
        }

    def _full_build(self, spark: SparkSession, current: int) -> dict:
        """Replace the whole view in one commit: every partition the
        rebuild writes AND every partition the view holds now, listed
        so a partition whose base rows vanished entirely does not stay
        stale."""
        self.lake.overwrite_partitions(
            self._aggregate(self.lake.read(spark, *self.base)), *self.view,
            partition_col=self.partition_col,
            partitions=sorted(self.lake._manifest(*self.view)[0]),
            extra_meta={META_KEY: current},
        )
        return {"strategy": "full", "from": None, "to": current}
