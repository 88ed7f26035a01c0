"""Incrementally maintained materialized views over lakehouse tables.

The reference rebuilds its Gold aggregates from Silver in full on every
pipeline run (`airflow/dags/mobility_ingestion_pipeline.py` gold tasks
recompute each `CREATE OR REPLACE TABLE gold.* AS SELECT … GROUP BY`).
That is fine at GB scale and catastrophic at 100 TB: a one-day upsert
should never cost a full-table aggregation.  This module is the
Spark-first replacement — a grouped-aggregate Gold table maintained
from the base table's change-data feed with work proportional to the
CHANGED GROUPS, never the table:

    mv = MaterializedView(
        lake, base=("silver", "trips"), view=("gold", "daily_totals"),
        group_by=["day", "kind"], partition_col="day",
        aggs={"n": "count(*)",
              "total": "cast(sum(cast(v as decimal(25,6))) as double)"},
    )
    mv.refresh(spark)        # full build the first time
    …mutate silver.trips…
    mv.refresh(spark)        # reads CDC, recomputes only touched groups

Refresh algorithm (the affected-group recompute strategy):

1. `read_changes(last_applied, current)` yields every inserted/deleted
   row since the last refresh — by construction only slices whose
   manifest mapping changed are diffed, so a daily upsert diffs one
   partition.
2. The distinct group keys of those rows are the AFFECTED GROUPS —
   bounded by the change volume, not the table.
3. Those groups are recomputed from the CURRENT base state (a
   partition-pruned scan when the grouping includes the base partition
   column — the steady-state case) via a broadcast semi-join, giving
   exact aggregates under inserts, updates AND deletes — no
   restriction to self-maintainable (algebraic) aggregates, and a
   group whose rows all vanished disappears from the view.
4. The view's affected partitions are rewritten in ONE commit
   (unaffected groups carried over, recomputed groups substituted)
   whose log line records `mv_base_version` — the watermark is atomic
   with the data it reflects, so a crashed refresh either fully
   happened or fully didn't, and re-running it is a no-op or an
   idempotent recompute of the same groups.  No sidecar state files.

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
)

META_KEY = "mv_base_version"
# log line recording watermark progression when a commit range produced
# no row-level changes (pure compactions) — avoids re-diffing the same
# window forever; carries no data_dir so manifest replay skips it.
ADVANCE_OP = "mv_advance"


def watermark(lake: Lakehouse, schema: str, name: str) -> int | None:
    """Newest `META_KEY` on the table's commit log — the base version a
    derived table reflects — or None if no commit carries one."""
    return max(
        (
            e[META_KEY]
            for e in lake.snapshots(schema, name)
            if e.get(META_KEY) is not None
        ),
        default=None,
    )


def advance_watermark(
    lake: Lakehouse, schema: str, name: str, version: int
) -> None:
    """Move the table's watermark to `version` with a metadata-only
    log line (no data written) — for a refresh window whose changes
    left the derived table as it was."""
    lake._log_snapshot(
        lake._table_dir(schema, name), ADVANCE_OP, **{META_KEY: version}
    )


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
    changes are unknowable, so the caller must rebuild."""
    try:
        return lake.read_changes(
            spark, *base, from_version=last, to_version=current
        )
    except HistoryUnavailableError:
        raise
    except FileNotFoundError:
        return None


def supersede_partitions(
    lake: Lakehouse,
    state: DataFrame,
    view: tuple[str, str],
    partition_col: str,
    meta: dict,
) -> None:
    """Replace the whole of a partitioned `view` with `state` in one
    commit: every partition `state` holds AND every partition the view
    holds now, which a df-derived partition set would leave stale when
    its base rows vanished entirely."""
    old = set(lake._manifest(*view)[0])
    parts = None
    if old:
        parts = sorted(old | {
            str(r[0])
            for r in state.select(partition_col).distinct().collect()
        })
    lake.overwrite_partitions(
        state, *view,
        partition_col=partition_col,
        partitions=parts,
        extra_meta=meta,
    )


@dataclass
class MaterializedView:
    """A grouped-aggregate view of `base`, stored as the lakehouse
    table `view`, refreshed incrementally from the base's CDC feed.

    `aggs` maps output column name → SQL aggregate expression (evaluated
    per group); identical expressions drive the initial full build and
    every incremental recompute, so the two paths agree by construction.
    `partition_col` (optional) must be one of `group_by`; when set, the
    view is stored partitioned by it and refreshes rewrite only the
    affected partitions.
    """

    lake: Lakehouse
    base: tuple[str, str]
    view: tuple[str, str]
    group_by: list[str]
    aggs: dict[str, str]
    partition_col: str | None = None
    max_retries: int = field(default=3)

    def __post_init__(self) -> None:
        if self.partition_col and self.partition_col not in self.group_by:
            raise ValueError(
                f"partition_col {self.partition_col!r} must be one of "
                f"group_by {self.group_by}"
            )
        overlap = set(self.aggs) & set(self.group_by)
        if overlap:
            raise ValueError(f"agg output names shadow group keys: {overlap}")

    # -- watermarks --------------------------------------------------------

    def _base_version(self) -> int:
        snaps = self.lake.snapshots(*self.base)
        if not snaps:
            raise FileNotFoundError(
                f"base table {self.base[0]}.{self.base[1]} has no commits"
            )
        return snaps[-1]["version"]

    def last_applied(self) -> int | None:
        """Newest base version reflected in the view (from the view's
        commit log), or None if the view has never been built."""
        return watermark(self.lake, *self.view)

    # -- aggregation (shared by full build and incremental recompute) ------

    def _aggregate(self, rows: DataFrame) -> DataFrame:
        return rows.groupBy(*self.group_by).agg(
            *[F.expr(expr).alias(name) for name, expr in self.aggs.items()]
        )

    def read(self, spark: SparkSession) -> DataFrame:
        return self.lake.read(spark, *self.view)

    # -- refresh -----------------------------------------------------------

    def refresh(self, spark: SparkSession) -> dict:
        """Bring the view up to the base table's current version.
        Returns a summary dict: strategy ('noop' | 'full' |
        'incremental' | 'advance'), the applied version range, and the
        affected-group count for incremental refreshes."""
        for attempt in range(self.max_retries + 1):
            try:
                return self._refresh_once(spark)
            except ConcurrentWriteError:
                if attempt == self.max_retries:
                    raise
        raise AssertionError("unreachable")

    def _refresh_once(self, spark: SparkSession) -> dict:
        current = self._base_version()
        last = self.last_applied()
        if last is None:
            return self._full_build(spark, current)
        if last >= current:
            return {"strategy": "noop", "from": last, "to": last}

        try:
            cdc = read_window(self.lake, spark, self.base, last, current)
        except HistoryUnavailableError:
            # vacuum reclaimed the CDC window: the only honest refresh
            # is a rebuild
            return self._full_build(spark, current)
        if cdc is None:
            return self._advance(last, current)
        affected = (
            cdc.select(*self.group_by).distinct().persist()
        )
        try:
            n_groups = affected.count()
            if n_groups == 0:
                # commits happened but net row changes cancelled out
                # (e.g. compaction): advance the watermark, touch no data
                return self._advance(last, current)

            # either side may be EMPTY (every partition superseded to
            # zero rows reads as no-data): an empty base recomputes
            # affected groups to nothing; an empty view carries nothing
            try:
                mv_now = self.read(spark)
            except FileNotFoundError:
                mv_now = None
            try:
                base_now = self.lake.read(spark, *self.base)
            except FileNotFoundError:
                base_now = None
            parts: list[str] | None = None
            if self.partition_col:
                parts = sorted(
                    str(r[0])
                    for r in affected.select(self.partition_col)
                    .distinct()
                    .collect()
                )
                pcol = F.col(self.partition_col).cast("string")
                if base_now is not None:
                    base_now = base_now.filter(pcol.isin(parts))
                if mv_now is not None:
                    mv_now = mv_now.filter(pcol.isin(parts))

            carried = (
                mv_now.join(F.broadcast(affected), self.group_by, "left_anti")
                if mv_now is not None
                else None
            )
            recomputed = (
                self._aggregate(
                    base_now.join(
                        F.broadcast(affected), self.group_by, "left_semi"
                    )
                )
                if base_now is not None
                else None
            )
            if carried is None and recomputed is None:
                # nothing live anywhere: the affected groups are
                # already absent from the (empty) view — just advance
                return self._advance(last, current)
            if carried is None:
                new_state = recomputed
            elif recomputed is None:
                new_state = carried
            else:
                new_state = carried.unionByName(recomputed)
            meta = {META_KEY: current}
            if self.partition_col:
                self.lake.overwrite_partitions(
                    new_state, *self.view,
                    partition_col=self.partition_col,
                    partitions=parts,
                    extra_meta=meta,
                )
            else:
                self.lake.overwrite(new_state, *self.view, extra_meta=meta)
            return {
                "strategy": "incremental",
                "from": last,
                "to": current,
                "affected_groups": n_groups,
                "affected_partitions": parts,
            }
        finally:
            affected.unpersist()

    def _full_build(self, spark: SparkSession, current: int) -> dict:
        state = self._aggregate(self.lake.read(spark, *self.base))
        meta = {META_KEY: current}
        if self.partition_col:
            supersede_partitions(
                self.lake, state, self.view, self.partition_col, meta
            )
        else:
            self.lake.overwrite(state, *self.view, extra_meta=meta)
        return {"strategy": "full", "from": None, "to": current}

    def _advance(self, last: int, current: int) -> dict:
        advance_watermark(self.lake, *self.view, current)
        return {"strategy": "advance", "from": last, "to": current}
