"""Exactly-once incremental consumption of a table's change feed.

`MaterializedView` is the grouped-aggregate consumer; this is the
general form: pull the CDC rows a sink hasn't seen, transform them,
APPEND the result to the sink — with the consumed source version
recorded on the very commit that carries the output.  The watermark is
the sink's own log, so there is no sidecar offset file to lose, and
the crash model is exactly-once by construction:

  * crash before the append commit → nothing visible, next poll
    re-reads the same window (reads are side-effect-free);
  * crash after → the watermark moved with the data, next poll is a
    no-op for that window.

This is the lakehouse analog of a Delta streaming source + foreachBatch
with a transactional sink — without a streaming runtime: any scheduler
(the reference uses Airflow) can call `poll()` idempotently.

First poll semantics match Delta's CDF streaming source: the sink
starts from the source's CURRENT state delivered as one batch of
`_change_type='insert'` rows (the initial snapshot), then subsequent
polls deliver genuine deltas.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .lakehouse import Lakehouse
from .matview import advance_watermark, read_window, watermark

ADVANCE_OP = "cdc_advance"


@dataclass
class ChangeFeedPipe:
    """Pipe `transform(changes)` from `source` into appends on `sink`.

    `transform` receives the CDC frame (source columns plus
    `_change_type` of 'insert' | 'delete'; an update is its
    delete+insert pair) and returns the rows to append.  It must be
    deterministic — a replayed window must produce the same output.
    """

    lake: Lakehouse
    source: tuple[str, str]
    sink: tuple[str, str]
    transform: Callable[[DataFrame], DataFrame]

    @property
    def _meta_key(self) -> str:
        return f"cdc_{self.source[0]}_{self.source[1]}_version"

    def last_applied(self) -> int | None:
        return watermark(self.lake, *self.sink, key=self._meta_key)

    def _advance(self, version: int) -> None:
        advance_watermark(
            self.lake, *self.sink, version,
            key=self._meta_key, op=ADVANCE_OP,
        )

    def poll(self, spark: SparkSession) -> dict:
        """Consume everything new; returns {status, from, to, rows}."""
        snaps = self.lake.snapshots(*self.source)
        if not snaps:
            raise FileNotFoundError(
                f"source {self.source[0]}.{self.source[1]} has no commits"
            )
        current = snaps[-1]["version"]
        last = self.last_applied()
        if last is not None and last >= current:
            return {"status": "noop", "from": last, "to": last, "rows": 0}

        if last is None:
            # initial snapshot: current state as one insert batch
            try:
                cdc = self.lake.read(spark, *self.source).withColumn(
                    "_change_type", F.lit("insert")
                )
            except FileNotFoundError:
                # source has commits but zero live rows: the snapshot
                # is empty — record the offset, write no data
                self._advance(current)
                return {
                    "status": "initial", "from": None, "to": current,
                    "rows": 0,
                }
        else:
            # a vacuumed window raises HistoryUnavailableError: an
            # append log can't be silently rebuilt — the caller must
            # decide (unlike a materialized view, whose state is
            # derivable).  Metadata-only windows advance.
            cdc = read_window(self.lake, spark, self.source, last, current)
            if cdc is None:
                self._advance(current)
                return {
                    "status": "advance", "from": last, "to": current,
                    "rows": 0,
                }

        out = self.transform(cdc).persist()
        try:
            n = out.count()
            self.lake.append(
                out, *self.sink, extra_meta={self._meta_key: current}
            )
        finally:
            out.unpersist()
        return {
            "status": "initial" if last is None else "delta",
            "from": last,
            "to": current,
            "rows": n,
        }
