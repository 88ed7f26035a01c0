"""Incrementally maintained materialized views (sources/matview.py).

The invariant under test: after ANY sequence of base-table mutations
(partition upserts, appends, MERGE, DELETE in both copy-on-write and
merge-on-read modes, compactions), `refresh()` leaves the view equal to
a from-scratch recompute — while touching only the affected
partitions, with the watermark recorded atomically in the view's log.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from tests.conftest import jobs_in_group
from urban_mobility_data_lakehouse_spark.sources.lakehouse import Lakehouse
from urban_mobility_data_lakehouse_spark.sources.matview import (
    MaterializedView,
)

AGGS = {
    "n": "count(*)",
    # decimal accumulation → order-independent, exact equality
    "total": "cast(sum(cast(v as decimal(25,6))) as double)",
    # max is NOT self-maintainable under deletes — proves the
    # affected-partition recompute strategy, not delta arithmetic
    "vmax": "max(v)",
}


@pytest.fixture()
def lake(tmp_path):
    lk = Lakehouse(str(tmp_path / "lake"))
    lk.create_schemas("silver", "gold")
    return lk


def _rows(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("day"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("kind"),
        (F.col("id") * 1.5).alias("v"),
    )


def _mv(lake):
    return MaterializedView(
        lake,
        base=("silver", "t"),
        view=("gold", "daily"),
        group_by=["day", "kind"],
        aggs=AGGS,
        partition_col="day",
    )


_COLS = ["day", "kind", *AGGS]  # storage may reorder partition cols


def _expect(spark, lake):
    return sorted(
        (
            tuple(r)
            for r in lake.read(spark, "silver", "t")
            .groupBy("day", "kind")
            .agg(*[F.expr(e).alias(c) for c, e in AGGS.items()])
            .select(*_COLS)
            .collect()
        ),
        key=repr,  # a NULL day does not order against strings
    )


def _got(spark, mv):
    return sorted(
        (tuple(r) for r in mv.read(spark).select(*_COLS).collect()), key=repr
    )


def test_full_build_then_noop(spark, lake):
    lake.overwrite_partitions(_rows(spark, 0, 300), "silver", "t", "day")
    mv = _mv(lake)
    out = mv.refresh(spark)
    assert out["strategy"] == "full"
    assert _got(spark, mv) == _expect(spark, lake)
    again = mv.refresh(spark)
    assert again["strategy"] == "noop"
    # noop leaves the view's commit history untouched
    assert len(lake.snapshots("gold", "daily")) == 1


def test_incremental_day_upsert_rewrites_only_affected(spark, lake):
    lake.overwrite_partitions(_rows(spark, 0, 300), "silver", "t", "day")
    mv = _mv(lake)
    mv.refresh(spark)
    # day upsert: replace partition day=1 with different rows
    upsert = _rows(spark, 1000, 1060).filter(F.col("day") == "1")
    lake.overwrite_partitions(upsert, "silver", "t", "day")
    out = mv.refresh(spark)
    assert out["strategy"] == "incremental"
    assert out["affected_partitions"] == ["1"]
    assert _got(spark, mv) == _expect(spark, lake)
    # the view commit rewrote exactly the affected partition
    assert lake.snapshots("gold", "daily")[-1]["partitions"] == ["1"]


def test_incremental_refresh_never_reads_the_view(spark, lake, monkeypatch):
    """An incremental refresh recomputes whole affected partitions from
    the base: it never reads the view back, and its one commit replaces
    exactly the partitions the CDC window touched."""
    lake.overwrite_partitions(_rows(spark, 0, 300), "silver", "t", "day")
    mv = _mv(lake)
    mv.refresh(spark)
    lake.delete_where(
        spark, "silver", "t", F.col("id").isin(4, 10, 22),
        partition_col="day",
    )  # ids 4, 10, 22 all live in day 1
    lake.merge_into(
        spark, "silver", "t",
        _rows(spark, 2000, 2001),  # id 2000 → day 2
        key="id", partition_col="day",
    )
    window = lake.read_changes(
        spark, "silver", "t", from_version=mv.last_applied()
    )
    touched = sorted({str(r[0]) for r in window.select("day").collect()})
    assert touched == ["1", "2"]
    n_view = len(lake.snapshots("gold", "daily"))

    reads = []
    real_read = Lakehouse.read

    def spy(self, spark, schema, name, *args, **kwargs):
        reads.append((schema, name))
        return real_read(self, spark, schema, name, *args, **kwargs)

    monkeypatch.setattr(Lakehouse, "read", spy)
    out = mv.refresh(spark)
    monkeypatch.undo()

    assert out["strategy"] == "incremental"
    assert out["affected_partitions"] == touched
    assert reads and ("gold", "daily") not in reads
    view_log = lake.snapshots("gold", "daily")
    assert len(view_log) == n_view + 1
    assert view_log[-1]["partitions"] == touched
    assert _got(spark, mv) == _expect(spark, lake)


def test_incremental_after_merge_delete_append(spark, lake):
    lake.overwrite_partitions(_rows(spark, 0, 300), "silver", "t", "day")
    mv = _mv(lake)
    mv.refresh(spark)

    # MERGE: update 10 rows, insert 5 new ones (same partition layout)
    updates = _rows(spark, 100, 110).withColumn("v", F.col("v") + 100.0)
    inserts = _rows(spark, 2000, 2005)
    lake.merge_into(
        spark, "silver", "t", updates.unionByName(inserts),
        key="id", partition_col="day",
    )
    assert mv.refresh(spark)["strategy"] == "incremental"
    assert _got(spark, mv) == _expect(spark, lake)

    # copy-on-write DELETE
    lake.delete_where(
        spark, "silver", "t", F.col("id").between(50, 80),
        partition_col="day",
    )
    assert mv.refresh(spark)["strategy"] == "incremental"
    assert _got(spark, mv) == _expect(spark, lake)

    # merge-on-read DELETE (deletion vector)
    lake.delete_where(
        spark, "silver", "t", F.col("id").between(200, 220),
        partition_col="day", mode="merge_on_read",
    )
    assert mv.refresh(spark)["strategy"] == "incremental"
    assert _got(spark, mv) == _expect(spark, lake)

    # plain append (extra-dir commit, all partitions touched)
    lake.append(_rows(spark, 3000, 3030), "silver", "t")
    assert mv.refresh(spark)["strategy"] == "incremental"
    assert _got(spark, mv) == _expect(spark, lake)


def test_group_emptied_by_delete_disappears(spark, lake):
    lake.overwrite_partitions(_rows(spark, 0, 30), "silver", "t", "day")
    mv = _mv(lake)
    mv.refresh(spark)
    # wipe out every row of group (day=2, kind=a) — and of day=2 entirely
    lake.delete_where(
        spark, "silver", "t", F.col("day") == "2", partition_col="day"
    )
    mv.refresh(spark)
    got = _got(spark, mv)
    assert got == _expect(spark, lake)
    assert not any(r[0] == "2" for r in got)


def test_base_emptied_entirely(spark, lake):
    """Deleting every base row must refresh the view to empty, not
    crash on the unreadable base."""
    lake.overwrite_partitions(_rows(spark, 0, 30), "silver", "t", "day")
    mv = _mv(lake)
    mv.refresh(spark)
    lake.delete_where(
        spark, "silver", "t", F.lit(True), partition_col="day"
    )
    out = mv.refresh(spark)
    assert out["strategy"] == "incremental"
    # every group vanished: the view has no live rows left
    with pytest.raises(FileNotFoundError):
        mv.read(spark).count()
    assert mv.refresh(spark)["strategy"] == "noop"
    # refill after total emptiness: the empty view must not crash the
    # next incremental refresh
    lake.overwrite_partitions(_rows(spark, 50, 80), "silver", "t", "day")
    assert mv.refresh(spark)["strategy"] == "incremental"
    assert _got(spark, mv) == _expect(spark, lake)


def test_compaction_advances_watermark_without_data_commit(spark, lake):
    lake.overwrite_partitions(_rows(spark, 0, 300), "silver", "t", "day")
    mv = _mv(lake)
    mv.refresh(spark)
    # rewrites bytes, not rows; vacuum=False keeps the CDC window alive
    lake.compact(spark, "silver", "t", vacuum=False)
    out = mv.refresh(spark)
    assert out["strategy"] == "advance"
    assert lake.snapshots("gold", "daily")[-1]["operation"] == "mv_advance"
    # watermark moved: next refresh is a pure noop, no re-diff
    assert mv.refresh(spark)["strategy"] == "noop"
    assert _got(spark, mv) == _expect(spark, lake)


def test_vacuumed_cdc_window_forces_full_rebuild(spark, lake):
    """OPTIMIZE+VACUUM inside the refresh window reclaims the from-side
    files: read_changes must refuse (not misreport survivors as
    inserts) and the view must rebuild, still matching a recompute."""
    from urban_mobility_data_lakehouse_spark.sources.lakehouse import (
        HistoryUnavailableError,
    )

    lake.overwrite_partitions(_rows(spark, 0, 300), "silver", "t", "day")
    mv = _mv(lake)
    mv.refresh(spark)
    last = mv.last_applied()
    lake.delete_where(
        spark, "silver", "t", F.col("id") < 30, partition_col="day"
    )
    # zero grace: this test simulates maintenance having ALREADY
    # reclaimed the refresh window (no concurrent readers here)
    lake.compact(spark, "silver", "t", vacuum_grace_seconds=0)
    with pytest.raises(HistoryUnavailableError):
        lake.read_changes(spark, "silver", "t", from_version=last)
    out = mv.refresh(spark)
    assert out["strategy"] == "full"
    assert _got(spark, mv) == _expect(spark, lake)
    # rebuild carried the watermark: follow-up refresh is a noop
    assert mv.refresh(spark)["strategy"] == "noop"


def test_null_partition_is_refreshed(spark, lake):
    """A NULL partition value is the view's null-partition token, not
    the string 'None': an incremental refresh and a rebuild over an
    existing view both replace the view's NULL partition."""
    rows = _rows(spark, 0, 60).withColumn(
        "day", F.when(F.col("day") != "0", F.col("day"))
    )
    lake.overwrite_partitions(rows, "silver", "t", "day")
    mv = _mv(lake)
    mv.refresh(spark)
    lake.delete_where(
        spark, "silver", "t", F.col("id") < 30, partition_col="day"
    )
    assert mv.refresh(spark)["strategy"] == "incremental"
    assert _got(spark, mv) == _expect(spark, lake)
    assert any(r[0] is None for r in _got(spark, mv))

    lake.delete_where(
        spark, "silver", "t", F.col("id") < 45, partition_col="day"
    )
    # zero grace: the refresh window is already reclaimed → rebuild
    lake.compact(spark, "silver", "t", vacuum_grace_seconds=0)
    assert mv.refresh(spark)["strategy"] == "full"
    assert _got(spark, mv) == _expect(spark, lake)


def test_refresh_is_idempotent_after_replay(spark, lake):
    """Crash-model check: re-running a refresh against an unchanged
    base recomputes nothing and appends nothing."""
    lake.overwrite_partitions(_rows(spark, 0, 60), "silver", "t", "day")
    mv = _mv(lake)
    mv.refresh(spark)
    lake.append(_rows(spark, 500, 520), "silver", "t")
    mv.refresh(spark)
    versions = [e["version"] for e in lake.snapshots("gold", "daily")]
    mv.refresh(spark)  # nothing new
    assert [e["version"] for e in lake.snapshots("gold", "daily")] == versions


@pytest.mark.heavy  # randomized 12-step sweep (~11 s); every mutation
# kind keeps a directed incremental-vs-recompute test in this file
def test_random_mutation_sequence_always_matches_recompute(spark, lake):
    """Seeded fuzz: any interleaving of upserts, merges, CoW and MoR
    deletes, and appends must leave refresh() equal to a from-scratch
    recompute after every step."""
    import random

    rng = random.Random(1234)
    lake.overwrite_partitions(_rows(spark, 0, 200), "silver", "t", "day")
    mv = _mv(lake)
    mv.refresh(spark)
    next_id = 5000
    for step in range(6):
        op = rng.choice(["upsert", "merge", "delete", "delete_mor", "append"])
        if op == "upsert":
            day = str(rng.randrange(3))
            lake.overwrite_partitions(
                _rows(spark, next_id, next_id + 30).filter(
                    F.col("day") == day
                ).withColumn("day", F.lit(day)),
                "silver", "t", "day",
            )
            next_id += 30
        elif op == "merge":
            lake.merge_into(
                spark, "silver", "t",
                _rows(spark, next_id, next_id + 10),
                key="id", partition_col="day",
            )
            next_id += 10
        elif op == "append":
            lake.append(_rows(spark, next_id, next_id + 15), "silver", "t")
            next_id += 15
        else:
            lo = rng.randrange(0, next_id)
            cond = F.col("id").between(lo, lo + 40)
            lake.delete_where(
                spark, "silver", "t", cond, partition_col="day",
                mode="merge_on_read" if op == "delete_mor" else "copy_on_write",
            )
        mv.refresh(spark)
        assert _got(spark, mv) == _expect(spark, lake), f"step {step} ({op})"


def test_concurrent_refreshes_race_safely(spark, lake):
    """Two refreshers racing the same window: optimistic commits let
    one win; the loser retries, finds the watermark advanced, and
    no-ops.  Either way the view equals the recompute and the history
    stays linear with no duplicate application."""
    import threading

    lake.overwrite_partitions(_rows(spark, 0, 120), "silver", "t", "day")
    mv1, mv2 = _mv(lake), _mv(lake)
    mv1.refresh(spark)
    lake.delete_where(
        spark, "silver", "t", F.col("id") % 4 == 0, partition_col="day"
    )
    results: dict[str, dict | Exception] = {}

    def go(tag, mv):
        try:
            results[tag] = mv.refresh(spark)
        except Exception as e:  # surface, don't swallow
            results[tag] = e

    t1 = threading.Thread(target=go, args=("a", mv1))
    t2 = threading.Thread(target=go, args=("b", mv2))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert all(isinstance(r, dict) for r in results.values()), results
    strategies = sorted(r["strategy"] for r in results.values())
    # at least one applied it; a pure double-apply is impossible —
    # the second incremental recomputes the same groups idempotently
    assert "incremental" in strategies
    assert _got(spark, mv1) == _expect(spark, lake)
    # watermark is the current base version exactly once per value
    marks = [
        e["mv_base_version"]
        for e in lake.snapshots("gold", "daily")
        if "mv_base_version" in e
    ]
    assert marks == sorted(marks)


def test_extra_meta_cannot_shadow_commit_fields(spark, lake):
    df = _rows(spark, 0, 10)
    with pytest.raises(ValueError, match="collide"):
        lake.overwrite_partitions(
            df, "silver", "t", "day", extra_meta={"operation": "x"}
        )


def test_bad_definitions_rejected(lake):
    with pytest.raises(ValueError, match="must be one of"):
        MaterializedView(
            lake, base=("silver", "t"), view=("gold", "g"),
            group_by=["day"], aggs={"n": "count(*)"}, partition_col="kind",
        )
    with pytest.raises(ValueError, match="must be one of"):
        MaterializedView(
            lake, base=("silver", "t"), view=("gold", "g"),
            group_by=["day"], aggs={"n": "count(*)"}, partition_col=None,
        )
    with pytest.raises(ValueError, match="shadow"):
        MaterializedView(
            lake, base=("silver", "t"), view=("gold", "g"),
            group_by=["day"], aggs={"day": "count(*)"}, partition_col="day",
        )


def test_rebuild_over_existing_view_aggregates_base_once(spark, lake):
    """A full rebuild over a view that already holds partitions runs
    no more Spark jobs than a fresh build of the same base: the view's
    live partitions come from its manifest, not from a second
    aggregation of the base."""
    rows = _rows(spark, 0, 300).withColumn(
        "day", (F.col("id") % 5).cast("string")
    )
    lake.overwrite_partitions(rows, "silver", "t", "day")
    mv = _mv(lake)
    mv.refresh(spark)
    lake.delete_where(
        spark, "silver", "t", F.col("id") < 30, partition_col="day"
    )
    # zero grace: the refresh window is already reclaimed → rebuild
    lake.compact(spark, "silver", "t", vacuum_grace_seconds=0)
    # the first read of the compacted dir infers its schema (one job,
    # memoized after): pay it here, so neither build counts it
    lake.read(spark, "silver", "t").count()
    out, rebuild_jobs = jobs_in_group(
        spark, "mv-rebuild", lambda: mv.refresh(spark)
    )
    assert out["strategy"] == "full"
    fresh = MaterializedView(
        lake,
        base=("silver", "t"),
        view=("gold", "fresh"),
        group_by=["day", "kind"],
        aggs=AGGS,
        partition_col="day",
    )
    out, fresh_jobs = jobs_in_group(
        spark, "mv-fresh", lambda: fresh.refresh(spark)
    )
    assert out["strategy"] == "full"
    assert 0 < rebuild_jobs <= fresh_jobs
    assert _got(spark, mv) == _expect(spark, lake)


def _spy_read_changes(monkeypatch):
    """Record every `Lakehouse.read_changes` call (the fallback diff)."""
    calls = []
    real = Lakehouse.read_changes

    def spy(self, *args, **kwargs):
        calls.append(args[1:3])
        return real(self, *args, **kwargs)

    monkeypatch.setattr(Lakehouse, "read_changes", spy)
    return calls


@pytest.mark.parametrize("via", ["direct", "transaction"])
def test_one_day_overwrite_refreshes_from_the_log(
    spark, lake, monkeypatch, via
):
    """A window of one partition overwrite names its day in the log
    entry: the refresh runs no change-feed diff, and its only Spark
    jobs are the recompute's read, aggregate and write (the diff cost
    four more)."""
    lake.overwrite_partitions(_rows(spark, 0, 300), "silver", "t", "day")
    mv = _mv(lake)
    mv.refresh(spark)
    upsert = _rows(spark, 1000, 1060).filter(F.col("day") == "1")
    if via == "direct":
        lake.overwrite_partitions(upsert, "silver", "t", "day")
    else:
        with lake.transaction() as txn:
            txn.overwrite_partitions(upsert, "silver", "t", "day")
    calls = _spy_read_changes(monkeypatch)
    out, jobs = jobs_in_group(
        spark, f"mv-log-{via}", lambda: mv.refresh(spark)
    )
    assert calls == []
    assert out["strategy"] == "incremental"
    assert out["affected_partitions"] == ["1"]
    assert 0 < jobs <= 3
    assert _got(spark, mv) == _expect(spark, lake)


def _null_day(spark, lo, hi):
    return _rows(spark, lo, hi).withColumn(
        "day", F.when(F.col("day") != "0", F.col("day"))
    )


@pytest.mark.parametrize(
    "window", ["overwrite_then_compact", "cow_delete_empties", "null_day"]
)
def test_log_named_window_matches_recompute(spark, lake, monkeypatch, window):
    """Windows of partition overwrites and compactions refresh from the
    log alone and still equal a from-scratch aggregate: a compaction
    (full or partition-scoped) names no partition, a copy-on-write
    DELETE that empties a day names it, and a NULL day is the NULL
    partition token."""
    from urban_mobility_data_lakehouse_spark.sources.lakehouse import (
        NULL_SENTINEL,
    )

    base = _null_day if window == "null_day" else _rows
    lake.overwrite_partitions(base(spark, 0, 300), "silver", "t", "day")
    mv = _mv(lake)
    mv.refresh(spark)
    if window == "overwrite_then_compact":
        lake.overwrite_partitions(
            _rows(spark, 1000, 1030).filter(F.col("day") == "1"),
            "silver", "t", "day",
        )
        lake.compact(
            spark, "silver", "t", partition_col="day", partitions=["2"],
            vacuum=False,
        )
        lake.compact(spark, "silver", "t", vacuum=False)
        want = ["1"]
    elif window == "cow_delete_empties":
        lake.delete_where(
            spark, "silver", "t", F.col("day") == "2", partition_col="day"
        )
        want = ["2"]
    else:
        lake.overwrite_partitions(
            _null_day(spark, 600, 630).filter(F.col("day").isNull()),
            "silver", "t", "day",
        )
        want = [NULL_SENTINEL]
    calls = _spy_read_changes(monkeypatch)
    out = mv.refresh(spark)
    assert calls == []
    assert out["strategy"] == "incremental"
    assert out["affected_partitions"] == want
    assert _got(spark, mv) == _expect(spark, lake)
    if window == "cow_delete_empties":
        assert not any(r[0] == "2" for r in _got(spark, mv))


def test_compaction_only_window_advances_from_the_log(
    spark, lake, monkeypatch
):
    lake.overwrite_partitions(_rows(spark, 0, 300), "silver", "t", "day")
    mv = _mv(lake)
    mv.refresh(spark)
    lake.compact(
        spark, "silver", "t", partition_col="day", partitions=["0"],
        vacuum=False,
    )
    lake.compact(spark, "silver", "t", partition_col="day", vacuum=False)
    calls = _spy_read_changes(monkeypatch)
    assert mv.refresh(spark)["strategy"] == "advance"
    assert calls == []
    assert _got(spark, mv) == _expect(spark, lake)


@pytest.mark.parametrize(
    "op", ["append", "delete_dv", "update_mor", "restore", "overwrite"]
)
def test_windows_the_log_does_not_name_fall_back_to_the_diff(
    spark, lake, monkeypatch, op
):
    """A commit that logs no partitions for the view's partition column
    makes the refresh diff the whole window, which still equals a
    from-scratch aggregate."""
    lake.overwrite_partitions(_rows(spark, 0, 300), "silver", "t", "day")
    mv = _mv(lake)
    mv.refresh(spark)
    # a logged-partition commit in the same window is diffed too
    lake.overwrite_partitions(
        _rows(spark, 1000, 1030).filter(F.col("day") == "0"),
        "silver", "t", "day",
    )
    if op == "append":
        lake.append(_rows(spark, 2000, 2010), "silver", "t")
    elif op == "delete_dv":
        lake.delete_where(
            spark, "silver", "t", F.col("id") < 20, mode="merge_on_read"
        )
    elif op == "update_mor":
        lake.update_where(
            spark, "silver", "t", F.col("id") < 20, {"v": F.lit(-1.0)},
            mode="merge_on_read",
        )
    elif op == "restore":
        lake.restore("silver", "t", 0)
    else:
        lake.overwrite(_rows(spark, 3000, 3090), "silver", "t")
    assert lake.snapshots("silver", "t")[-1]["operation"] == op
    calls = _spy_read_changes(monkeypatch)
    out = mv.refresh(spark)
    assert len(calls) == 1
    # the restore undoes the window's overwrite: no row changed
    assert out["strategy"] == (
        "advance" if op == "restore" else "incremental"
    )
    assert _got(spark, mv) == _expect(spark, lake)
