"""Iceberg-style hidden partitioning (sources/transforms.py +
Lakehouse.set_partition_spec).

The contract under test: writers never materialize a partition
column, readers never see one, and `read_where` predicates on the RAW
source column prune partition directories through the transform —
with full row parity against an unpruned filter at every step.
"""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest

from urban_mobility_data_lakehouse_spark.sources.lakehouse import Lakehouse
from urban_mobility_data_lakehouse_spark.sources.testdata import load_table
from urban_mobility_data_lakehouse_spark.sources.transforms import (
    PartitionSpec,
    parse_spec,
    partition_survives,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def events(spark):
    # 1000 rows over 30 distinct days, Jan 2024
    return load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


def _ids(df):
    return sorted(r["event_id"] for r in df.select("event_id").collect())


# -- transform algebra ---------------------------------------------


def test_parse_spec_forms():
    assert parse_spec("days(ts)") == PartitionSpec("days", "ts")
    assert parse_spec("bucket(16, user_id)") == PartitionSpec(
        "bucket", "user_id", 16
    )
    assert parse_spec("truncate(4, code)") == PartitionSpec(
        "truncate", "code", 4
    )
    with pytest.raises(ValueError):
        parse_spec("days(16, ts)")
    with pytest.raises(ValueError):
        parse_spec("bucket(ts)")
    with pytest.raises(ValueError):
        parse_spec("years(ts)")


@pytest.mark.parametrize(
    "spec_s,col",
    [
        ("days(ts)", "ts"),
        ("hours(ts)", "ts"),
        ("months(ts)", "ts"),
        ("bucket(8, user_id)", "user_id"),
        ("truncate(100, user_id)", "user_id"),
        ("truncate(3, event_type)", "event_type"),
        ("identity(event_type)", "event_type"),
    ],
)
def test_spark_and_python_twins_agree(spark, events, spec_s, col):
    """derive() and value_of must agree value-for-value — the pruning
    soundness hinges on it."""
    spec = parse_spec(spec_s)
    rows = (
        events.select(
            F.col(col).alias("src"),
            spec.derive(events).alias(spec.hidden_col),
        )
        .distinct()
        .collect()
    )
    for r in rows:
        assert spec.value_of(r["src"]) == r[spec.hidden_col], (
            spec_s,
            r["src"],
        )


# -- write/read round trip ------------------------------------------


def test_hidden_write_read_roundtrip(spark, events, tmp_path):
    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")
    lake.set_partition_spec("silver", "events", "days(ts)")
    lake.overwrite_partitions(events, "silver", "events")
    out = lake.read(spark, "silver", "events")
    # logical schema only — the derived column stays hidden
    assert out.columns == events.columns
    assert _ids(out) == _ids(events)
    # layout: one directory per distinct UTC day
    detail = lake.describe_detail("silver", "events")
    assert detail["partition_columns"] == ["_p_days_ts"]
    assert detail["partition_spec"] == "days(ts)"  # catalog surface


def test_raw_range_predicate_prunes_days(spark, events, tmp_path):
    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")
    lake.set_partition_spec("silver", "events", "days(ts)")
    lake.overwrite_partitions(events, "silver", "events")
    full = lake.read(spark, "silver", "events")
    n_files = len(full.inputFiles())
    lo = dt.datetime(2024, 1, 10)
    hi = dt.datetime(2024, 1, 12)
    pruned = lake.read_where(
        spark,
        "silver",
        "events",
        [("ts", ">=", lo), ("ts", "<", hi)],
    )
    # 30 day-partitions; a 2-day window must plan a small fraction
    assert 0 < len(pruned.inputFiles()) <= n_files // 5
    assert _ids(pruned) == _ids(
        full.filter((F.col("ts") >= lo) & (F.col("ts") < hi))
    )


def test_bucket_equality_prunes_to_one_partition(spark, events, tmp_path):
    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")
    lake.set_partition_spec("silver", "events", "bucket(8, user_id)")
    lake.overwrite_partitions(events, "silver", "events")
    full = lake.read(spark, "silver", "events")
    probe = full.select("user_id").first()["user_id"]
    pruned = lake.read_where(
        spark, "silver", "events", [("user_id", "=", probe)]
    )
    got_dirs = {p.rsplit("/", 2)[-2] for p in pruned.inputFiles()}
    assert len(got_dirs) == 1  # exactly the probe's bucket directory
    assert _ids(pruned) == _ids(full.filter(F.col("user_id") == probe))
    # range predicates must NOT prune through a bucket transform
    lo = int(probe)
    unpruned = lake.read_where(
        spark, "silver", "events", [("user_id", ">=", lo)]
    )
    assert _ids(unpruned) == _ids(full.filter(F.col("user_id") >= lo))


def test_months_and_in_list_pruning_parity(spark, events, tmp_path):
    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")
    lake.set_partition_spec("silver", "events", "days(ts)")
    lake.overwrite_partitions(events, "silver", "events")
    full = lake.read(spark, "silver", "events")
    days = [dt.datetime(2024, 1, 5, 12, 0), dt.datetime(2024, 1, 20)]
    # equality/in prune to the exact day partitions
    pruned = lake.read_where(
        spark, "silver", "events",
        [("ts", ">=", days[0]), ("ts", "<", days[0] + dt.timedelta(1))],
    )
    assert len({p.rsplit("/", 2)[-2] for p in pruned.inputFiles()}) <= 2


def test_row_ops_without_partition_col(spark, events, tmp_path):
    """delete_where / merge_into on a hidden-spec table need no
    partition_col; CDC and reads never surface the derived column."""
    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")
    lake.set_partition_spec("silver", "events", "days(ts)")
    lake.overwrite_partitions(events, "silver", "events")

    # DELETE a user's rows (GDPR shape) — no partition col anywhere
    victim = events.select("user_id").first()["user_id"]
    lake.delete_where(
        spark, "silver", "events", F.col("user_id") == victim
    )
    out = lake.read(spark, "silver", "events")
    assert out.filter(F.col("user_id") == victim).count() == 0
    assert out.columns == events.columns

    # MERGE: bump value for 10 rows + insert 2 fresh rows
    upd = events.filter(F.col("event_id") < 10).withColumn(
        "value", F.col("value") + 1000
    )
    fresh = events.filter(F.col("event_id").isin(990, 991)).withColumn(
        "event_id", F.col("event_id") + 100000
    )
    lake.merge_into(
        spark, "silver", "events",
        upd.unionByName(fresh), key="event_id",
    )
    out2 = lake.read(spark, "silver", "events")
    assert out2.filter(F.col("event_id") == 100990).count() == 1
    assert (
        out2.filter(F.col("event_id") < 10)
        .filter(F.col("value") < 1000)
        .count()
        == 0
    )
    # CDC: no hidden column in the change feed
    changes = lake.read_changes(spark, "silver", "events", 0, 1)
    assert not [c for c in changes.columns if c.startswith("_p_")]


def test_compact_preserves_hidden_layout(spark, events, tmp_path):
    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")
    lake.set_partition_spec("silver", "events", "days(ts)")
    # two half-writes → 2 files per day partition
    lake.overwrite_partitions(
        events.filter(F.col("event_id") % 2 == 0), "silver", "events"
    )
    half2 = events.filter(F.col("event_id") % 2 == 1)
    lake.merge_into(spark, "silver", "events", half2, key="event_id")
    lake.compact(spark, "silver", "events")
    out = lake.read(spark, "silver", "events")
    assert _ids(out) == _ids(events)
    # still day-partitioned after compaction: a day probe stays pruned
    lo = dt.datetime(2024, 1, 10)
    pruned = lake.read_where(
        spark, "silver", "events",
        [("ts", ">=", lo), ("ts", "<", lo + dt.timedelta(1))],
    )
    assert len(pruned.inputFiles()) <= 2


def test_spec_change_after_data_refused(spark, events, tmp_path):
    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")
    lake.set_partition_spec("silver", "events", "days(ts)")
    lake.overwrite_partitions(events, "silver", "events")
    with pytest.raises(ValueError, match="cannot change"):
        lake.set_partition_spec("silver", "events", "months(ts)")
    # re-declaring the SAME spec is fine (idempotent deploys)
    lake.set_partition_spec("silver", "events", "days(ts)")


def test_partition_survives_is_conservative():
    spec = parse_spec("days(ts)")
    day = str(
        (dt.datetime(2024, 1, 10) - dt.datetime(1970, 1, 1)).days
    )
    # unparseable literal, unknown op → survive
    assert partition_survives(spec, [("ts", ">=", object())], day)
    assert partition_survives(spec, [("ts", "like", "x")], day)
    # other columns ignored
    assert partition_survives(spec, [("user_id", "=", 5)], day)
    # a proving predicate does prune
    assert not partition_survives(
        spec, [("ts", "<", dt.datetime(2024, 1, 9))], day
    )
    assert partition_survives(
        spec, [("ts", "<", dt.datetime(2024, 1, 10, 0, 0, 1))], day
    )


def test_non_utc_session_boundary_rows_survive(spark, tmp_path):
    """A naive predicate literal is read in the SESSION timezone by
    the residual filter; the pruning twin must agree or a non-UTC
    session silently loses the boundary hours (partitions bucket UTC
    instants; Madrid midnight is 23:00 inside the PREVIOUS UTC day)."""
    tz0 = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Europe/Madrid")
    try:
        rows = [
            (i, dt.datetime(2024, 1, 9) + dt.timedelta(minutes=10 * i))
            for i in range(6 * 24 * 3)  # every 10 min, Jan 9-11
        ]
        df = spark.createDataFrame(rows, "event_id bigint, ts timestamp")
        lake = Lakehouse(str(tmp_path / "lake"))
        lake.create_schemas("s")
        lake.set_partition_spec("s", "ev", "days(ts)")
        lake.overwrite_partitions(df, "s", "ev")
        full = lake.read(spark, "s", "ev")
        lo = dt.datetime(2024, 1, 10)  # Madrid midnight = Jan 9 23:00 UTC
        hi = dt.datetime(2024, 1, 11)
        pruned = lake.read_where(
            spark, "s", "ev", [("ts", ">=", lo), ("ts", "<", hi)]
        )
        assert _ids(pruned) == _ids(
            full.filter((F.col("ts") >= lo) & (F.col("ts") < hi))
        )
        # pruning still happened (4 surviving UTC-day partitions max)
        assert 0 < len(pruned.inputFiles()) < len(full.inputFiles())
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)


def test_zorder_compaction_composes_with_hidden_spec(
    spark, events, tmp_path
):
    """compact(zorder_by=...) on a hidden-spec table keeps the derived
    day layout AND z-orders within each day — a (ts-range, user_id)
    box query then prunes partitions through the transform and files
    through the z-ordered stats, with full parity."""
    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")
    lake.set_partition_spec("silver", "events", "days(ts)")
    lake.overwrite_partitions(events, "silver", "events")
    lake.compact(
        spark, "silver", "events", zorder_by=["user_id", "value"]
    )
    full = lake.read(spark, "silver", "events")
    assert _ids(full) == _ids(events)
    lo = dt.datetime(2024, 1, 10)
    hi = dt.datetime(2024, 1, 13)
    uid = full.select("user_id").first()["user_id"]
    pruned = lake.read_where(
        spark, "silver", "events",
        [("ts", ">=", lo), ("ts", "<", hi), ("user_id", "=", uid)],
    )
    # ≤ 4 surviving day partitions (3-day window + inclusive bound),
    # one compacted file each
    assert 0 < len(pruned.inputFiles()) <= 4
    assert _ids(pruned) == _ids(
        full.filter(
            (F.col("ts") >= lo)
            & (F.col("ts") < hi)
            & (F.col("user_id") == uid)
        )
    )


def test_spec_evolution_via_clone(spark, events, tmp_path):
    """The spec-change refusal points at clone; prove the path: a
    days(ts) table re-layouts to months(ts) by declaring the new spec
    on the destination and cloning — data identical, new pruning."""
    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")
    lake.set_partition_spec("silver", "events", "days(ts)")
    lake.overwrite_partitions(events, "silver", "events")

    lake.set_partition_spec("silver", "events_m", "months(ts)")
    lake.clone(spark, "silver", "events", "silver", "events_m")
    out = lake.read(spark, "silver", "events_m")
    assert _ids(out) == _ids(events)
    detail = lake.describe_detail("silver", "events_m")
    assert detail["partition_spec"] == "months(ts)"
    assert detail["partition_columns"] == ["_p_months_ts"]
    # the new layout prunes on month ranges (all data is Jan 2024 →
    # a Feb-onward probe plans nothing, a Jan probe plans everything)
    none = lake.read_where(
        spark, "silver", "events_m",
        [("ts", ">=", dt.datetime(2024, 2, 1))],
    )
    assert none.count() == 0 and len(none.inputFiles()) == 0


def test_mor_delete_and_txn_on_hidden_table(spark, events, tmp_path):
    """Deletion vectors and atomic transactions compose with hidden
    specs: a merge-on-read DELETE masks rows without touching the day
    layout, compact materializes it partition-preserving, and a
    transaction stages a hidden-partitioned overwrite atomically."""
    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")
    lake.set_partition_spec("silver", "events", "days(ts)")
    with lake.transaction() as txn:  # spec resolved inside the txn
        txn.overwrite_partitions(events, "silver", "events")
    full = lake.read(spark, "silver", "events")
    assert _ids(full) == _ids(events)

    victim = events.select("user_id").first()["user_id"]
    v_before = lake.snapshots("silver", "events")[-1]["version"]
    lake.delete_where(
        spark, "silver", "events",
        F.col("user_id") == victim, mode="merge_on_read",
    )
    out = lake.read(spark, "silver", "events")
    assert out.filter(F.col("user_id") == victim).count() == 0
    assert out.columns == events.columns
    # DV delete: no partition rewritten (the day layout is untouched)
    assert (
        lake.snapshots("silver", "events")[-1]["operation"]
        == "delete_dv"
    )
    masked_ids = _ids(out)  # collect BEFORE vacuum reclaims v-dirs
    lake.compact(spark, "silver", "events")
    # materialized, still day-partitioned, still masked
    out2 = lake.read(spark, "silver", "events")
    assert out2.filter(F.col("user_id") == victim).count() == 0
    assert _ids(out2) == masked_ids
    import datetime as dtm

    lo = dtm.datetime(2024, 1, 10)
    pruned = lake.read_where(
        spark, "silver", "events",
        [("ts", ">=", lo), ("ts", "<", lo + dtm.timedelta(1))],
    )
    assert len(pruned.inputFiles()) <= 2


def test_appends_are_spec_partitioned_and_pruned(spark, events, tmp_path):
    """`append` on a hidden-spec table lays the additive commit out by
    the derived value too, and read_where transform-prunes those dirs
    exactly like overwrite commits — the streaming-append shape."""
    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")
    lake.set_partition_spec("silver", "events", "days(ts)")
    first = events.filter(F.col("event_id") < 500)
    rest = events.filter(F.col("event_id") >= 500)
    lake.overwrite_partitions(first, "silver", "events")
    lake.append(rest, "silver", "events")  # additive, spec-partitioned
    full = lake.read(spark, "silver", "events")
    assert _ids(full) == _ids(events)
    assert full.columns == events.columns
    lo = dt.datetime(2024, 1, 10)
    hi = dt.datetime(2024, 1, 12)
    pruned = lake.read_where(
        spark, "silver", "events", [("ts", ">=", lo), ("ts", "<", hi)]
    )
    assert _ids(pruned) == _ids(
        full.filter((F.col("ts") >= lo) & (F.col("ts") < hi))
    )
    # both the overwrite dir AND the append dir pruned to ~3 day
    # subdirs each (inclusive bound) out of ~30 days per dir
    assert 0 < len(pruned.inputFiles()) <= 8
    n_full = len(full.inputFiles())
    assert len(pruned.inputFiles()) < n_full // 4


def test_partition_scoped_compact_where(spark, events, tmp_path):
    """OPTIMIZE ... WHERE: compacting a 2-day window rewrites ONLY
    those day partitions; untouched partitions keep their exact file
    identities through the commit AND the vacuum."""
    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")
    lake.set_partition_spec("silver", "events", "days(ts)")
    lake.overwrite_partitions(
        events.filter(F.col("event_id") % 2 == 0), "silver", "events"
    )
    lake.merge_into(
        spark, "silver", "events",
        events.filter(F.col("event_id") % 2 == 1), key="event_id",
    )
    # fragment every day partition EXPLICITLY (commit writes are
    # one-file-per-partition by construction now, so fragmentation
    # must be manufactured — the 2-files/partition layout a
    # target_files_per_partition compaction legitimately produces)
    lake.compact(
        spark, "silver", "events", target_files_per_partition=2,
        vacuum_grace_seconds=0,
    )
    full_before = lake.read(spark, "silver", "events")
    ids_before = _ids(full_before)
    lo = dt.datetime(2024, 1, 10)
    hi = dt.datetime(2024, 1, 12)
    in_window = [("ts", ">=", lo), ("ts", "<", hi)]
    out_day = dt.datetime(2024, 1, 20)
    out_window = [
        ("ts", ">=", out_day),
        ("ts", "<", out_day + dt.timedelta(1)),
    ]
    untouched_files = set(
        lake.read_where(spark, "silver", "events", out_window).inputFiles()
    )
    window_files_before = len(
        lake.read_where(spark, "silver", "events", in_window).inputFiles()
    )

    lake.compact(spark, "silver", "events", where=in_window)

    # data identical, window partitions now 1 file per day
    assert _ids(lake.read(spark, "silver", "events")) == ids_before
    window_files_after = len(
        lake.read_where(spark, "silver", "events", in_window).inputFiles()
    )
    assert window_files_after < window_files_before
    # ≤ 3 surviving day dirs (2-day window + inclusive bound), 1 file each
    assert window_files_after <= 3
    # the out-of-window partition's physical files are untouched
    assert (
        set(
            lake.read_where(
                spark, "silver", "events", out_window
            ).inputFiles()
        )
        == untouched_files
    )


def test_partition_scoped_compact_guards(spark, events, tmp_path):
    """Scoped compaction refuses additive dirs (append / MoR rows live
    outside the partition manifest) and works with explicit
    partitions= on physically partitioned tables."""
    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")
    days = events.withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    lake.overwrite_partitions(days, "silver", "ev", partition_col="day")
    lake.overwrite_partitions(
        days.filter(F.col("day") == "2024-01-10"),
        "silver", "ev", partition_col="day",
    )
    ids0 = _ids(lake.read(spark, "silver", "ev"))
    res = lake.compact(
        spark, "silver", "ev",
        partition_col="day", partitions=["2024-01-10"],
        vacuum_grace_seconds=0,  # quiescent: count reclaimed files now
    )
    assert res["files_after"] <= res["files_before"]
    assert _ids(lake.read(spark, "silver", "ev")) == ids0

    # additive dir → refuse scoped, demand full compact
    lake.append(days.limit(5), "silver", "ev")
    with pytest.raises(ValueError, match="partition-disciplined"):
        lake.compact(
            spark, "silver", "ev",
            partition_col="day", partitions=["2024-01-10"],
        )


def test_concurrent_disjoint_hidden_day_writers(spark, events, tmp_path):
    """Optimistic concurrency composes with hidden specs: 4 threads
    each write a DIFFERENT derived day concurrently — all commit,
    linear history, no lost partition."""
    from concurrent.futures import ThreadPoolExecutor

    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")
    lake.set_partition_spec("silver", "events", "days(ts)")
    slices = [
        events.filter(
            (F.col("ts") >= dt.datetime(2024, 1, d))
            & (F.col("ts") < dt.datetime(2024, 1, d + 1))
        )
        for d in (5, 6, 7, 8)
    ]

    def write(df):
        lake.overwrite_partitions(df, "silver", "events")

    with ThreadPoolExecutor(max_workers=4) as ex:
        list(ex.map(write, slices))

    snaps = lake.snapshots("silver", "events")
    assert [e["version"] for e in snaps] == list(range(4))
    part_map, _, _ = lake._manifest("silver", "events")
    assert len(part_map) == 4  # one derived-day partition per writer
    total = sum(s.count() for s in slices)
    assert lake.read(spark, "silver", "events").count() == total


def test_pre_epoch_timestamps_roundtrip_and_prune(spark, tmp_path):
    """Negative epoch days: 1960s timestamps derive negative partition
    values ('-3653'); write, read, and range-prune must stay exact
    (floor semantics, not truncation toward zero)."""
    rows = [
        (i, dt.datetime(1960, 1, 1) + dt.timedelta(hours=6 * i))
        for i in range(40)  # 10 days straddling nothing special
    ] + [(100 + i, dt.datetime(1970, 1, 1) + dt.timedelta(hours=6 * i))
         for i in range(8)]
    df = spark.createDataFrame(rows, "event_id bigint, ts timestamp")
    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("s")
    lake.set_partition_spec("s", "ev", "days(ts)")
    lake.overwrite_partitions(df, "s", "ev")
    full = lake.read(spark, "s", "ev")
    assert _ids(full) == _ids(df)
    lo = dt.datetime(1960, 1, 3)
    hi = dt.datetime(1960, 1, 5)
    pruned = lake.read_where(
        spark, "s", "ev", [("ts", ">=", lo), ("ts", "<", hi)]
    )
    assert _ids(pruned) == _ids(
        df.filter((F.col("ts") >= lo) & (F.col("ts") < hi))
    )
    # 2-day window + inclusive bound = ≤3 partition DIRS (a dir may
    # hold several task files)
    dirs = {f.rsplit("/", 2)[-2] for f in pruned.inputFiles()}
    assert 0 < len(dirs) <= 3
    assert all(d.startswith("_p_days_ts=-") for d in dirs)


def test_escaped_and_null_partition_values_read_exactly(
    spark, tmp_path
):
    """Hidden-spec partitions whose directory names need hive
    escaping ('a:b' → 'a%3Ab') or the NULL sentinel must behave
    exactly like plain ones: read_where finds their rows under any
    predicate shape (the r11 canonical-token fix — constructed-name
    matching silently dropped them), transform pruning on the source
    column keeps/kills the right dirs, and export_manifest lists
    their files."""
    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")
    lake.set_partition_spec("silver", "t", "identity(k)")
    df = spark.createDataFrame(
        [(1, None, 10), (2, "a:b", 20), (3, "plain", 30),
         (4, "a:b", 40)],
        "id long, k string, v long",
    )
    lake.overwrite_partitions(df, "silver", "t")
    # non-source predicates: all rows reachable
    assert lake.read_where(
        spark, "silver", "t", [("id", ">=", 1)]
    ).count() == 4
    assert sorted(
        r["id"]
        for r in lake.read_where(
            spark, "silver", "t", [("id", "in", [1, 2])]
        ).collect()
    ) == [1, 2]
    # source-column predicate: transform pruning must keep the
    # ESCAPED dir for its canonical value (and actually prune)
    hit = lake.read_where(spark, "silver", "t", [("k", "=", "a:b")])
    assert sorted(r["id"] for r in hit.collect()) == [2, 4]
    assert len(hit.inputFiles()) < len(
        lake.read(spark, "silver", "t").inputFiles()
    )
    # partition_values read (the IVF probe shape) on the NULL token
    # (the sentinel)
    from urban_mobility_data_lakehouse_spark.sources.lakehouse import (
        NULL_SENTINEL,
    )

    null_rows = lake.read(
        spark, "silver", "t", partition_values=[NULL_SENTINEL]
    ).collect()
    assert [r["id"] for r in null_rows] == [1]
    # the manifest must list the escaped + sentinel dirs' files
    man = lake.export_manifest("silver", "t", write=False)
    assert len(man["hive_files"]) == len(
        lake.read(spark, "silver", "t").inputFiles()
    )
    assert any("%3A" in f or "%3a" in f for f in man["hive_files"])
    assert any("__HIVE_DEFAULT_PARTITION__" in f for f in man["hive_files"])
