"""End-to-end medallion pipeline test over reference-shaped dirty
fixtures — asserts the invariants the reference records (SURVEY.md §5,
FIXTURES.md A8): orphan=0, coverage=100%, dirty rows cleaned, DST hour
structure, idempotent re-runs, cluster/calendar alignment."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from urban_mobility_data_lakehouse_spark.pipeline.fixtures import (
    DATES,
    N_ZONES,
    write_fixtures,
)
from urban_mobility_data_lakehouse_spark.pipeline.mobility import (
    MobilityPipeline,
)


@pytest.fixture(scope="module")
def pipeline(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("mobility")
    fixtures = write_fixtures(str(root / "sources"))
    p = MobilityPipeline(spark, str(root / "lake"))
    p.create_schemas()
    p.ingest_bronze(fixtures)
    p.ingest_bronze_trips(fixtures["trips_dir"], DATES)
    p.build_silver_dimensions()
    p.process_days(DATES)
    return p


def test_dim_zones_invariants(pipeline):
    dimz = pipeline.lake.read(pipeline.spark, "silver", "dim_zones")
    rows = dimz.collect()
    assert len(rows) == N_ZONES  # embedded header rows filtered
    # surrogate keys dense 1..N
    assert sorted(r["zone_id"] for r in rows) == list(range(1, N_ZONES + 1))
    # every zone got an INE code via the MIN-dedup mapping
    assert all(r["ine_code"] is not None for r in rows)
    # exactly one zone has missing geometry (the planted case)
    assert sum(r["centroid_lon"] is None for r in rows) == 1


def test_audit_dimensions(pipeline):
    m = pipeline.audit_dimensions()
    assert m["zones_missing_ine_code"] == 0
    assert m["zones_missing_geo_coords"] == 1
    assert m["total_zones"] == N_ZONES
    # population: garbage rows dropped, Zero-Trap "N.0" rows still counted
    assert m["total_population"] == sum(
        10_000 + i * 5_000 for i in range(N_ZONES)
    )
    assert m["rent_coverage_pct"] == 100.0
    # audits landed in the quality log
    log = pipeline.lake.read(pipeline.spark, "silver", "data_quality_log")
    assert log.filter(F.col("metric_name") == "total_zones").count() >= 1


def test_fact_referential_integrity(pipeline):
    """The reference's orphan anti-join audit must be empty."""
    spark = pipeline.spark
    fact = pipeline.lake.read(spark, "silver", "fact_mobility")
    dimz = pipeline.lake.read(spark, "silver", "dim_zones")
    orphans = fact.join(
        dimz.select(F.col("zone_id").alias("origin_zone_id")),
        "origin_zone_id",
        "left_anti",
    )
    assert orphans.count() == 0


def test_fact_cleaning(pipeline):
    spark = pipeline.spark
    fact = pipeline.lake.read(spark, "silver", "fact_mobility")
    # invalid date 20231035 and NULL-fecha rows dropped; external zone
    # rows dropped by the inner dim join; all trips parsed (incl the
    # Spanish "1.234,50" rows)
    assert fact.filter(F.col("trips").isNull()).count() == 0
    assert fact.filter(F.col("partition_date").isNull()).count() == 0
    n_days = fact.select("partition_date").distinct().count()
    assert n_days == len(DATES)


def test_dst_day_has_all_hours(pipeline):
    """2023-10-29 is the Europe/Madrid fall-back: hour column must still
    cover 0..23 built under the Madrid session zone."""
    spark = pipeline.spark
    fact = pipeline.lake.read(spark, "silver", "fact_mobility")
    from urban_mobility_data_lakehouse_spark.pipeline.mobility import (
        MADRID_TZ,
        session_tz,
    )
    with session_tz(spark, MADRID_TZ):
        hours = sorted(
            r[0]
            for r in fact.filter(F.col("partition_date") == "2023-10-29")
            .select(F.hour("period"))
            .distinct()
            .collect()
        )
    assert hours == list(range(24))


def test_idempotent_rerun(pipeline):
    """Re-processing a day must not duplicate it (dynamic partition
    overwrite = the reference's DELETE+INSERT)."""
    spark = pipeline.spark
    fact = pipeline.lake.read(spark, "silver", "fact_mobility")
    before = fact.filter(F.col("partition_date") == "2023-10-16").count()
    total_before = fact.count()
    pipeline.process_days(["20231016"])
    fact2 = pipeline.lake.read(spark, "silver", "fact_mobility")
    assert fact2.filter(F.col("partition_date") == "2023-10-16").count() == before
    assert fact2.count() == total_before
    # snapshot log recorded both commits
    snaps = pipeline.lake.snapshots("silver", "fact_mobility")
    assert len(snaps) >= 2
    assert snaps[-1]["operation"] == "overwrite_partitions"
    assert snaps[-1]["partitions"] == ["2023-10-16"]


def test_audit_batch(pipeline):
    m = pipeline.audit_batch(DATES)
    assert m["batch_days_loaded"] == len(DATES)
    assert m["batch_bad_row_pct"] == 0.0
    assert m["batch_rows"] > 0


def test_gold_clustering_recovers_day_types(pipeline):
    """FIXTURES A8: k=3 K-Means must separate weekday/saturday/
    sunday+holiday profiles."""
    from urban_mobility_data_lakehouse_spark.pipeline.fixtures import day_type

    pipeline.build_gold_clustering()
    spark = pipeline.spark
    assigns = pipeline.lake.read(
        spark, "gold", "dim_cluster_assignments"
    ).collect()
    assert len(assigns) == len(DATES)
    # every date of the same day-type must land in the same cluster
    by_type: dict[str, set[int]] = {}
    for r in assigns:
        d = r["date"].strftime("%Y%m%d")
        by_type.setdefault(day_type(d), set()).add(r["cluster_id"])
    assert all(len(c) == 1 for c in by_type.values()), by_type
    # and the three types in three different clusters
    assert len(set().union(*by_type.values())) == 3

    gold = pipeline.lake.read(spark, "gold", "typical_day_by_cluster")
    assert gold.count() == 3 * 24


def test_gold_gaps_and_consultation(pipeline):
    pipeline.build_gold_gaps()
    spark = pipeline.spark
    gaps = pipeline.lake.read(spark, "gold", "infrastructure_gaps")
    assert "geographic_distance_km" in gaps.columns  # reference bug fixed
    assert gaps.filter(F.col("total_trips") <= 0).count() == 0

    # polygon covering the lower-left quadrant of the zone grid
    poly = [(-8.5, 36.5), (-5.4, 36.5), (-5.4, 38.6), (-8.5, 38.6)]
    topk = pipeline.consult_gaps_topk(poly, k=5).collect()
    assert 0 < len(topk) <= 5
    mr = [r["mismatch_ratio"] for r in topk]
    assert mr == sorted(mr)

    profile = pipeline.consult_clustering_by_polygon(
        poly, "2023-10-16", "2023-11-05"
    )
    rows = profile.collect()
    assert len(rows) == 3 * 24


def test_run_pipeline_orchestration(spark, tmp_path):
    """The single-call orchestration (reference DAG order) must run
    end-to-end and return the audit metrics."""
    from urban_mobility_data_lakehouse_spark.pipeline.fixtures import (
        DATES,
        write_fixtures,
    )
    from urban_mobility_data_lakehouse_spark.pipeline.orchestration import (
        run_pipeline,
    )

    fixtures = write_fixtures(str(tmp_path / "src"))
    audits = run_pipeline(
        spark, str(tmp_path / "lake"), fixtures, DATES[:7]
    )
    assert audits["dimensions"]["zones_missing_ine_code"] == 0
    assert audits["batch"]["batch_days_loaded"] == 7


def test_reporting_degrades_without_matplotlib(spark):
    import importlib

    import pytest as _pytest

    from urban_mobility_data_lakehouse_spark import reporting

    has_mpl = importlib.util.find_spec("matplotlib") is not None
    gold = spark.createDataFrame(
        [(0, h, float(h)) for h in range(24)],
        "cluster_id int, hour int, avg_trips double",
    )
    if has_mpl:
        import tempfile, os
        out = reporting.plot_cluster_profiles(
            gold, os.path.join(tempfile.mkdtemp(), "c.png")
        )
        assert os.path.exists(out)
    else:
        with _pytest.raises(ImportError, match="matplotlib"):
            reporting.plot_cluster_profiles(gold, "/tmp/never.png")


def test_incremental_gold_refresh(pipeline):
    """CDC-driven gold refresh: bootstrap builds all days, a no-change
    call refreshes nothing, and re-processing one silver day refreshes
    exactly that gold partition."""
    p, s = pipeline, pipeline.spark

    out = p.refresh_gold_daily_demand()
    assert out["refreshed_days"] == -1.0  # bootstrap = full build

    def gold_rows():
        return {
            (str(r["partition_date"]), r["origin_zone_id"]):
                (round(r["total_trips"], 6), r["n_rows"])
            for r in p.lake.read(
                s, "gold", "daily_zone_demand"
            ).collect()
        }

    expected = {
        (str(r["partition_date"]), r["origin_zone_id"]):
            (round(r["t"], 6), r["n"])
        for r in p.lake.read(s, "silver", "fact_mobility")
        .groupBy("partition_date", "origin_zone_id")
        .agg(
            F.sum("trips").alias("t"), F.count(F.lit(1)).alias("n")
        )
        .collect()
    }
    assert gold_rows() == expected

    # nothing changed → nothing refreshed
    assert p.refresh_gold_daily_demand()["refreshed_days"] == 0.0

    # rewrite one silver day → exactly one gold day refreshes
    p.process_days(DATES[:1])
    out = p.refresh_gold_daily_demand()
    assert out["refreshed_days"] == 1.0
    assert gold_rows() == expected  # totals unchanged by the re-run


def test_generic_matview_reproduces_pipeline_gold(pipeline):
    """The generic MaterializedView, given the same definition, must
    reproduce the pipeline's hand-built CDC gold refresh — evidence the
    reusable machinery subsumes the bespoke one."""
    from urban_mobility_data_lakehouse_spark.sources.matview import (
        MaterializedView,
    )

    p, s = pipeline, pipeline.spark
    p.refresh_gold_daily_demand()  # bring the hand-built gold current
    mv = MaterializedView(
        p.lake,
        base=("silver", "fact_mobility"),
        view=("gold", "daily_zone_demand_mv"),
        group_by=["partition_date", "origin_zone_id"],
        aggs={
            "total_trips":
                "cast(sum(cast(trips as decimal(25,6))) as double)",
            "n_rows": "count(*)",
        },
        partition_col="partition_date",
    )
    mv.refresh(s)

    def rows(schema, name):
        return {
            (str(r["partition_date"]), r["origin_zone_id"]):
                (round(r["total_trips"], 6), r["n_rows"])
            for r in p.lake.read(s, schema, name).collect()
        }

    assert rows("gold", "daily_zone_demand_mv") == rows(
        "gold", "daily_zone_demand"
    )

    # mutate one silver day; both refresh paths stay in lockstep
    p.process_days(DATES[1:2])
    p.refresh_gold_daily_demand()
    out = mv.refresh(s)
    assert out["strategy"] == "incremental"
    d = str(DATES[1])  # raw YYYYMMDD → the fact's ISO partition value
    assert out["affected_partitions"] == [f"{d[:4]}-{d[4:6]}-{d[6:]}"]
    assert rows("gold", "daily_zone_demand_mv") == rows(
        "gold", "daily_zone_demand"
    )


def test_batch_bookkeeping_commits(pipeline, monkeypatch):
    """One daily batch costs 2 quality-log commits (the fact's audit row
    and one audit_batch commit) and 1 gold commit that carries the sync
    watermark; the refresh finds its cursor without reading the quality
    log."""
    from urban_mobility_data_lakehouse_spark.sources.lakehouse import (
        Lakehouse,
    )
    from urban_mobility_data_lakehouse_spark.sources.matview import (
        META_KEY,
        MaterializedView,
    )

    p, s = pipeline, pipeline.spark
    p.refresh_gold_daily_demand()  # bring gold current
    q0 = len(p.lake.snapshots("silver", "data_quality_log"))
    g0 = len(p.lake.snapshots("gold", "daily_zone_demand"))

    p.process_days(DATES[2:3])
    p.audit_batch(DATES[2:3])
    reads = []
    real_read = Lakehouse.read

    def spy(self, spark, schema, name, *args, **kwargs):
        reads.append((schema, name))
        return real_read(self, spark, schema, name, *args, **kwargs)

    monkeypatch.setattr(Lakehouse, "read", spy)
    out = p.refresh_gold_daily_demand()
    monkeypatch.undo()

    assert out["refreshed_days"] == 1.0
    assert reads and ("silver", "data_quality_log") not in reads
    assert len(p.lake.snapshots("silver", "data_quality_log")) == q0 + 2
    gold = p.lake.snapshots("gold", "daily_zone_demand")
    assert len(gold) == g0 + 1
    assert gold[-1]["operation"] == "overwrite_partitions"
    assert gold[-1][META_KEY] == out["silver_version"]

    # the 4 audit_batch rows are the whole of the batch's second commit
    audit = p.lake.read_changes(s, "silver", "data_quality_log", q0, q0 + 1)
    assert sorted(r["metric_name"] for r in audit.collect()) == [
        "batch_bad_row_pct", "batch_days_loaded",
        "batch_rows", "batch_total_trips",
    ]

    mv = MaterializedView(
        p.lake,
        base=("silver", "fact_mobility"),
        view=("gold", "daily_zone_demand"),
        group_by=["partition_date", "origin_zone_id"],
        aggs={"n_rows": "count(*)"},
        partition_col="partition_date",
    )
    assert mv.last_applied() == out["silver_version"]


@pytest.mark.parametrize("no_row_change", ["compact", "rename_column"])
def test_gold_refresh_advances_past_no_row_change(
    pipeline, monkeypatch, no_row_change
):
    """A silver compaction, or a metadata-only commit (a column renamed
    and renamed back), changes no row, so the refresh rewrites no gold
    day — but it still advances the watermark, so the next call is a
    no-op instead of re-diffing the same window."""
    from urban_mobility_data_lakehouse_spark.sources.lakehouse import (
        Lakehouse,
    )
    from urban_mobility_data_lakehouse_spark.sources.matview import (
        ADVANCE_OP,
        META_KEY,
    )

    p, s = pipeline, pipeline.spark
    p.refresh_gold_daily_demand()  # bring gold current
    if no_row_change == "compact":
        p.lake.compact(
            s, "silver", "fact_mobility",
            partition_col="partition_date", vacuum=False,
        )
    else:
        fact = ("silver", "fact_mobility")
        p.lake.rename_column(s, *fact, "processed_at", "loaded_at")
        p.lake.rename_column(s, *fact, "loaded_at", "processed_at")
    out = p.refresh_gold_daily_demand()
    assert out["refreshed_days"] == 0.0
    gold = p.lake.snapshots("gold", "daily_zone_demand")
    assert gold[-1]["operation"] == ADVANCE_OP
    assert gold[-1][META_KEY] == out["silver_version"]

    def no_diff(*args, **kwargs):
        raise AssertionError("refresh re-diffed an applied window")

    monkeypatch.setattr(Lakehouse, "read_changes", no_diff)
    assert p.refresh_gold_daily_demand() == out


def _demand_rows(p, schema, name):
    """{(day, zone): (Σ trips, rows)} of gold, or of silver aggregated
    from scratch."""
    df = p.lake.read(p.spark, schema, name)
    if schema == "silver":
        df = df.groupBy("partition_date", "origin_zone_id").agg(
            F.sum("trips").alias("total_trips"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    return {
        (str(r["partition_date"]), r["origin_zone_id"]):
            (round(r["total_trips"], 6), r["n_rows"])
        for r in df.collect()
    }


def test_gold_bootstrap_supersedes_pre_watermark_table(spark, tmp_path):
    """A gold table written before the watermark existed carries none:
    the first refresh rebuilds it in full, dropping a day that silver
    no longer holds."""
    fixtures = write_fixtures(str(tmp_path / "sources"))
    p = MobilityPipeline(spark, str(tmp_path / "lake"))
    p.create_schemas()
    p.ingest_bronze(fixtures)
    p.ingest_bronze_trips(fixtures["trips_dir"], DATES[:2])
    p.build_silver_dimensions()
    p.process_days(DATES[:2])
    stale = spark.sql(
        "SELECT DATE'2000-01-01' AS partition_date, 1 AS origin_zone_id,"
        " 5.0D AS total_trips, 1L AS n_rows"
    )
    p.lake.overwrite_partitions(
        stale, "gold", "daily_zone_demand", partition_col="partition_date"
    )

    assert p.refresh_gold_daily_demand()["refreshed_days"] == -1.0
    gold = _demand_rows(p, "gold", "daily_zone_demand")
    assert gold == _demand_rows(p, "silver", "fact_mobility")
    assert ("2000-01-01", 1) not in gold


def test_gold_refresh_rebuilds_after_vacuum(pipeline):
    """A silver compaction whose vacuum reclaims the files the refresh
    window would diff: the refresh rebuilds gold instead of
    skipping the rows the window deleted."""
    p, s = pipeline, pipeline.spark
    p.refresh_gold_daily_demand()  # bring gold current
    fact = ("silver", "fact_mobility")
    p.lake.delete_where(
        s, *fact, F.col("origin_zone_id") == 1,
        partition_col="partition_date",
    )
    # zero grace: maintenance has ALREADY reclaimed the window
    p.lake.compact(
        s, *fact, partition_col="partition_date", vacuum_grace_seconds=0
    )
    out = p.refresh_gold_daily_demand()
    assert out["refreshed_days"] == -1.0
    assert _demand_rows(p, "gold", "daily_zone_demand") == _demand_rows(
        p, "silver", "fact_mobility"
    )
    assert not any(zone == 1 for _day, zone in _demand_rows(
        p, "gold", "daily_zone_demand"
    ))
    assert p.refresh_gold_daily_demand()["refreshed_days"] == 0.0
