"""The batch audit reads the fact's commit log, not the fact: every
`process_days` commit logs each day's rows, Σ trips and bad rows
(observed on the write job), `audit_batch` sums them over the live
partitions and scans only the partitions whose logged metrics are not
usable.  Its numbers must equal a from-scratch scan after every kind of
fact commit, and quality-log rows written on the driver must read back
like the Spark-written rows they replace."""

from __future__ import annotations

import datetime as dt
import json

import pyspark.sql.functions as F
import pytest

from tests.conftest import jobs_in_group
from urban_mobility_data_lakehouse_spark.pipeline.fixtures import (
    DATES,
    write_fixtures,
)
from urban_mobility_data_lakehouse_spark.pipeline.mobility import (
    DAY_METRICS,
    MobilityPipeline,
)
from urban_mobility_data_lakehouse_spark.sources.lakehouse import (
    QUALITY_LOG_SCHEMA,
    Lakehouse,
)
from urban_mobility_data_lakehouse_spark.sources.localrel import values_df

DAYS = DATES[:4]
TOKENS = [f"{d[:4]}-{d[4:6]}-{d[6:]}" for d in DAYS]
FACT = ("silver", "fact_mobility")


@pytest.fixture(scope="module")
def pipeline(spark, tmp_path_factory):
    """Dims built and the first four days' bronze loaded one batch at
    a time (four bronze commit dirs); no silver fact yet."""
    root = tmp_path_factory.mktemp("audit_log")
    fixtures = write_fixtures(str(root / "sources"))
    p = MobilityPipeline(spark, str(root / "lake"))
    p.create_schemas()
    p.ingest_bronze(fixtures)
    p.build_silver_dimensions()
    for day in DAYS:
        p.ingest_bronze_trips(fixtures["trips_dir"], [day])
    return p


def scanned(p: MobilityPipeline) -> dict[str, float]:
    """The batch audit's numbers, aggregated from a full fact scan."""
    row = p.lake.read(p.spark, *FACT).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("trips").cast("decimal(25,6)")).cast("double").alias("t"),
        F.countDistinct("partition_date").alias("days"),
        F.sum(
            (
                F.col("origin_zone_id").isNull()
                | F.col("destination_zone_id").isNull()
            ).cast("long")
        ).alias("bad"),
    ).collect()[0]
    return {
        "batch_rows": float(row["n"]),
        "batch_total_trips": float(row["t"]),
        "batch_days_loaded": float(row["days"]),
        "batch_bad_row_pct": 100.0 * row["bad"] / max(row["n"], 1),
    }


def test_batch_reads_only_its_bronze_partitions(pipeline, monkeypatch):
    """After four loaded days the batch's bronze read plans one slice
    (one commit dir) instead of four, and returns the day's rows."""
    p, s = pipeline, pipeline.spark
    plans = []
    real_plan = Lakehouse._plan

    def spy(self, schema, name, *args, **kwargs):
        plan = real_plan(self, schema, name, *args, **kwargs)
        if (schema, name) == ("bronze", "mobility_data"):
            plans.append(plan)
        return plan

    monkeypatch.setattr(Lakehouse, "_plan", spy)
    p.process_days(DAYS[-1:])
    monkeypatch.undo()

    assert len(p.lake._plan("bronze", "mobility_data").slices) == 4
    assert [len(plan.slices) for plan in plans] == [1]
    whole = p.lake.read(s, "bronze", "mobility_data").filter(
        F.col("fecha") == DAYS[-1]
    )
    part = p.lake.read(
        s, "bronze", "mobility_data", partition_values=DAYS[-1:]
    )
    cols = ["fecha", "periodo", "origen", "destino", "viajes"]
    assert sorted(part.select(cols).collect()) == sorted(
        whole.select(cols).collect()
    )


def test_audit_equals_scan_across_fact_op_tape(pipeline):
    """After each fact commit the audit equals the from-scratch scan,
    and only partitions without usable logged metrics are scanned:
    none after `process_days` commits (0 Spark jobs), the rewritten
    ones after a partition compaction and after copy-on-write DML,
    the whole table while a deletion vector is live and after a full
    (unpartitioned) compaction, and none again once `process_days`
    rewrites the days or a restore brings its commits back."""
    p, s, lake = pipeline, pipeline.spark, pipeline.lake
    d0, d1, d2, d3 = TOKENS

    def compact():
        lake.compact(s, *FACT, partition_col="partition_date", vacuum=False)

    def on(token, zone):
        day = F.lit(dt.date.fromisoformat(token))
        return (F.col("partition_date") == day) & (
            F.col("origin_zone_id") == zone
        )

    tape = [
        ("new day", lambda: p.process_days(DAYS[:1]), []),
        ("second day", lambda: p.process_days(DAYS[1:2]), []),
        ("re-run of a day", lambda: p.process_days(DAYS[:1]), []),
        ("two-day batch", lambda: p.process_days(DAYS[2:4]), []),
        ("partition compaction", compact, TOKENS),
        ("re-run of every day", lambda: p.process_days(DAYS), []),
        ("cow delete", lambda: lake.delete_where(
            s, *FACT, on(d1, 1), partition_col="partition_date"), [d1]),
        ("cow update to bad rows", lambda: lake.update_where(
            s, *FACT, on(d2, 2), {"destination_zone_id": F.lit(None)},
            partition_col="partition_date"), [d1, d2]),
        ("mor delete", lambda: lake.delete_where(
            s, *FACT, on(d3, 3), mode="merge_on_read"), None),
        ("compaction applying the vector", compact, TOKENS),
        ("full compaction", lambda: lake.compact(s, *FACT, vacuum=False),
         None),
        ("restore", lambda: lake.restore(*FACT, restored), []),
    ]
    restored = None
    for step, commit, unusable in tape:
        commit()
        if step == "two-day batch":
            restored = lake.snapshots(*FACT)[-1]["version"]
        logged, rest = lake.logged_partition_metrics(*FACT, DAY_METRICS)
        assert rest == unusable, step
        if rest is not None:
            live = set(lake._manifest(*FACT)[0])
            assert set(logged) == live - set(rest), step
        audit, jobs = jobs_in_group(
            s, f"audit-{step}", lambda: p.audit_batch(DAYS)
        )
        assert audit == scanned(p), step
        assert (jobs == 0) == (unusable == []), step
    assert scanned(p)["batch_bad_row_pct"] == 0.0  # restored past the update


def test_daily_batch_audit_runs_no_spark_job(pipeline):
    """A daily batch's audit — the sum over logged metrics plus its
    quality-log commit — launches no Spark job, and logs the same four
    metrics the scan would."""
    p = pipeline
    p.process_days(DAYS[:1])
    q0 = len(p.lake.snapshots("silver", "data_quality_log"))
    audit, jobs = jobs_in_group(
        p.spark, "audit", lambda: p.audit_batch(DAYS[:1])
    )
    assert jobs == 0
    assert audit == scanned(p)
    logged = {
        r["metric_name"]: r["metric_value"]
        for r in p.lake.read_changes(
            p.spark, "silver", "data_quality_log", q0 - 1
        ).collect()
    }
    assert logged == audit


def test_metrics_that_disagree_with_the_logged_files_are_not_used(pipeline):
    """A partition whose logged metrics count other rows than its
    commit's files hold (a partial observation) is scanned instead."""
    p, lake = pipeline, pipeline.lake
    p.process_days(DAYS[:2])
    path = lake._table_dir(*FACT)
    with open(f"{path}/_snapshots.jsonl") as f:
        lines = f.read().splitlines()
    last = json.loads(lines[-1])
    last[DAY_METRICS][TOKENS[0]]["rows"] += 1
    lines[-1] = json.dumps(last)
    with open(f"{path}/_snapshots.jsonl", "w") as f:
        f.write("\n".join(lines) + "\n")
    logged, rest = lake.logged_partition_metrics(*FACT, DAY_METRICS)
    assert rest == [TOKENS[0]] and TOKENS[1] in logged
    assert p.audit_batch(DAYS) == scanned(p)


ROWS = [
    (dt.datetime(2024, 3, 31, 1, 30, 15, 123456, tzinfo=dt.timezone.utc),
     "silver.t", "rows", 12.5, None),
    (dt.datetime(2024, 3, 31, 1, 30, 15, 123456, tzinfo=dt.timezone.utc),
     "silver.t", "bad", 0.0, "a note"),
]


def collected(df):
    return sorted(map(tuple, df.collect()), key=str)


@pytest.mark.parametrize("through", ["direct", "transaction"])
def test_driver_written_rows_read_back_like_spark_written(
    spark, tmp_path, through
):
    """`append_rows` commits what a Spark append of the same rows
    commits: same logged schema, same types and values through `read`,
    `read_changes` and `history`, NULL notes and the timestamp
    included — without a Spark job."""
    lake = Lakehouse(str(tmp_path))
    lake.create_schemas("silver")
    commits = (ROWS, ROWS[:1])
    for rows in commits:
        lake.append(
            values_df(spark, rows, QUALITY_LOG_SCHEMA), "silver", "by_spark"
        )

    def write(rows):
        args = (rows, QUALITY_LOG_SCHEMA, "silver", "by_driver")
        if through == "direct":
            lake.append_rows(*args)
        else:
            with lake.transaction() as txn:
                txn.append_rows(*args)

    for i, rows in enumerate(commits):
        _, jobs = jobs_in_group(spark, f"rows-{i}", lambda: write(rows))
        assert jobs == 0
    for want, got in zip(*(
        lake.snapshots("silver", t) for t in ("by_spark", "by_driver")
    )):
        assert got["operation"] == want["operation"] == "append"
        assert got["schema"] == want["schema"]
        assert len(got["files"]) == 1
        assert got["files"][0]["rows"] == sum(
            f["rows"] for f in want["files"]
        )

    def views(table):
        return [
            lake.read(spark, "silver", table),
            lake.read(spark, "silver", table, version=0),
            lake.read_changes(spark, "silver", table, 0),
        ]

    for want_df, got_df in zip(views("by_spark"), views("by_driver")):
        assert got_df.dtypes == want_df.dtypes
        assert collected(got_df) == collected(want_df)
    rows = lake.read(spark, "silver", "by_driver").collect()
    assert sorted(r["notes"] or "" for r in rows) == ["", "", "a note"]
    assert {r["check_timestamp"] for r in rows} == {
        ROWS[0][0].astimezone().replace(tzinfo=None)
    }
    ops = [
        [tuple(r)[2:5] for r in lake.history(spark, "silver", t).collect()]
        for t in ("by_spark", "by_driver")
    ]
    assert ops[0] == ops[1] == [("append", None, None)] * 2


def test_driver_rows_refused_where_spark_writes_guarantee_more(
    spark, tmp_path
):
    """CHECK constraints, column mapping and a partition spec are
    enforced on the Spark write path only, so driver rows are refused
    on such tables."""
    lake = Lakehouse(str(tmp_path))
    lake.create_schemas("silver")
    for table in ("checked", "renamed", "spec"):
        lake.append(
            values_df(spark, ROWS, QUALITY_LOG_SCHEMA), "silver", table
        )
    lake.add_constraint("silver", "checked", "nonneg", "metric_value >= 0")
    lake.rename_column(spark, "silver", "renamed", "notes", "comment")
    lake.set_partition_spec("silver", "spec", "days(check_timestamp)")
    for table in ("checked", "renamed", "spec"):
        before = lake.snapshots("silver", table)
        with pytest.raises(ValueError, match="driver-written rows"):
            lake.append_rows(ROWS, QUALITY_LOG_SCHEMA, "silver", table)
        assert lake.snapshots("silver", table) == before
