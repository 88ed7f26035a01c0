"""Source-layer tests: pandas ingest (S5), HTTP prefetch with encoding
repair (S7: file:// plus a real http:// loopback server), bronze CSV
contract."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from urban_mobility_data_lakehouse_spark.sources.csv import (
    fetch_url,
    read_bronze_csv,
)


def test_pandas_ingest_arrow(spark):
    """S5: con.register(pandas_df) analog — spark.createDataFrame over
    Arrow, then joinable like any table (the geo-API and KMeans-result
    ingestion path)."""
    import pandas as pd

    pdf = pd.DataFrame(
        {"zone": ["01001", "01002"], "wkt": ["POLYGON((0 0,1 0,1 1,0 1,0 0))"] * 2}
    )
    df = spark.createDataFrame(pdf)
    assert df.count() == 2
    assert dict(df.dtypes) == {"zone": "string", "wkt": "string"}
    joined = df.alias("a").join(
        df.alias("b"), F.col("a.zone") == F.col("b.zone")
    )
    assert joined.count() == 2


def test_fetch_url_encoding_repair(tmp_path):
    """S7: BOM strip + encoding fallback, driven through a file:// URL."""
    raw = tmp_path / "raw.csv"
    # ISO-8859-1 content with accented chars + a BOM-less header
    raw.write_bytes("Municipio;Año\nCastellón;2023\n".encode("ISO-8859-1"))
    out = fetch_url(raw.as_uri(), str(tmp_path / "fixed.csv"))
    text = open(out, encoding="utf-8").read()
    assert "Castellón" in text and "Año" in text

    bom = tmp_path / "bom.csv"
    bom.write_bytes("﻿ID|name\n01001|Zona\n".encode("utf-8"))
    out2 = fetch_url(bom.as_uri(), str(tmp_path / "fixed2.csv"))
    assert open(out2, encoding="utf-8").read().startswith("ID|name")


def test_bronze_csv_audit_columns(spark, tmp_path):
    src = tmp_path / "t.csv"
    src.write_text("a,b\n1,x\n2,y\n")
    df = read_bronze_csv(spark, str(src), source_url="https://example/t.csv")
    rows = df.collect()
    assert {"a", "b", "ingestion_timestamp", "source_url", "filename"} <= set(
        df.columns
    )
    assert all(r["source_url"] == "https://example/t.csv" for r in rows)
    assert all(r["filename"].endswith("t.csv") for r in rows)
    # all data columns arrive as strings (schema-on-read contract)
    assert dict(df.dtypes)["a"] == "string"


def test_sql_repl_surface(spark, tmp_path):
    """§3.3 interactive-session parity: register the synthetic tables as
    views, then drive everything through spark.sql — ad-hoc joins,
    DESCRIBE, catalog listing (the notebook's con.execute(...).df()
    loop becomes spark.sql(...).toPandas())."""
    from urban_mobility_data_lakehouse_spark.sources.testdata import (
        TESTDATA_TABLES,
        register_views,
    )

    register_views(spark, "/root/testdata/sf0.001")
    listed = {t.name for t in spark.catalog.listTables()}
    assert set(TESTDATA_TABLES) <= listed

    top = spark.sql("""
        SELECT n.n_name, count(*) AS n_customers
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name ORDER BY n_customers DESC, n_name LIMIT 5
    """).collect()
    assert len(top) == 5 and top[0]["n_customers"] >= top[-1]["n_customers"]

    desc = {r["col_name"]: r["data_type"] for r in spark.sql("DESCRIBE events").collect()}
    assert desc["event_type"] == "string"
    # SUMMARIZE analog (A12): df.summary() runs over the view
    assert spark.table("orders").select("o_totalprice").summary("count", "min", "max").count() == 3


def test_lakehouse_compact(spark, tmp_path):
    """OPTIMIZE analog: many small files per partition → one; data
    identical; snapshot history records the compaction."""
    import pyspark.sql.functions as F

    from urban_mobility_data_lakehouse_spark.sources.lakehouse import (
        Lakehouse,
    )
    from urban_mobility_data_lakehouse_spark.sources.testdata import (
        load_table,
    )

    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")
    events = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "value", F.to_date("ts").alias("partition_date")
    )
    # deliberately fragment ACROSS COMMITS (per-commit writes are
    # one-file-per-partition by construction): base overwrite plus two
    # appends — the streaming-accretion shape compaction exists for
    lake.overwrite_partitions(
        events.filter(F.col("event_id") % 3 == 0),
        "silver", "frag", partition_col="partition_date",
    )
    lake.append(events.filter(F.col("event_id") % 3 == 1), "silver", "frag")
    lake.append(events.filter(F.col("event_id") % 3 == 2), "silver", "frag")
    before_rows = sorted(
        (r["event_id"], r["value"]) for r in lake.read(spark, "silver", "frag").collect()
    )
    n_parts = events.select("partition_date").distinct().count()
    assert lake.describe_detail("silver", "frag")["num_files"] > n_parts

    stats = lake.compact(
        spark, "silver", "frag", partition_col="partition_date",
        vacuum_grace_seconds=0.0,  # quiescent test: reclaim now
    )
    assert stats["files_after"] == n_parts < stats["files_before"]
    after_rows = sorted(
        (r["event_id"], r["value"]) for r in lake.read(spark, "silver", "frag").collect()
    )
    assert after_rows == before_rows
    assert (
        lake.snapshots("silver", "frag")[-1]["operation"]
        == "compact_partitioned"
    )


def test_lakehouse_time_travel(spark, tmp_path):
    """S12 versioned reads: overwrite a partition twice, read version
    N-1, see the old rows (Delta VERSION AS OF / DuckLake snapshot
    read analog) — and vacuum-after-compact bounds retained history."""
    import pyspark.sql.functions as F

    from urban_mobility_data_lakehouse_spark.sources.lakehouse import (
        Lakehouse,
    )

    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")

    def day_df(day: str, values):
        return spark.createDataFrame(
            [(i, float(v), day) for i, v in enumerate(values)],
            "event_id long, value double, partition_date string",
        ).withColumn(
            "partition_date", F.to_date("partition_date")
        )

    # v0: two days; v1: day 2 rewritten with different values
    lake.overwrite_partitions(
        day_df("2024-01-01", [1, 2]).unionByName(
            day_df("2024-01-02", [3, 4])
        ),
        "silver", "tt", partition_col="partition_date",
    )
    lake.overwrite_partitions(
        day_df("2024-01-02", [30, 40, 50]),
        "silver", "tt", partition_col="partition_date",
    )

    def values(df):
        return sorted(r["value"] for r in df.collect())

    latest = lake.read(spark, "silver", "tt")
    assert values(latest) == [1.0, 2.0, 30.0, 40.0, 50.0]
    v0 = lake.read_snapshot(spark, "silver", "tt", version=0)
    assert values(v0) == [1.0, 2.0, 3.0, 4.0]

    # appends participate in the version history too
    lake.append(day_df("2024-01-03", [99]), "silver", "tt")
    assert values(lake.read(spark, "silver", "tt")) == [
        1.0, 2.0, 30.0, 40.0, 50.0, 99.0,
    ]
    assert values(lake.read_snapshot(spark, "silver", "tt", 1)) == [
        1.0, 2.0, 30.0, 40.0, 50.0,
    ]

    # compact+vacuum: latest unchanged, pre-compaction versions gone
    # (grace 0: quiescent test, reclaim immediately)
    lake.compact(
        spark, "silver", "tt", partition_col="partition_date",
        vacuum_grace_seconds=0.0,
    )
    assert values(lake.read(spark, "silver", "tt")) == [
        1.0, 2.0, 30.0, 40.0, 50.0, 99.0,
    ]
    import pytest as _pytest

    with _pytest.raises(Exception):
        lake.read_snapshot(spark, "silver", "tt", 0).collect()


def test_lakehouse_crash_leaves_no_half_commit(spark, tmp_path):
    """The log append IS the commit point: a writer that dies after
    materializing its version directory but before logging must leave
    reads untouched, and the next writer must heal (reuse) the orphan
    version without corrupting history."""
    import os

    import pyspark.sql.functions as F

    from urban_mobility_data_lakehouse_spark.sources.lakehouse import (
        Lakehouse,
    )
    from urban_mobility_data_lakehouse_spark.sources.testdata import (
        load_table,
    )

    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")
    events = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "value", F.to_date("ts").alias("partition_date")
    )
    day1 = events.filter(F.col("partition_date") == "2024-01-05")
    day2 = events.filter(F.col("partition_date") == "2024-01-06")
    lake.overwrite_partitions(
        day1, "silver", "fact", partition_col="partition_date"
    )
    committed = sorted(
        r["event_id"]
        for r in lake.read(spark, "silver", "fact").collect()
    )

    # simulate the crash: the NEXT version's data dir appears on disk
    # (fully written!) but its log line never lands
    table_dir = str(tmp_path / "lake" / "silver" / "fact")
    orphan = os.path.join(table_dir, "_data", "v1")
    day2.write.mode("overwrite").partitionBy("partition_date").parquet(
        orphan
    )

    # reads see only the committed version
    assert sorted(
        r["event_id"]
        for r in lake.read(spark, "silver", "fact").collect()
    ) == committed
    assert len(lake.snapshots("silver", "fact")) == 1

    # the retried writer stages its own fresh directory and commits;
    # the orphan stays unreferenced until vacuum reclaims it
    lake.overwrite_partitions(
        day2, "silver", "fact", partition_col="partition_date"
    )
    got = lake.read(spark, "silver", "fact")
    assert got.select("partition_date").distinct().count() == 2
    assert got.count() == day1.count() + day2.count()
    assert len(lake.snapshots("silver", "fact")) == 2


def test_lakehouse_read_changes(spark, tmp_path):
    """CDC reads (Delta Change Data Feed analog): only rows whose
    partition actually changed appear, updates show as delete+insert
    pairs, appends as pure inserts, and a compaction (byte rewrite,
    same rows) diffs to empty."""
    import pyspark.sql.functions as F

    from urban_mobility_data_lakehouse_spark.sources.lakehouse import (
        Lakehouse,
    )

    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")

    def day_df(day: str, values):
        return spark.createDataFrame(
            [(i, float(v), day) for i, v in enumerate(values)],
            "event_id long, value double, partition_date string",
        ).withColumn("partition_date", F.to_date("partition_date"))

    # v0: two days; v1: day-2 rewritten; v2: day-3 appended
    lake.overwrite_partitions(
        day_df("2024-01-01", [1, 2]).unionByName(
            day_df("2024-01-02", [3, 4])
        ),
        "silver", "cdc", partition_col="partition_date",
    )
    lake.overwrite_partitions(
        day_df("2024-01-02", [30, 40, 50]),
        "silver", "cdc", partition_col="partition_date",
    )
    lake.append(day_df("2024-01-03", [99]), "silver", "cdc")

    def changes(frm, to=None):
        return sorted(
            (r["_change_type"], r["value"])
            for r in lake.read_changes(
                spark, "silver", "cdc", frm, to
            ).collect()
        )

    # v0→v1: day-2 update = delete old + insert new; day-1 untouched
    assert changes(0, 1) == [
        ("delete", 3.0), ("delete", 4.0),
        ("insert", 30.0), ("insert", 40.0), ("insert", 50.0),
    ]
    # v1→v2: append = pure inserts
    assert changes(1, 2) == [("insert", 99.0)]
    # v0→latest: the composition
    assert changes(0) == [
        ("delete", 3.0), ("delete", 4.0),
        ("insert", 30.0), ("insert", 40.0),
        ("insert", 50.0), ("insert", 99.0),
    ]
    # compaction rewrites bytes, not rows → empty logical diff
    lake.compact(
        spark, "silver", "cdc",
        partition_col="partition_date", vacuum=False,
    )
    assert changes(2) == []


def test_lakehouse_merge_into(spark, tmp_path):
    """Row-level MERGE (upsert-by-key): matched keys take the update
    row, unmatched inserts land, untouched partitions never rewrite,
    and CDC shows only the truly-changed rows."""
    import pyspark.sql.functions as F

    from urban_mobility_data_lakehouse_spark.sources.lakehouse import (
        Lakehouse,
    )

    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")

    def rows_df(rows):
        return spark.createDataFrame(
            [(i, float(v), d) for i, v, d in rows],
            "event_id long, value double, partition_date string",
        ).withColumn("partition_date", F.to_date("partition_date"))

    lake.overwrite_partitions(
        rows_df([
            (1, 10, "2024-01-01"), (2, 20, "2024-01-01"),
            (3, 30, "2024-01-02"), (4, 40, "2024-01-02"),
        ]),
        "silver", "m", partition_col="partition_date",
    )
    # update key 3, insert key 5 — both in day-2 only
    lake.merge_into(
        spark, "silver", "m",
        rows_df([(3, 300, "2024-01-02"), (5, 500, "2024-01-02")]),
        key="event_id", partition_col="partition_date",
    )

    got = sorted(
        (r["event_id"], r["value"])
        for r in lake.read(spark, "silver", "m").collect()
    )
    assert got == [(1, 10.0), (2, 20.0), (3, 300.0), (4, 40.0), (5, 500.0)]

    # CDC: only the changed rows — key 4 was rewritten byte-identical
    # into the new version and cancels out of the logical diff
    cdc = sorted(
        (r["_change_type"], r["event_id"], r["value"])
        for r in lake.read_changes(spark, "silver", "m", 0).collect()
    )
    assert cdc == [
        ("delete", 3, 30.0),
        ("insert", 3, 300.0),
        ("insert", 5, 500.0),
    ]
    # day-1's partition mapping is untouched (still the v0 directory)
    part_map, _, _ = lake._manifest("silver", "m")
    assert os.path.basename(part_map["2024-01-01"][0]).startswith("v0-")
    # merge is a normal versioned commit: time travel still sees v0
    v0 = sorted(
        (r["event_id"], r["value"])
        for r in lake.read_snapshot(spark, "silver", "m", 0).collect()
    )
    assert v0 == [(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)]


def test_lakehouse_delete_where(spark, tmp_path):
    """Row-level DELETE: matching rows vanish, untouched partitions
    keep their original mapping, emptying a whole partition works, and
    CDC shows the deletions."""
    import pyspark.sql.functions as F

    from urban_mobility_data_lakehouse_spark.sources.lakehouse import (
        Lakehouse,
    )

    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")
    df = spark.createDataFrame(
        [
            (1, 10.0, "2024-01-01"), (2, 20.0, "2024-01-01"),
            (3, 30.0, "2024-01-02"), (4, 40.0, "2024-01-02"),
        ],
        "event_id long, value double, partition_date string",
    ).withColumn("partition_date", F.to_date("partition_date"))
    lake.overwrite_partitions(
        df, "silver", "del", partition_col="partition_date"
    )

    # delete one row of day-2; day-1 untouched (mapping still v0)
    lake.delete_where(
        spark, "silver", "del",
        F.col("event_id") == 3, partition_col="partition_date",
    )
    got = sorted(
        r["event_id"] for r in lake.read(spark, "silver", "del").collect()
    )
    assert got == [1, 2, 4]
    part_map, _, _ = lake._manifest("silver", "del")
    assert os.path.basename(part_map["2024-01-01"][0]).startswith("v0-")
    cdc = sorted(
        (r["_change_type"], r["event_id"])
        for r in lake.read_changes(spark, "silver", "del", 0).collect()
    )
    assert cdc == [("delete", 3)]

    # empty a whole partition: its rows must disappear from reads
    lake.delete_where(
        spark, "silver", "del",
        F.col("partition_date") == F.lit("2024-01-02").cast("date"),
        partition_col="partition_date",
    )
    got = sorted(
        r["event_id"] for r in lake.read(spark, "silver", "del").collect()
    )
    assert got == [1, 2]

    # no-match delete is a no-op commit-wise
    n_before = len(lake.snapshots("silver", "del"))
    lake.delete_where(
        spark, "silver", "del",
        F.col("event_id") == 999, partition_col="partition_date",
    )
    assert len(lake.snapshots("silver", "del")) == n_before


def test_lakehouse_delete_where_null_predicate(spark, tmp_path):
    """SQL/Delta DELETE three-valued logic: rows where the predicate
    evaluates to NULL survive — even when their partition is rewritten
    because sibling rows matched.  (A plain `~cond` filter would
    silently drop them: NOT NULL is NULL, which filter discards.)"""
    import pyspark.sql.functions as F

    from urban_mobility_data_lakehouse_spark.sources.lakehouse import (
        Lakehouse,
    )

    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")
    df = spark.createDataFrame(
        [
            (1, 10.0, "2024-01-01"),
            (2, None, "2024-01-01"),  # predicate → NULL
            (3, 30.0, "2024-01-01"),
        ],
        "event_id long, value double, partition_date string",
    ).withColumn("partition_date", F.to_date("partition_date"))
    lake.overwrite_partitions(
        df, "silver", "nulldel", partition_col="partition_date"
    )
    lake.delete_where(
        spark, "silver", "nulldel",
        F.col("value") > 15.0, partition_col="partition_date",
    )
    got = sorted(
        r["event_id"]
        for r in lake.read(spark, "silver", "nulldel").collect()
    )
    assert got == [1, 2]  # row 2 (NULL predicate) must survive


def test_lakehouse_empty_append_readable(spark, tmp_path):
    """A commit whose frame is empty writes a directory with no parquet
    files; reads must skip it instead of failing schema inference."""
    import pyspark.sql.functions as F

    from urban_mobility_data_lakehouse_spark.sources.lakehouse import (
        Lakehouse,
    )

    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")
    df = spark.createDataFrame(
        [(1, 10.0, "2024-01-01")],
        "event_id long, value double, partition_date string",
    ).withColumn("partition_date", F.to_date("partition_date"))
    lake.overwrite_partitions(
        df, "silver", "ea", partition_col="partition_date"
    )
    lake.append(df.limit(0), "silver", "ea")  # empty commit
    assert len(lake.snapshots("silver", "ea")) == 2
    assert lake.read(spark, "silver", "ea").count() == 1


def test_lakehouse_merge_into_key_validation(spark, tmp_path):
    """merge_into rejects ambiguous updates (duplicate keys) and, when
    asked, updates whose keys already live outside the affected
    partitions (the row-moved-partitions hazard)."""
    import pytest
    import pyspark.sql.functions as F

    from urban_mobility_data_lakehouse_spark.sources.lakehouse import (
        Lakehouse,
    )

    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")

    def rows_df(rows):
        return spark.createDataFrame(
            [(i, float(v), d) for i, v, d in rows],
            "event_id long, value double, partition_date string",
        ).withColumn("partition_date", F.to_date("partition_date"))

    lake.overwrite_partitions(
        rows_df([(1, 10, "2024-01-01"), (3, 30, "2024-01-02")]),
        "silver", "mv", partition_col="partition_date",
    )
    # duplicate key in updates → ambiguous merge
    with pytest.raises(ValueError, match="duplicate keys"):
        lake.merge_into(
            spark, "silver", "mv",
            rows_df([(3, 300, "2024-01-02"), (3, 301, "2024-01-02")]),
            key="event_id", partition_col="partition_date",
        )
    # key 1 lives in day-1; updating it "in" day-2 would duplicate it
    with pytest.raises(ValueError, match="outside the affected"):
        lake.merge_into(
            spark, "silver", "mv",
            rows_df([(1, 100, "2024-01-02")]),
            key="event_id", partition_col="partition_date",
            validate_cross_partition=True,
        )
    # clean merge still works with validation on
    lake.merge_into(
        spark, "silver", "mv",
        rows_df([(3, 300, "2024-01-02")]),
        key="event_id", partition_col="partition_date",
        validate_cross_partition=True,
    )
    got = sorted(
        (r["event_id"], r["value"])
        for r in lake.read(spark, "silver", "mv").collect()
    )
    assert got == [(1, 10.0), (3, 300.0)]


def test_lakehouse_schema_evolution(spark, tmp_path):
    """Schema evolution (Delta mergeSchema analog): a later commit may
    add columns; earlier rows read as NULL there, time travel sees the
    old schema, and CDC across the evolution stays well-defined."""
    import pyspark.sql.functions as F

    from urban_mobility_data_lakehouse_spark.sources.lakehouse import (
        Lakehouse,
    )

    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")
    v0 = spark.createDataFrame(
        [(1, 10.0, "2024-01-01")],
        "event_id long, value double, partition_date string",
    ).withColumn("partition_date", F.to_date("partition_date"))
    lake.overwrite_partitions(
        v0, "silver", "ev", partition_col="partition_date"
    )
    v1 = spark.createDataFrame(
        [(2, 20.0, "2024-01-02", "madrid")],
        "event_id long, value double, partition_date string, city string",
    ).withColumn("partition_date", F.to_date("partition_date"))
    lake.overwrite_partitions(
        v1, "silver", "ev", partition_col="partition_date"
    )

    got = {
        (r["event_id"], r["city"])
        for r in lake.read(spark, "silver", "ev").collect()
    }
    assert got == {(1, None), (2, "madrid")}
    # time travel sees the pre-evolution schema
    assert "city" not in lake.read_snapshot(spark, "silver", "ev", 0).columns
    # CDC across the evolution: the new row inserts with its new column
    cdc = [
        (r["_change_type"], r["event_id"], r["city"])
        for r in lake.read_changes(spark, "silver", "ev", 0).collect()
    ]
    assert cdc == [("insert", 2, "madrid")]


def test_merge_into_schema_evolution(spark, tmp_path):
    """MERGE with updates that ADD a column (Delta autoMerge analog):
    the rewritten partition unions with allowMissingColumns, surviving
    rows read NULL in the new column, untouched partitions evolve
    lazily at read time."""
    import pyspark.sql.functions as F

    from urban_mobility_data_lakehouse_spark.sources.lakehouse import (
        Lakehouse,
    )

    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")
    base = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "a"), (3, 30.0, "b")],
        "id long, v double, d string",
    )
    lake.overwrite_partitions(base, "silver", "t", partition_col="d")
    updates = spark.createDataFrame(
        [(2, 99.0, "a", "tag2"), (4, 40.0, "a", "tag4")],
        "id long, v double, d string, label string",
    )
    lake.merge_into(
        spark, "silver", "t", updates, key="id", partition_col="d"
    )
    got = {
        r["id"]: (r["v"], r["label"])
        for r in lake.read(spark, "silver", "t").collect()
    }
    assert got == {
        1: (10.0, None),       # survivor in rewritten partition
        2: (99.0, "tag2"),     # updated
        3: (30.0, None),       # untouched partition, lazy evolution
        4: (40.0, "tag4"),     # inserted
    }
    # CDC shows exactly the changed rows across the evolution
    cdc = sorted(
        (r["_change_type"], r["id"])
        for r in lake.read_changes(spark, "silver", "t", 0).collect()
    )
    assert cdc == [("delete", 2), ("insert", 2), ("insert", 4)]

    # merge-on-read mode evolves identically (DV delete + evolved append)
    lake2 = Lakehouse(str(tmp_path / "lake2"))
    lake2.create_schemas("silver")
    lake2.overwrite_partitions(base, "silver", "t", partition_col="d")
    lake2.merge_into(
        spark, "silver", "t", updates, key="id", partition_col="d",
        mode="merge_on_read",
    )
    got_mor = {
        r["id"]: (r["v"], r["label"])
        for r in lake2.read(spark, "silver", "t").collect()
    }
    assert got_mor == got


def test_lakehouse_sorted_compaction(spark, tmp_path):
    """OPTIMIZE ... sort_by: compacted files are sorted on the given
    column, so parquet row-group min/max stats become tight and range
    filters skip row groups; data is byte-for-byte the same rows."""
    import glob

    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from urban_mobility_data_lakehouse_spark.sources.lakehouse import (
        Lakehouse,
    )
    from urban_mobility_data_lakehouse_spark.sources.testdata import (
        load_table,
    )

    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")
    events = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "value",
        F.to_date("ts").alias("partition_date"),
    )
    lake.overwrite_partitions(
        events.repartition(4), "silver", "srt",
        partition_col="partition_date",
    )
    before = sorted(
        r["event_id"]
        for r in lake.read(spark, "silver", "srt").collect()
    )
    lake.compact(
        spark, "silver", "srt",
        partition_col="partition_date", sort_by=["user_id"],
        vacuum_grace_seconds=0.0,  # reclaim pre-sort files now so the
        # glob below sees only the sorted layout
    )
    after = sorted(
        r["event_id"]
        for r in lake.read(spark, "silver", "srt").collect()
    )
    assert after == before
    files = glob.glob(
        str(tmp_path / "lake" / "silver" / "srt" / "_data" / "**" / "*.parquet"),
        recursive=True,
    )
    assert files
    for f in files:
        vals = pq.read_table(f, columns=["user_id"])["user_id"].to_pylist()
        assert vals == sorted(vals), f


def test_lakehouse_restore(spark, tmp_path):
    """RESTORE analog: one log line rolls the live state back to an
    old version, history stays readable, CDC shows the rollback."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from urban_mobility_data_lakehouse_spark.sources.lakehouse import (
        Lakehouse,
    )

    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")

    def day_df(day: str, values):
        return spark.createDataFrame(
            [(i, float(v), day) for i, v in enumerate(values)],
            "event_id long, value double, partition_date string",
        ).withColumn("partition_date", F.to_date("partition_date"))

    lake.overwrite_partitions(
        day_df("2024-01-01", [1, 2]).unionByName(
            day_df("2024-01-02", [3, 4])
        ),
        "silver", "rst", partition_col="partition_date",
    )
    lake.overwrite_partitions(
        day_df("2024-01-02", [30, 40]),
        "silver", "rst", partition_col="partition_date",
    )

    def values(df):
        return sorted(r["value"] for r in df.collect())

    lake.restore("silver", "rst", 0)
    assert values(lake.read(spark, "silver", "rst")) == [1.0, 2.0, 3.0, 4.0]
    # the rolled-back commit is still time-travelable
    assert values(lake.read_snapshot(spark, "silver", "rst", 1)) == [
        1.0, 2.0, 30.0, 40.0,
    ]
    # CDC across the restore = exactly the rollback delta
    cdc = sorted(
        (r["_change_type"], r["value"])
        for r in lake.read_changes(spark, "silver", "rst", 1).collect()
    )
    assert cdc == [
        ("delete", 30.0), ("delete", 40.0),
        ("insert", 3.0), ("insert", 4.0),
    ]
    # writes continue normally on top of the restored state
    lake.append(day_df("2024-01-03", [99]), "silver", "rst")
    assert values(lake.read(spark, "silver", "rst")) == [
        1.0, 2.0, 3.0, 4.0, 99.0,
    ]
    with _pytest.raises(ValueError):
        lake.restore("silver", "rst", 77)


def test_lakehouse_vacuum_is_reachability_based(spark, tmp_path):
    """vacuum must delete only directories no retained version
    references: live appends survive any keep_version, and a
    compaction's vacuum reclaims transaction-written t-dirs too."""
    import os

    import pyspark.sql.functions as F

    from urban_mobility_data_lakehouse_spark.sources.lakehouse import (
        Lakehouse,
    )

    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")

    def df(rows):
        return spark.createDataFrame(
            [(i, float(v), d) for i, v, d in rows],
            "event_id long, value double, partition_date string",
        ).withColumn("partition_date", F.to_date("partition_date"))

    # v0 via a TRANSACTION (t-dir), v1 an append (v-dir)
    with lake.transaction() as txn:
        txn.overwrite_partitions(
            df([(1, 10, "2024-01-01")]), "silver", "vac",
            partition_col="partition_date",
        )
    lake.append(df([(2, 20, "2024-01-02")]), "silver", "vac")

    # aggressive keep_version: the append's dir is still LIVE in the
    # latest manifest and must survive; so must the txn dir
    # (grace 0: single-threaded test, quiescence is known — the
    # default 600 s grace would just defer reclamation)
    lake.vacuum("silver", "vac", keep_version=1, grace_seconds=0.0)
    got = sorted(
        r["event_id"] for r in lake.read(spark, "silver", "vac").collect()
    )
    assert got == [1, 2]

    # a full compaction supersedes everything; its vacuum reclaims
    # both the t-dir and the old v-dir
    lake.compact(
        spark, "silver", "vac", partition_col="partition_date",
        vacuum_grace_seconds=0.0,
    )
    data_root = str(tmp_path / "lake" / "silver" / "vac" / "_data")
    remaining = sorted(os.listdir(data_root))
    assert len(remaining) == 1 and remaining[0].startswith("v")
    got = sorted(
        r["event_id"] for r in lake.read(spark, "silver", "vac").collect()
    )
    assert got == [1, 2]


def test_describe_detail_from_log_arithmetic(spark, tmp_path):
    """DESCRIBE DETAIL: file/row/byte totals from the commit log's
    footer stats only — cross-checked against actual reads — and
    partition supersession attributes files to live slices."""
    import pyspark.sql.functions as F

    from urban_mobility_data_lakehouse_spark.sources.lakehouse import (
        Lakehouse,
    )

    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")
    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("p")
    )
    lake.overwrite_partitions(df, "silver", "d", partition_col="p")
    # supersede partition "0" with fewer rows + append an extra slice
    lake.overwrite_partitions(
        spark.range(0, 10).select(
            F.col("id"), F.lit("0").alias("p")
        ),
        "silver", "d", partition_col="p",
    )
    lake.append(
        spark.range(200, 230).select(
            F.col("id"), F.lit("x").alias("p")
        ),
        "silver", "d",
    )
    detail = lake.describe_detail("silver", "d")
    actual = lake.read(spark, "silver", "d")
    assert detail["num_rows"] == actual.count() == 90
    # live files only — fewer than the raw relation listing, which
    # still includes superseded partition slices
    assert 3 <= detail["num_files"] <= len(actual.inputFiles())
    assert detail["partition_columns"] == ["p"]
    assert detail["version"] == 2
    assert detail["size_bytes"] > 0
    assert detail["num_deletion_vectors"] == 0

    # after compaction the count is exact: one file per partition
    lake.compact(spark, "silver", "d", partition_col="p")
    compacted = lake.describe_detail("silver", "d")
    assert compacted["num_files"] == 3  # partitions 0, 1, x
    assert compacted["num_rows"] == 90

    lake.delete_where(
        spark, "silver", "d", F.col("id") < 5,
        partition_col="p", mode="merge_on_read",
    )
    d2 = lake.describe_detail("silver", "d")
    assert d2["num_deletion_vectors"] == 1
    assert d2["num_rows"] == 90  # physical rows, pre-DV


def test_vacuum_dry_run_previews_without_deleting(spark, tmp_path):
    import os

    import pyspark.sql.functions as F

    from urban_mobility_data_lakehouse_spark.sources.lakehouse import (
        Lakehouse,
    )

    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")
    df = spark.range(0, 50).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("p")
    )
    lake.overwrite_partitions(df, "silver", "v", partition_col="p")
    lake.overwrite(df, "silver", "v")  # supersedes v0 entirely
    latest = len(lake.snapshots("silver", "v")) - 1

    preview = lake.vacuum(
        "silver", "v", keep_version=latest, dry_run=True,
        grace_seconds=0.0,  # quiescent test: skip the MVCC-reader grace
    )
    assert len(preview["dirs"]) == 1 and preview["bytes"] > 0
    assert all(os.path.isdir(d) for d in preview["dirs"])  # untouched
    # time travel still works after the dry run
    assert lake.read_snapshot(spark, "silver", "v", 0).count() == 50

    real = lake.vacuum(
        "silver", "v", keep_version=latest, grace_seconds=0.0
    )
    assert real["dirs"] == preview["dirs"]
    assert real["bytes"] == preview["bytes"]
    assert not any(os.path.isdir(d) for d in real["dirs"])
    assert lake.read(spark, "silver", "v").count() == 50


def test_overwrite_partitions_layout_knobs(spark, tmp_path):
    """The one-writer-per-partition default writes exactly one file per
    partition dir; files_per_partition splits big partitions across
    multiple writers (deterministic bucket, best-effort bound); and
    sort_within keeps per-file min/max stats prunable instead of
    letting the hash shuffle randomize the caller's clustering."""
    import os

    import pyspark.sql.functions as F

    from urban_mobility_data_lakehouse_spark.sources.lakehouse import (
        Lakehouse,
    )

    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")
    df = spark.range(20_000).select(
        F.col("id"),
        (F.col("id") % 2).cast("string").alias("half"),
        (F.col("id") * 2).alias("v"),
    )

    lake.overwrite_partitions(df, "silver", "one", partition_col="half")
    by_dir: dict[str, int] = {}
    for f in lake.read(spark, "silver", "one").inputFiles():
        by_dir[f.rsplit("/", 2)[-2]] = by_dir.get(f.rsplit("/", 2)[-2], 0) + 1
    assert set(by_dir.values()) == {1}, by_dir  # one file per partition

    lake.overwrite_partitions(
        df, "silver", "many", partition_col="half", files_per_partition=4
    )
    by_dir2: dict[str, int] = {}
    for f in lake.read(spark, "silver", "many").inputFiles():
        d = f.rsplit("/", 2)[-2]
        by_dir2[d] = by_dir2.get(d, 0) + 1
    assert all(1 <= n <= 4 for n in by_dir2.values()), by_dir2
    assert any(n > 1 for n in by_dir2.values()), by_dir2
    # same rows either way
    assert (
        lake.read(spark, "silver", "many").exceptAll(
            lake.read(spark, "silver", "one")
        ).count()
        == 0
    )

    # sort_within: each partition's single file is id-clustered —
    # min/max stats stay tight (file min == partition min, a sorted
    # write's signature; the unsorted hash shuffle gives no such bound)
    lake.overwrite_partitions(
        df, "silver", "sorted", partition_col="half",
        sort_within=("id",),
    )
    import pyarrow.parquet as pq

    for f in lake.read(spark, "silver", "sorted").inputFiles():
        path = f.removeprefix("file:")
        md = pq.ParquetFile(path).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        i_id = names.index("id")
        st = md.row_group(0).column(i_id).statistics
        first_page_min = st.min
        want = 0 if "half=0" in path else 1
        assert first_page_min == want, (path, first_page_min)


def test_null_partition_value_records_canonical_token(spark, tmp_path):
    """A NULL partition value lands in the __HIVE_DEFAULT_PARTITION__
    directory, and the sentinel IS the canonical null token recorded
    on the commit line, so overwrite/conflict bookkeeping for
    null-keyed partitions stays stable across code paths and commits —
    and a literal string 'None' is a DISTINCT identity."""
    from urban_mobility_data_lakehouse_spark.sources.lakehouse import (
        NULL_SENTINEL,
        Lakehouse,
    )

    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a")], "id long, k string"
    )
    lake.overwrite_partitions(df, "silver", "t", partition_col="k")
    recorded = lake.snapshots("silver", "t")[-1]["partitions"]
    assert sorted(recorded) == [NULL_SENTINEL, "a"]

    # second commit touching only the null partition: derived token
    # matches the first commit's, so supersede actually replaces it
    df2 = spark.createDataFrame([(9, None)], "id long, k string")
    lake.overwrite_partitions(df2, "silver", "t", partition_col="k")
    assert lake.snapshots("silver", "t")[-1]["partitions"] == [
        NULL_SENTINEL
    ]
    got = {
        (r["id"], r["k"])
        for r in lake.read(spark, "silver", "t").collect()
    }
    assert got == {(1, "a"), (3, "a"), (9, None)}


def test_null_partition_supersede_and_probe(spark, tmp_path):
    """NULL-keyed rows must (a) be superseded out of older additive
    dirs when the null partition is overwritten — the exclusion filter
    was NULL-blind and resurrected them — and (b) be reachable through
    a `partition_values=[NULL_SENTINEL]` directory probe."""
    from urban_mobility_data_lakehouse_spark.sources.lakehouse import (
        Lakehouse,
    )

    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")
    lake.append(
        spark.createDataFrame(
            [(1, None), (2, "a")], "id long, k string"
        ),
        "silver", "t",
    )
    # overwrite ONLY the null partition: the appended (1, NULL) row is
    # superseded; (2, 'a') survives in the additive dir
    lake.overwrite_partitions(
        spark.createDataFrame([(7, None)], "id long, k string"),
        "silver", "t", partition_col="k",
    )
    got = {
        (r["id"], r["k"]) for r in lake.read(spark, "silver", "t").collect()
    }
    assert got == {(2, "a"), (7, None)}

    # directory probe by the canonical null token (the sentinel)
    from urban_mobility_data_lakehouse_spark.sources.lakehouse import (
        NULL_SENTINEL,
    )

    probed = {
        (r["id"], r["k"])
        for r in lake.read(
            spark, "silver", "t", partition_values=[NULL_SENTINEL]
        ).collect()
    }
    assert probed == {(7, None)}


def test_null_partition_dml_preserves_neighbors(spark, tmp_path):
    """Row-level DML touching a NULL-keyed partition must not take the
    partition's OTHER rows with it: the survivor/rewrite filters were
    NULL-blind (`isin('None')` drops NULL rows, so overwriting the
    superseded partition erased every non-matching NULL-keyed row) —
    r10 routes every partition-token membership test through
    `_pvalue_match`.  Covers DELETE, UPDATE, MERGE, txn-staged DELETE,
    txn MERGE purge, read_where, and CDC."""
    import pyspark.sql.functions as F

    from urban_mobility_data_lakehouse_spark.sources.lakehouse import (
        Lakehouse,
    )

    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")
    df = spark.createDataFrame(
        [(i, None if i < 5 else "a", i * 2) for i in range(10)],
        "id long, k string, v long",
    )
    lake.overwrite_partitions(df, "silver", "t", partition_col="k")

    def rows():
        return {
            (r["id"], r["k"], r["v"])
            for r in lake.read(spark, "silver", "t").collect()
        }

    # DELETE one NULL-partition row: ids 1-4 must survive
    v0 = len(lake.snapshots("silver", "t")) - 1
    lake.delete_where(
        spark, "silver", "t", F.col("id") == 0, partition_col="k",
    )
    assert rows() == {
        (i, None if i < 5 else "a", i * 2) for i in range(1, 10)
    }
    # CDC across the delete names exactly the deleted NULL-keyed row
    ch = lake.read_changes(spark, "silver", "t", v0, v0 + 1).collect()
    assert [(r["id"], r["_change_type"]) for r in ch] == [(0, "delete")]

    # UPDATE one NULL-partition row: only id 1 changes
    lake.update_where(
        spark, "silver", "t", F.col("id") == 1, {"v": F.lit(999)},
        partition_col="k",
    )
    got = rows()
    assert (1, None, 999) in got and (2, None, 4) in got

    # MERGE an update keyed into the NULL partition: ids 3,4 survive
    lake.merge_into(
        spark, "silver", "t",
        spark.createDataFrame([(2, None, 555)], "id long, k string, v long"),
        key="id", partition_col="k",
    )
    got = rows()
    assert (2, None, 555) in got and (3, None, 6) in got

    # txn-staged DELETE + MERGE-with-purge in the NULL partition
    with lake.transaction() as txn:
        assert txn.delete_where(
            spark, "silver", "t", F.col("id") == 3, partition_col="k",
        )
    assert (4, None, 8) in rows()
    with lake.transaction() as txn:
        txn.merge_into(
            spark, "silver", "t",
            spark.createDataFrame(
                [(11, None, 11)], "id long, k string, v long"
            ),
            key="id", partition_col="k",
            purge_condition=F.col("id") == 4,
        )
    got = rows()
    assert (11, None, 11) in got and (4, None, 8) not in got
    assert (1, None, 999) in got and (2, None, 555) in got

    # read_where must return NULL-partition rows (was NULL-blind too)
    assert {
        r["id"]
        for r in lake.read_where(
            spark, "silver", "t", [("id", "<=", 2)]
        ).collect()
    } == {1, 2}


def test_null_and_literal_none_are_distinct_on_v2_tables(
    spark, tmp_path
):
    """The sentinel is the one canonical NULL token, so NULL-keyed and
    literal-string-'None'-keyed rows land in DISTINCT partitions —
    written in the same or separate commits, rewritten through the
    explicit `partitions=` path, deleted copy-on-write or
    merge-on-read — and an operation scoped to one never touches the
    other, at the latest version or any earlier one."""
    import pyspark.sql.functions as F

    from urban_mobility_data_lakehouse_spark.sources.lakehouse import (
        NULL_SENTINEL,
        Lakehouse,
    )

    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")

    def write(row_list, partitions=None):
        lake.overwrite_partitions(
            spark.createDataFrame(row_list, "id long, k string"),
            "silver", "t", partition_col="k", partitions=partitions,
        )

    def rows(version=None):
        return {
            (r["id"], r["k"])
            for r in lake.read(spark, "silver", "t", version).collect()
        }

    # the same-commit mix
    write([(1, "None"), (2, None), (3, "a")])
    assert sorted(lake.snapshots("silver", "t")[-1]["partitions"]) == [
        "None", NULL_SENTINEL, "a",
    ]
    # separate commits: supersede keys on distinct tokens
    write([(9, None)])
    write([(8, "None")])
    assert rows() == {(3, "a"), (8, "None"), (9, None)}
    # explicit-partitions rewrites: a literal-'None' write naming
    # 'None' leaves the NULL partition, and a same-token NULL rewrite
    # naming the sentinel replaces only the NULL partition
    write([(5, "None")], partitions=["None"])
    assert rows() == {(3, "a"), (5, "None"), (9, None)}
    write([(6, None)], partitions=[NULL_SENTINEL])
    assert lake.snapshots("silver", "t")[-1]["partitions"] == [
        NULL_SENTINEL
    ]
    assert rows() == {(3, "a"), (5, "None"), (6, None)}
    before_deletes = lake.snapshots("silver", "t")[-1]["version"]
    # a merge-on-read delete of the NULL partition leaves the literal
    assert lake.delete_where(
        spark, "silver", "t", F.col("k").isNull(), partition_col="k",
        mode="merge_on_read",
    )
    assert rows() == {(3, "a"), (5, "None")}
    write([(7, None)], partitions=[NULL_SENTINEL])
    # a copy-on-write delete of the literal partition leaves NULL...
    lake.delete_where(
        spark, "silver", "t", F.col("k") == "None", partition_col="k",
    )
    assert rows() == {(3, "a"), (7, None)}
    # ...and one of the NULL partition leaves everything else
    lake.delete_where(
        spark, "silver", "t", F.col("k").isNull(), partition_col="k",
    )
    assert rows() == {(3, "a")}
    # time travel to before the deletes sees both partitions again
    assert rows(before_deletes) == {(3, "a"), (5, "None"), (6, None)}
    assert rows(before_deletes + 1) == {(3, "a"), (5, "None")}


def test_table_without_sentinel_format_is_refused(spark, tmp_path):
    """The NULL sentinel is the only NULL-partition token.  A table
    with commits whose `_format.json` is missing, or names another
    token (the retired 'None' scheme, under which NULL and a literal
    'None' shared a partition), is refused with one ValueError on
    read, read_where and write — never misread, and nothing staged."""
    import json

    from urban_mobility_data_lakehouse_spark.sources.lakehouse import (
        Lakehouse,
    )

    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")
    df = spark.createDataFrame([(1, None), (2, "a")], "id long, k string")
    lake.overwrite_partitions(df, "silver", "t", partition_col="k")
    path = lake._table_dir("silver", "t")
    fmt = os.path.join(path, lake.FORMAT_FILE)
    staged = sorted(os.listdir(os.path.join(path, "_data")))
    calls = [
        lambda: lake.read(spark, "silver", "t"),
        lambda: lake.read_where(spark, "silver", "t", [("id", "=", 1)]),
        lambda: lake.overwrite_partitions(
            df, "silver", "t", partition_col="k"
        ),
    ]
    for case in ("missing", "None token"):
        if case == "missing":
            os.remove(fmt)
        else:
            with open(fmt, "w") as f:
                json.dump({"null_token": "None"}, f)
        for call in calls:
            with pytest.raises(ValueError, match="unsupported table format"):
                call()
    assert len(lake.snapshots("silver", "t")) == 1
    assert sorted(os.listdir(os.path.join(path, "_data"))) == staged


@pytest.fixture()
def loopback_http(tmp_path):
    """A stdlib http.server on 127.0.0.1 serving `tmp_path/www` plus a
    /redirect/<name> route (302 → /<name>) — exercises fetch_url's REAL
    http:// branch (urllib opener chain, redirect following, binary
    payloads) with zero external network."""
    import http.server
    import threading

    www = tmp_path / "www"
    www.mkdir()

    class Handler(http.server.SimpleHTTPRequestHandler):
        def __init__(self, *a, **kw):
            super().__init__(*a, directory=str(www), **kw)

        def do_GET(self):  # noqa: N802 (stdlib casing)
            if self.path.startswith("/redirect/"):
                self.send_response(302)
                self.send_header(
                    "Location", "/" + self.path[len("/redirect/"):]
                )
                self.end_headers()
                return
            super().do_GET()

        def log_message(self, *a):  # keep pytest output clean
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield www, f"http://127.0.0.1:{srv.server_address[1]}"
    finally:
        srv.shutdown()
        srv.server_close()


def test_fetch_url_http_branch(tmp_path, loopback_http):
    """S7 over real http:// — encoding repair, BOM strip, a 302
    redirect, and gzip payload handling (raw passthrough to a .gz dest;
    decompress + repair to a plain dest)."""
    import gzip

    www, base = loopback_http
    (www / "latin.csv").write_bytes(
        "Municipio;Año\nCastellón;2023\n".encode("ISO-8859-1")
    )
    (www / "bom.csv").write_bytes("﻿ID|name\n01001|Zona\n".encode("utf-8"))
    (www / "day.csv.gz").write_bytes(
        gzip.compress("fecha,viajes\n2024-01-05,1234\n".encode("utf-8"))
    )

    out = fetch_url(f"{base}/latin.csv", str(tmp_path / "latin.csv"))
    text = open(out, encoding="utf-8").read()
    assert "Castellón" in text and "Año" in text

    out = fetch_url(
        f"{base}/redirect/bom.csv", str(tmp_path / "bom.csv")
    )
    assert open(out, encoding="utf-8").read().startswith("ID|name")

    gz = fetch_url(f"{base}/day.csv.gz", str(tmp_path / "day.csv.gz"))
    with gzip.open(gz, "rt", encoding="utf-8") as f:
        assert f.read().startswith("fecha,viajes")

    plain = fetch_url(f"{base}/day.csv.gz", str(tmp_path / "day.csv"))
    assert open(plain, encoding="utf-8").read().startswith("fecha,viajes")


def test_bronze_e2e_over_http(spark, tmp_path, loopback_http):
    """The full bronze lane over the http branch: redirected gz CSV →
    fetch_url → read_bronze_csv (native .gz scan) → all-varchar rows +
    audit columns carrying the ORIGINAL url."""
    import gzip

    www, base = loopback_http
    (www / "trips.csv.gz").write_bytes(
        gzip.compress(
            "fecha,origen,viajes\n"
            "2024-01-05,01001,10\n"
            "2024-01-05,01002,20\n".encode("utf-8")
        )
    )
    url = f"{base}/redirect/trips.csv.gz"
    local = fetch_url(url, str(tmp_path / "trips.csv.gz"))
    df = read_bronze_csv(spark, local, source_url=url)
    rows = df.collect()
    assert len(rows) == 2
    assert dict(df.dtypes)["viajes"] == "string"
    assert all(r["source_url"] == url for r in rows)
    assert all(r["filename"].endswith("trips.csv.gz") for r in rows)


@pytest.mark.parametrize("write", ["overwrite", "overwrite_partitions"])
def test_recreated_table_reads_its_new_schema(spark, tmp_path, write):
    """Reads memoize each commit dir's parquet schema by dir path.  A
    table dropped (its directory removed) and recreated at the same
    path restarts its versions at 0, but every commit dir name carries
    a writer-unique suffix, so the recreated table's reads never hit
    the dropped table's memo entries: they return the new schema and
    rows."""
    import shutil

    from urban_mobility_data_lakehouse_spark.sources.lakehouse import (
        Lakehouse,
    )

    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")

    def commit(df):
        if write == "overwrite":
            lake.overwrite(df, "silver", "t")
        else:
            lake.overwrite_partitions(df, "silver", "t", partition_col="p")

    def data_dirs():
        return sorted(
            os.listdir(os.path.join(lake._table_dir("silver", "t"), "_data"))
        )

    commit(spark.sql("SELECT 1 AS id, 'a' AS p, 1.5D AS v"))
    first = lake.read(spark, "silver", "t")
    assert dict(first.dtypes)["v"] == "double"
    assert first.count() == 1
    old_dirs = data_dirs()

    shutil.rmtree(lake._table_dir("silver", "t"))
    commit(spark.sql(
        "SELECT 2 AS id, 'a' AS p, 'x' AS v, 7L AS extra"
        " UNION ALL SELECT 3, 'b', 'y', 8L"
    ))
    assert lake.snapshots("silver", "t")[-1]["version"] == 0
    assert not set(data_dirs()) & set(old_dirs)
    again = lake.read(spark, "silver", "t")
    assert dict(again.dtypes)["v"] == "string"
    assert "extra" in again.columns
    assert sorted(
        (r["id"], r["p"], r["v"], r["extra"]) for r in again.collect()
    ) == [(2, "a", "x", 7), (3, "b", "y", 8)]


def test_read_where_refuses_vacuumed_history(spark, tmp_path):
    """`read_where` at a version whose directories vacuum reclaimed
    raises HistoryUnavailableError, as `read` does — it never answers
    from the surviving directories alone (here: 5 of the 10 rows)."""
    from urban_mobility_data_lakehouse_spark.sources.lakehouse import (
        HistoryUnavailableError,
        Lakehouse,
    )

    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")
    for p in (0, 1, 0):
        lake.overwrite_partitions(
            spark.range(5).select(
                (F.col("id") + 5 * p).alias("id"), F.lit(p).alias("p")
            ),
            "silver", "t", partition_col="p",
        )
    assert lake.read_where(
        spark, "silver", "t", [("id", ">=", 0)], version=1
    ).count() == 10
    # version 2 rewrote p=0, so vacuum reclaims version 0's directory
    lake.vacuum("silver", "t", keep_version=2, grace_seconds=0)
    with pytest.raises(HistoryUnavailableError):
        lake.read(spark, "silver", "t", version=1)
    with pytest.raises(HistoryUnavailableError):
        lake.read_where(spark, "silver", "t", [("id", ">=", 0)], version=1)
    # the retained version still serves every row
    assert lake.read_where(
        spark, "silver", "t", [("id", ">=", 0)]
    ).count() == 10
