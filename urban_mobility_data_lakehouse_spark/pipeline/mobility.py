"""The medallion mobility pipeline — the reference's production DAG
(airflow/dags/mobility_ingestion_pipeline.py) re-expressed Spark-first.

Task-for-task parity (cites against the reference DAG):
  create_schemas            → Lakehouse.create_schemas        (:71-82)
  ingest_static_csvs / geo  → ingest_bronze                   (:84-199)
  build_silver_dimensions   → build_silver_dimensions         (:201-354)
  audit_dimensions          → audit_dimensions                (:356-397)
  ensure_fact_tables_exist  → implicit (schema declared on first write)
  process_single_day        → process_days (idempotent dynamic
                              partition overwrite per date)    (:483-581)
  audit_batch_results       → audit_batch                     (:584-634)
  create_gold_clustering    → build_gold_clustering           (:640-814)
  create_gold_gaps          → build_gold_gaps                 (:817-852)

Deliberate fixes of reference inconsistencies (SURVEY.md appendix):
  gold.dim_cluster_assignments is materialized (the reference reads it
  but never writes it), and gold.infrastructure_gaps carries
  geographic_distance_km (the consultation query needs it).

Timezone: period timestamps are built under Europe/Madrid
(spark.sql.session.timeZone pinned around the silver build), so DST
transition days keep their true hour structure — the 25-hour
2023-10-29 exists as 25 distinct instants.

Scale: dims (thousands of rows) broadcast into the multi-M fact join;
the fact shuffles only for the gold aggregations; per-day loads touch
only their partition directory, so batch latency stays flat as the
table grows (the reference's bronze path degraded 6× over 27 days —
BASELINE.md).
"""

from __future__ import annotations

from contextlib import contextmanager

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.functions import broadcast

from ..functions.cleaning import (
    code_name_split,
    is_garbage_numeric,
    spanish_number,
    zero_trap_bigint,
)
from ..functions.datetime_fns import (
    force_year,
    parse_ddmmyyyy,
    parse_yyyymmdd,
    period_timestamp,
)
from ..functions.spatial import (
    haversine_km,
    point_in_polygon,
    wkt_centroid_lat,
    wkt_centroid_lon,
)
from ..sources.csv import read_bronze_csv
from ..sources.lakehouse import HistoryUnavailableError, Lakehouse
from ..sources.lakehouse import log_metric, metric_rows
from ..sources.matview import META_KEY, advance_watermark, read_window
from ..sources.matview import supersede_partitions, watermark

MADRID_TZ = "Europe/Madrid"


@contextmanager
def session_tz(spark: SparkSession, tz: str):
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


class MobilityPipeline:
    def __init__(self, spark: SparkSession, lake_root: str):
        self.spark = spark
        self.lake = Lakehouse(lake_root)

    # ------------------------------------------------------------------
    # bronze
    # ------------------------------------------------------------------

    def create_schemas(self) -> None:
        self.lake.create_schemas("bronze", "silver", "gold")

    def ingest_bronze(self, fixtures: dict[str, str]) -> None:
        """Schema-on-read ingest of every source (S1/S2/S7): all columns
        VARCHAR + audit columns, type decisions deferred to silver."""
        s = self.spark
        self.lake.overwrite(
            read_bronze_csv(s, fixtures["zoning"], sep="|"),
            "bronze", "zoning_municipalities",
        )
        self.lake.overwrite(
            read_bronze_csv(
                s, fixtures["population"], header=False,
                columns=["column0", "column1"],
            ),
            "bronze", "population_municipalities",
        )
        self.lake.overwrite(
            read_bronze_csv(s, fixtures["mapping"]),
            "bronze", "mapping_ine_mitma",
        )
        self.lake.overwrite(
            read_bronze_csv(s, fixtures["rent"], sep=";"),
            "bronze", "ine_rent_municipalities",
        )
        self.lake.overwrite(
            read_bronze_csv(s, fixtures["calendar"], sep=";"),
            "bronze", "work_calendars",
        )
        self.lake.overwrite(
            read_bronze_csv(s, fixtures["geo"]),
            "bronze", "geo_municipalities",
        )

    def ingest_bronze_trips(self, trips_dir: str, dates: list[str]) -> None:
        """Per-day partitioned bronze fact: the idempotent daily loop
        (process_single_day's DELETE+INSERT → dynamic partition
        overwrite).  All days load as ONE distributed job — the Spark
        answer to the reference's serialized Airflow task loop."""
        paths = [f"{trips_dir}/{d}_Viajes_municipios.csv" for d in dates]
        df = read_bronze_csv(self.spark, paths)
        self.lake.overwrite_partitions(
            df.filter(F.col("fecha").isin(dates)),
            "bronze", "mobility_data", partition_col="fecha",
        )

    # ------------------------------------------------------------------
    # silver dimensions (:201-354)
    # ------------------------------------------------------------------

    def build_silver_dimensions(self) -> None:
        s, lake = self.spark, self.lake
        zoning = lake.read(s, "bronze", "zoning_municipalities")
        mapping = lake.read(s, "bronze", "mapping_ine_mitma")
        geo = lake.read(s, "bronze", "geo_municipalities")

        # dim_zones (:210-246): MIN-dedup the mapping, join names+geo on
        # trimmed codes, ROW_NUMBER surrogate key over the small dim.
        ine_per_mitma = (
            mapping.filter(
                (F.col("municipio_ine") != "NA")
                & F.col("municipio_ine").isNotNull()
            )
            .groupBy(F.trim("municipio_mitma").alias("mitma_code"))
            .agg(F.min(F.trim("municipio_ine")).alias("ine_code"))
        )
        names = (
            zoning.filter(F.col("ID") != "ID")  # embedded header rows
            .select(
                F.trim("ID").alias("mitma_code"),
                F.col("name").alias("zone_name"),
            )
            .dropDuplicates(["mitma_code"])
        )
        polys = geo.select(
            F.trim("id").alias("mitma_code"),
            F.col("wkt_polygon").alias("polygon"),
            wkt_centroid_lon(F.col("wkt_polygon")).alias("centroid_lon"),
            wkt_centroid_lat(F.col("wkt_polygon")).alias("centroid_lat"),
        )
        dim = (
            names.join(ine_per_mitma, "mitma_code", "left")
            .join(polys, "mitma_code", "left")
            .select(
                F.row_number()
                .over(Window.orderBy("mitma_code"))
                .cast("long")
                .alias("zone_id"),
                "mitma_code", "ine_code", "zone_name", "polygon",
                "centroid_lon", "centroid_lat",
                F.current_timestamp().alias("processed_at"),
            )
        )
        lake.overwrite(dim, "silver", "dim_zones")

        # metric_population (:254-277): garbage filter + Zero Trap cast
        pop = lake.read(s, "bronze", "population_municipalities")
        dimz = lake.read(s, "silver", "dim_zones")
        lake.overwrite(
            pop.filter(~is_garbage_numeric(F.col("column1")))
            .join(
                broadcast(dimz),
                F.trim(pop["column0"]) == dimz["mitma_code"],
            )
            .select(
                "zone_id",
                zero_trap_bigint(F.col("column1")).alias("population"),
                F.lit(2023).alias("year"),
                F.current_timestamp().alias("processed_at"),
            ),
            "silver", "metric_population",
        )

        # metric_ine_rent (:284-318): code+name split, indicator filter,
        # Spanish-format number repair, municipality-level rows only
        rent = lake.read(s, "bronze", "ine_rent_municipalities")
        code, _name = code_name_split(F.col("Municipios"))
        lake.overwrite(
            rent.filter(
                (F.col("Indicadores de renta media")
                 == "Renta neta media por persona")
                & (F.coalesce(F.col("Distritos"), F.lit("")) == "")
                & spanish_number(F.col("Total")).isNotNull()
            )
            .select(
                code.alias("ine_code"),
                spanish_number(F.col("Total")).alias("income_per_capita"),
                F.col("Periodo").cast("int").alias("year"),
            )
            .join(broadcast(dimz), "ine_code")
            .select(
                "zone_id", "income_per_capita", "year",
                F.current_timestamp().alias("processed_at"),
            ),
            "silver", "metric_ine_rent",
        )

        # dim_zone_holidays (:326-349): ILIKE national filter, MAKE_DATE
        # year shift, dense zone×holiday cross-join bridge
        cal = lake.read(s, "bronze", "work_calendars")
        national = (
            cal.filter(F.col("Tipo de Festivo").ilike("%festivo nacional%")
                       | F.col("Tipo de Festivo").ilike("%fiesta nacional%"))
            .select(
                force_year(parse_ddmmyyyy(F.col("Dia")), 2023)
                .alias("holiday_date")
            )
            .filter(F.col("holiday_date").isNotNull())
            .distinct()
        )
        lake.overwrite(
            dimz.select("zone_id")
            .crossJoin(broadcast(national))
            .select(
                "zone_id", "holiday_date",
                F.current_timestamp().alias("processed_at"),
            ),
            "silver", "dim_zone_holidays",
        )

    def audit_dimensions(self) -> dict[str, float]:
        """Quality-log audits (:356-397) — same metric names, computed
        in ONE aggregation pass per table (3 jobs total, not ~6): the
        null counts and totals ride a single dimz agg, and the rent
        coverage reuses that count instead of re-scanning.  All six
        metrics land in the quality log as ONE commit."""
        s, lake = self.spark, self.lake
        dimz_row = (
            lake.read(s, "silver", "dim_zones")
            .agg(
                F.sum(F.col("ine_code").isNull().cast("long")).alias(
                    "missing_ine"
                ),
                F.sum(
                    F.col("centroid_lon").isNull().cast("long")
                ).alias("missing_geo"),
                F.count(F.lit(1)).alias("total"),
            )
            .collect()[0]
        )
        pop_total = (
            lake.read(s, "silver", "metric_population")
            .agg(F.sum("population"))
            .collect()[0][0]
        )
        rent_row = (
            lake.read(s, "silver", "metric_ine_rent")
            .agg(
                F.avg("income_per_capita").alias("avg_income"),
                F.countDistinct("zone_id").alias("n_zones"),
            )
            .collect()[0]
        )
        metrics = {
            "zones_missing_ine_code": dimz_row["missing_ine"],
            "zones_missing_geo_coords": dimz_row["missing_geo"],
            "total_zones": dimz_row["total"],
            "total_population": pop_total,
            "avg_income": float(rent_row["avg_income"]),
            "rent_coverage_pct": rent_row["n_zones"]
            * 100.0 / max(dimz_row["total"], 1),
        }
        log_metric(lake, s, "silver.dims", metrics)
        return metrics

    # ------------------------------------------------------------------
    # silver fact (:483-581)
    # ------------------------------------------------------------------

    def process_days(self, dates: list[str]) -> None:
        """Typed silver fact for the given dates, idempotent per
        partition.  Period timestamps built under Europe/Madrid."""
        s, lake = self.spark, self.lake
        bronze = lake.read(s, "bronze", "mobility_data").filter(
            F.col("fecha").isin(dates)
        )
        dimz = lake.read(s, "silver", "dim_zones")
        zo = dimz.select(
            F.col("mitma_code").alias("zo_code"),
            F.col("zone_id").alias("origin_zone_id"),
        )
        zd = dimz.select(
            F.col("mitma_code").alias("zd_code"),
            F.col("zone_id").alias("destination_zone_id"),
        )
        with session_tz(s, MADRID_TZ):
            fact = (
                bronze.filter(
                    F.col("fecha").isNotNull()
                    & F.col("viajes").isNotNull()
                    & parse_yyyymmdd(F.col("fecha")).isNotNull()
                )
                .join(broadcast(zo), F.trim("origen") == F.col("zo_code"))
                .join(broadcast(zd), F.trim("destino") == F.col("zd_code"))
                .select(
                    period_timestamp(
                        parse_yyyymmdd(F.col("fecha")),
                        F.col("periodo").cast("int"),
                    ).alias("period"),
                    "origin_zone_id",
                    "destination_zone_id",
                    F.coalesce(
                        F.col("viajes").try_cast("double"),
                        spanish_number(F.col("viajes")),
                    ).alias("trips"),
                    F.current_timestamp().alias("processed_at"),
                    parse_yyyymmdd(F.col("fecha")).alias("partition_date"),
                )
                .filter(F.col("trips").isNotNull())
            )
            # fact + its audit-trail row commit ATOMICALLY (the
            # cross-table transaction DuckLake offered, S11): a crash
            # can never leave a batch in the fact without its quality-
            # log record, or vice versa
            audit_row = metric_rows(
                s, "silver.fact_mobility",
                {"batch_days_committed": len(dates)},
                ",".join(sorted(dates)),
            )
            with lake.transaction() as txn:
                txn.overwrite_partitions(
                    fact, "silver", "fact_mobility",
                    partition_col="partition_date",
                )
                txn.append(audit_row, "silver", "data_quality_log")

    def audit_batch(self, dates: list[str]) -> dict[str, float]:
        """Batch audit (:584-634): rows, Σ trips, days, bad-row %,
        logged as ONE quality-log commit."""
        s, lake = self.spark, self.lake
        fact = lake.read(s, "silver", "fact_mobility")
        row = fact.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("trips").cast("decimal(25,6)"))
            .cast("double")
            .alias("total_trips"),
            F.countDistinct("partition_date").alias("days"),
            F.sum(
                (
                    F.col("origin_zone_id").isNull()
                    | F.col("destination_zone_id").isNull()
                ).cast("long")
            ).alias("bad"),
        ).collect()[0]
        metrics = {
            "batch_rows": float(row["n"]),
            "batch_total_trips": float(row["total_trips"]),
            "batch_days_loaded": float(row["days"]),
            "batch_bad_row_pct": 100.0 * row["bad"] / max(row["n"], 1),
        }
        log_metric(lake, s, "silver.fact_mobility", metrics)
        return metrics

    # ------------------------------------------------------------------
    # gold (:640-852)
    # ------------------------------------------------------------------

    def refresh_gold_daily_demand(self) -> dict[str, float]:
        """Incremental gold refresh driven by the change feed (beyond
        reference — the reference rebuilds gold tables from the full
        fact every run).

        gold.daily_zone_demand = per-(day, origin zone) trip totals,
        partitioned by day.  Each call reads the silver fact's CDC feed
        since the last synced version to learn WHICH days changed (pure
        log arithmetic + changed-slice diff, never a full scan), then
        recomputes and partition-merges ONLY those days.  At 100 TB a
        daily batch refreshes one day's partition regardless of table
        history.  The sync cursor is the gold table's watermark
        (`matview.META_KEY`): it commits atomically with the gold rows
        it describes and is read back from the gold log, so the refresh
        is idempotent and restartable.  A window that changes no day (a
        silver compaction or schema change) advances it with a
        metadata-only log line.  With no watermark (the first build, or
        a gold table written before it) or a window that vacuum
        reclaimed, gold is rebuilt in full, every day it held included.
        """
        s, lake = self.spark, self.lake
        fact_t = ("silver", "fact_mobility")
        gold = ("gold", "daily_zone_demand")
        latest = len(lake.snapshots(*fact_t)) - 1
        cursor = watermark(lake, *gold)
        meta = {META_KEY: latest}
        if cursor is not None and cursor >= latest:
            return {"silver_version": float(latest), "refreshed_days": 0.0}

        def demand(fact):
            return fact.groupBy("partition_date", "origin_zone_id").agg(
                F.sum(F.col("trips").cast("decimal(25,6)"))
                .cast("double")
                .alias("total_trips"),
                F.count(F.lit(1)).alias("n_rows"),
            )

        days = None  # None: rebuild in full, see above
        if cursor is not None:
            try:
                cdc = read_window(lake, s, fact_t, cursor, latest)
                days = [] if cdc is None else [
                    str(r[0])
                    for r in cdc.select("partition_date").distinct().collect()
                ]
            except HistoryUnavailableError:
                pass  # vacuum reclaimed the window
        if days is None:
            supersede_partitions(
                lake, demand(lake.read(s, *fact_t)), gold,
                "partition_date", meta,
            )
        elif days:
            fact = lake.read(s, *fact_t).filter(
                F.col("partition_date").cast("string").isin(days)
            )
            lake.overwrite_partitions(
                demand(fact), *gold,
                partition_col="partition_date",
                partitions=days,
                extra_meta=meta,
            )
        else:
            advance_watermark(lake, *gold, latest)
        return {
            "silver_version": float(latest),
            "refreshed_days": -1.0 if days is None else float(len(days)),
        }

    def build_gold_clustering(self, k: int = 3, seed: int = 42) -> None:
        """typical_day_by_cluster + dim_cluster_assignments (the latter
        materialized — latent bug fix, SURVEY appendix)."""
        from ..ml.clustering import typical_day_clustering

        s, lake = self.spark, self.lake
        with session_tz(s, MADRID_TZ):
            fact = lake.read(s, "silver", "fact_mobility")
            events = fact.select(
                F.col("period").alias("ts"), F.col("trips").alias("value")
            )
            assignments, gold = typical_day_clustering(events, k=k, seed=seed)
            lake.overwrite(  # ≤|days| VALUES rows: one file, one task
                assignments.select(
                    F.col("event_date").alias("date"), "cluster_id"
                ).coalesce(1),
                "gold", "dim_cluster_assignments",
            )
            lake.overwrite(
                gold.withColumn("processed_at", F.current_timestamp()),
                "gold", "typical_day_by_cluster",
            )

    def build_gold_gaps(self) -> None:
        """Gravity-model infrastructure gaps (:817-852 + notebook v3
        schema): pre-aggregate OD pairs, broadcast-enrich with
        population/rent/centroids, haversine distance."""
        s, lake = self.spark, self.lake
        fact = lake.read(s, "silver", "fact_mobility")
        dimz = lake.read(s, "silver", "dim_zones")
        pop = lake.read(s, "silver", "metric_population")
        rent = lake.read(s, "silver", "metric_ine_rent")

        od = fact.groupBy(
            F.col("origin_zone_id").alias("org_zone_id"),
            F.col("destination_zone_id").alias("dest_zone_id"),
        ).agg(
            F.sum(F.col("trips").cast("decimal(25,6)"))
            .cast("double")
            .alias("total_trips")
        )
        zinfo = (
            dimz.join(pop.select("zone_id", "population"), "zone_id", "left")
            .join(
                rent.select("zone_id", "income_per_capita"),
                "zone_id", "left",
            )
            .select(
                "zone_id", "centroid_lon", "centroid_lat",
                "population", "income_per_capita",
            )
        )
        zo = zinfo.select(
            F.col("zone_id").alias("o_id"),
            F.col("centroid_lon").alias("o_lon"),
            F.col("centroid_lat").alias("o_lat"),
            F.col("population").alias("o_pop"),
        )
        zd = zinfo.select(
            F.col("zone_id").alias("d_id"),
            F.col("centroid_lon").alias("d_lon"),
            F.col("centroid_lat").alias("d_lat"),
            F.col("population").alias("d_pop"),
            F.col("income_per_capita").alias("d_rent"),
        )
        dist = F.round(
            haversine_km(
                F.col("o_lat"), F.col("o_lon"),
                F.col("d_lat"), F.col("d_lon"),
            ),
            4,
        )
        # greatest() skips NULLs, which would fabricate a 0.5 km distance
        # for zones with missing geometry — gate on dist explicitly so
        # unknown geography yields NULL potential/mismatch (audit-visible)
        potential = F.when(
            dist.isNotNull(),
            (
                F.col("o_pop") * F.col("d_pop")
                * F.coalesce(F.col("d_rent"), F.lit(1.0))
            ) / F.pow(F.greatest(F.lit(0.5), dist), 2),
        )
        gaps = (
            od.join(broadcast(zo), F.col("org_zone_id") == F.col("o_id"))
            .join(broadcast(zd), F.col("dest_zone_id") == F.col("d_id"))
            .select(
                "org_zone_id", "dest_zone_id",
                F.round("total_trips", 2).alias("total_trips"),
                dist.alias("geographic_distance_km"),
                # ratio columns stay full-precision: the ranking signal
                # can live many orders of magnitude below round(…, 6)
                potential.alias("estimated_potential_trips"),
                (F.col("total_trips") / F.nullif(potential, F.lit(0)))
                .alias("mismatch_ratio"),
                F.current_timestamp().alias("processed_at"),
            )
        )
        lake.overwrite(gaps, "gold", "infrastructure_gaps")

    # ------------------------------------------------------------------
    # consultations (mobility_consultations.py)
    # ------------------------------------------------------------------

    def consult_clustering_by_polygon(
        self, polygon: list[tuple[float, float]],
        start_date: str, end_date: str,
    ) -> DataFrame:
        """Hourly profile per cluster for zones inside the polygon
        (mobility_consultations.py:27-124)."""
        s, lake = self.spark, self.lake
        with session_tz(s, MADRID_TZ):
            fact = lake.read(s, "silver", "fact_mobility")
            dimz = lake.read(s, "silver", "dim_zones")
            clusters = lake.read(s, "gold", "dim_cluster_assignments")
            zones_in = dimz.filter(
                point_in_polygon(
                    F.col("centroid_lon"), F.col("centroid_lat"), polygon
                )
            ).select(F.col("zone_id").alias("origin_zone_id"))
            return (
                fact.filter(
                    F.col("partition_date").between(start_date, end_date)
                )
                .join(broadcast(zones_in), "origin_zone_id")
                .join(
                    broadcast(clusters),
                    F.to_date("period") == F.col("date"),
                )
                .groupBy(
                    "cluster_id",
                    F.hour("period").cast("long").alias("hour"),
                )
                .agg(
                    F.round(
                        F.sum(F.col("trips").cast("decimal(25,6)"))
                        .cast("double")
                        / F.countDistinct(F.to_date("period")),
                        2,
                    ).alias("avg_trips")
                )
                .orderBy("cluster_id", "hour")
            )

    def consult_gaps_topk(
        self, polygon: list[tuple[float, float]], k: int = 10
    ) -> DataFrame:
        """Worst mismatch_ratio pairs with origin inside the polygon
        (mobility_consultations.py:126-167)."""
        s, lake = self.spark, self.lake
        gaps = lake.read(s, "gold", "infrastructure_gaps")
        dimz = lake.read(s, "silver", "dim_zones")
        zones_in = dimz.filter(
            point_in_polygon(
                F.col("centroid_lon"), F.col("centroid_lat"), polygon
            )
        ).select(F.col("zone_id").alias("org_zone_id"))
        return (
            gaps.join(broadcast(zones_in), "org_zone_id")
            .filter(F.col("mismatch_ratio").isNotNull())
            .orderBy(
                F.col("mismatch_ratio").asc(),
                "org_zone_id", "dest_zone_id",
            )
            .limit(k)
        )
