"""Pipeline orchestration: the reference's Airflow DAG wiring
(mobility_ingestion_pipeline.py:855-888, `t_schemas >> [t_geo, t_csvs]
>> t_dims >> t_audit_dims >> t_init_facts >> t_workers >>
t_audit_facts >> t_gold_cluster >> t_gold_gaps`) as a plain callable
running the same order.

Each task remains an independent method over the shared lakehouse (the
reference's tasks share only the DuckLake catalog, SURVEY §3.1), so
any external scheduler can call them in this order.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .mobility import MobilityPipeline

TASK_ORDER = [
    "create_schemas",
    "ingest_bronze",        # geo + static CSVs (t_geo, t_csvs)
    "build_silver_dimensions",
    "audit_dimensions",
    "process_days",         # t_init_facts + mapped t_workers
    "audit_batch",
    "build_gold_clustering",
    "build_gold_gaps",
]


def run_pipeline(
    spark: SparkSession,
    lake_root: str,
    fixtures: dict[str, str],
    dates: list[str],
    k: int = 3,
    seed: int = 42,
) -> dict[str, dict]:
    """Run the full medallion pipeline in the reference's task order.
    Returns the audit metrics (the data-quality log is also persisted,
    S13)."""
    p = MobilityPipeline(spark, lake_root)
    p.create_schemas()
    p.ingest_bronze(fixtures)
    p.ingest_bronze_trips(fixtures["trips_dir"], dates)
    p.build_silver_dimensions()
    dim_audit = p.audit_dimensions()
    p.process_days(dates)
    batch_audit = p.audit_batch(dates)
    p.build_gold_clustering(k=k, seed=seed)
    p.build_gold_gaps()
    return {"dimensions": dim_audit, "batch": batch_audit}
