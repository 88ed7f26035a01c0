"""`daily_ingest`: the production DAG, one daily batch at a time.

Set-up generates the bronze sources, ingests the static ones and builds
the silver dimensions.  The timed phase runs one batch per day, oldest
day first -- ingest_bronze_trips -> process_days -> audit_batch ->
refresh_gold_daily_demand -- and, after the last day, the gold
clustering and gaps builds.  Each batch's audit is checked against the
generator's running totals, the clustering against the day types.
"""

from __future__ import annotations

import os
from decimal import Decimal

import gen_bronze
from harness import Context

ZONES = 12
DAYS = 21
MIN_DAYS = 3  # all three day types, so the clustering check is defined


def clusters_match_day_types(assignments: dict[str, int], dates) -> bool:
    """True when the clusters partition the days exactly by day type."""
    by_type: dict[str, set[int]] = {}
    for date in dates:
        key = f"{date[:4]}-{date[4:6]}-{date[6:]}"
        by_type.setdefault(gen_bronze.day_type(date), set()).add(
            assignments.get(key, -1)
        )
    clusters = [c for cs in by_type.values() for c in cs]
    return (
        -1 not in clusters
        and all(len(cs) == 1 for cs in by_type.values())
        and len(set(clusters)) == len(clusters)
    )


def gap_pairs(n_zones: int) -> int:
    return sum(
        gen_bronze.od_present(o, d)
        for o in range(n_zones)
        for d in range(n_zones)
    )


class DailyIngest:
    name = "daily_ingest"
    lake_main = ("silver", "fact_mobility")
    gated_ops = MIN_DAYS  # op_cpu_ms averages over the first batches

    def generate(self, ctx: Context) -> None:
        self.gen = gen_bronze.write_bronze(
            os.path.join(ctx.tmp, "bronze"), ctx.seed, ZONES, DAYS
        )
        ctx.inputs.update({
            "zones": ZONES,
            "days": DAYS,
            "rows_per_day": self.gen["days"][self.gen["dates"][0]]["n_rows"],
        })

    def setup(self, ctx: Context) -> None:
        from urban_mobility_data_lakehouse_spark.pipeline.mobility import (
            MobilityPipeline,
        )

        self.pipe = MobilityPipeline(ctx.spark, os.path.join(ctx.tmp, "lake"))
        self.lake = self.pipe.lake
        self.pipe.create_schemas()
        self.pipe.ingest_bronze(self.gen["paths"])
        self.pipe.build_silver_dimensions()

    def run(self, ctx: Context):
        pipe, gen = self.pipe, self.gen
        self.done: list[str] = []
        self.rows = 0
        self.trips = Decimal(0)

        def batch(i: int) -> None:
            day = gen["dates"][i]
            with ctx.op(day, "write", batch=i) as rec:
                pipe.ingest_bronze_trips(gen["paths"]["trips_dir"], [day])
                pipe.process_days([day])
                audit = pipe.audit_batch([day])
                refresh = pipe.refresh_gold_daily_demand()
            if not rec["ok"]:
                return
            self.done.append(day)
            self.rows += gen["days"][day]["n_rows"]
            self.trips += gen["days"][day]["trips"]
            rec["fact_rows"] = gen["days"][day]["n_rows"]
            want = {
                "batch_rows": float(self.rows),
                "batch_total_trips": float(self.trips),
                "batch_days_loaded": float(len(self.done)),
                "batch_bad_row_pct": 0.0,
            }
            for key, value in want.items():
                got = audit.get(key)
                ctx.check(
                    rec,
                    got is not None and abs(got - value) <= 1e-6 * max(1.0, value),
                    f"audit {key} = {got}, expected {value}",
                )
            ctx.check(
                rec,
                refresh.get("refreshed_days") == (-1.0 if i == 0 else 1.0),
                f"gold refresh {refresh}",
            )

        wall, ambient = ctx.loop(
            batch, min_rounds=MIN_DAYS, max_rounds=len(gen["dates"])
        )
        with ctx.op("gold_clustering", "build") as clustering:
            pipe.build_gold_clustering()
        if clustering["ok"]:
            got = {
                str(r["date"]): r["cluster_id"]
                for r in self.lake.read(
                    ctx.spark, "gold", "dim_cluster_assignments"
                ).collect()
            }
            ctx.check(
                clustering,
                len(got) == len(self.done)
                and clusters_match_day_types(got, self.done),
                f"clusters {sorted(got.items())} do not match the day types",
            )
        with ctx.op("gold_gaps", "build") as gaps:
            pipe.build_gold_gaps()
        if gaps["ok"]:
            n = self.lake.read(ctx.spark, "gold", "infrastructure_gaps").count()
            ctx.check(
                gaps, n == gap_pairs(ZONES),
                f"{n} gap rows, expected {gap_pairs(ZONES)}",
            )
        return wall + (clustering["ms"] + gaps["ms"]) / 1000.0, ambient

    def logical_rows(self) -> int:
        return self.rows
