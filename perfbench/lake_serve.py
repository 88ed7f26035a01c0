"""`lake_serve`: consultation reads beside late corrections, on one lake.

Set-up generates the bronze sources and builds the whole lake through
the pipeline (static sources, dimensions, every day's fact in two
commits, gold clustering and gaps).  The timed phase runs rounds of six
seeded reads -- consult_clustering_by_polygon, consult_gaps_topk,
read_as_of the set-up state, read_changes of the latest commit -- and
one correction to silver.fact_mobility, rotating through a
copy-on-write merge_into of a corrected day, a merge-on-read
update_where, a merge-on-read delete_where and a compact.

The benchmark keeps its own model of the fact table (one entry per
day, hour, origin and destination), so every read and every
correction is checked against what the model says it must return.
"""

from __future__ import annotations

import os

import gen_bronze
from daily_ingest import ZONES
from harness import Context

DAYS = 7  # Fri 2023-10-27 .. Thu 2023-11-02: the DST day and the holiday
READS = ("consult_cluster", "consult_gaps", "consult_cluster",
         "consult_gaps", "read_as_of", "read_changes")
WRITES = ("merge_cow", "update_mor", "delete_mor", "compact")
FACT = ("silver", "fact_mobility")
KEY = ["period", "origin_zone_id", "destination_zone_id"]


def iso(date: str) -> str:
    return f"{date[:4]}-{date[4:6]}-{date[6:]}"


class LakeServe:
    name = "lake_serve"
    lake_main = FACT
    gated_ops = len(READS) + 1  # op_cpu_ms averages over the first round

    def generate(self, ctx: Context) -> None:
        self.gen = gen_bronze.write_bronze(
            os.path.join(ctx.tmp, "bronze"), ctx.seed, ZONES, DAYS
        )
        ctx.inputs.update({"zones": ZONES, "days": DAYS})

    def setup(self, ctx: Context) -> None:
        from urban_mobility_data_lakehouse_spark.pipeline.mobility import (
            MobilityPipeline,
        )

        gen = self.gen
        self.dates = [iso(d) for d in gen["dates"]]
        pipe = self.pipe = MobilityPipeline(
            ctx.spark, os.path.join(ctx.tmp, "lake")
        )
        self.lake = pipe.lake
        pipe.create_schemas()
        pipe.ingest_bronze(gen["paths"])
        pipe.build_silver_dimensions()
        pipe.ingest_bronze_trips(gen["paths"]["trips_dir"], gen["dates"])
        pipe.process_days(gen["dates"][:-1])
        pipe.process_days(gen["dates"][-1:])
        pipe.build_gold_clustering()
        pipe.build_gold_gaps()

        self.model = {
            (iso(day), hour, o, d): trips
            for day, info in gen["days"].items()
            for hour, o, d, trips in info["rows"]
        }
        ctx.inputs["fact_rows"] = len(self.model)
        self.initial_rows = len(self.model)
        self.last_change_rows = gen["days"][gen["dates"][-1]]["n_rows"]
        self.as_of = self.lake.snapshots(*FACT)[-1]["timestamp"]
        self.clusters = {
            str(r["date"]): r["cluster_id"]
            for r in self.lake.read(
                ctx.spark, "gold", "dim_cluster_assignments"
            ).collect()
        }
        self.changed_rows = 0

    # -- seeded arguments -------------------------------------------------

    def _polygon(self, rng):
        """A grid-aligned rectangle and the zones whose centroids it
        holds (the last zone has no geometry, so never)."""
        cols = gen_bronze.GRID_COLS
        rows = (ZONES + cols - 1) // cols
        c0 = rng.randrange(cols)
        c1 = rng.randrange(c0, cols)
        r0 = rng.randrange(rows)
        r1 = rng.randrange(r0, rows)
        x0, y0 = gen_bronze.zone_square(c0 + r0 * cols)
        x1, y1 = gen_bronze.zone_square(c1 + r1 * cols)
        poly = [(x0 - 0.1, y0 - 0.1), (x1 + 0.6, y0 - 0.1),
                (x1 + 0.6, y1 + 0.6), (x0 - 0.1, y1 + 0.6)]
        inside = {
            i for i in range(ZONES - 1)
            if c0 <= i % cols <= c1 and r0 <= i // cols <= r1
        }
        return poly, inside

    # -- reads ------------------------------------------------------------

    def read(self, ctx: Context, kind: str) -> None:
        rng, spark, lake = ctx.rng, ctx.spark, self.lake
        if kind == "consult_cluster":
            poly, inside = self._polygon(rng)
            i = rng.randrange(len(self.dates))
            j = rng.randrange(i, len(self.dates))
            start, end = self.dates[i], self.dates[j]
            with ctx.op(kind, "read") as rec:
                df = self.pipe.consult_clustering_by_polygon(poly, start, end)
                rec["df"] = df
                with ctx.span("spark.collect"):
                    got = len(df.collect())
            want = len({
                (self.clusters.get(day), hour)
                for (day, hour, o, _d) in self.model
                if start <= day <= end and o in inside
            })
        elif kind == "consult_gaps":
            poly, inside = self._polygon(rng)
            with ctx.op(kind, "read") as rec:
                df = self.pipe.consult_gaps_topk(poly, 10)
                rec["df"] = df
                with ctx.span("spark.collect"):
                    got = len(df.collect())
            want = min(10, sum(
                gen_bronze.od_present(o, d)
                for o in inside
                for d in range(ZONES - 1)
            ))
        elif kind == "read_as_of":
            with ctx.op(kind, "read") as rec:
                df = lake.read_as_of(spark, *FACT, self.as_of)
                with ctx.span("spark.count"):
                    got = df.count()
            want = self.initial_rows
        else:
            with ctx.op(kind, "read") as rec:
                v = len(lake.snapshots(*FACT)) - 1
                df = lake.read_changes(spark, *FACT, v - 1, v)
                with ctx.span("spark.count"):
                    got = df.count()
            want = self.last_change_rows
        rec.pop("df", None)
        if rec["ok"]:
            ctx.check(rec, got == want, f"{got} rows, expected {want}")

    # -- corrections ------------------------------------------------------

    def write(self, ctx: Context, kind: str) -> None:
        import pyspark.sql.functions as F

        rng, spark, lake, model = ctx.rng, ctx.spark, self.lake, self.model
        day = rng.choice(self.dates)
        origins = sorted({k[2] for k in model if k[0] == day})
        o = rng.choice(origins) if origins else rng.randrange(ZONES)
        d = rng.randrange(ZONES)
        on_day = F.col("partition_date") == F.lit(day).cast("date")
        before = len(lake.snapshots(*FACT))
        changed = 0  # rows inserted, updated or deleted
        changes = 0  # rows the change feed shows for the commit
        if kind == "merge_cow":
            dests = sorted({k[3] for k in model if k[0] == day and k[2] == o})
            absent = [x for x in range(ZONES) if x not in dests]
            src = rng.choice(dests) if dests else None
            new = rng.choice(absent) if absent and dests else None
            with ctx.op(kind, "write") as rec:
                rows = lake.read(spark, *FACT).filter(
                    on_day & (F.col("origin_zone_id") == o + 1)
                )
                updates = rows.withColumn("trips", F.col("trips") * 1.5)
                if new is not None:
                    updates = updates.unionByName(
                        rows.filter(F.col("destination_zone_id") == src + 1)
                        .withColumn(
                            "destination_zone_id", F.lit(new + 1).cast("long")
                        )
                    )
                lake.merge_into(
                    spark, *FACT, updates, KEY, partition_col="partition_date"
                )
            mine = [k for k in model if k[0] == day and k[2] == o]
            copied = {
                (k[0], k[1], k[2], new): model[k]
                for k in mine if new is not None and k[3] == src
            }
            for k in mine:
                model[k] *= 1.5
            model.update(copied)
            changed = len(mine) + len(copied)
            changes = 2 * len(mine) + len(copied)
        elif kind == "update_mor":
            with ctx.op(kind, "write") as rec:
                lake.update_where(
                    spark, *FACT,
                    condition=on_day & (F.col("destination_zone_id") == d + 1),
                    set={"trips": F.col("trips") + 1},
                    partition_col="partition_date", mode="merge_on_read",
                )
            mine = [k for k in model if k[0] == day and k[3] == d]
            for k in mine:
                model[k] += 1
            changed = len(mine)
            changes = 2 * len(mine)
        elif kind == "delete_mor":
            with ctx.op(kind, "write") as rec:
                lake.delete_where(
                    spark, *FACT,
                    condition=on_day
                    & (F.col("origin_zone_id") == o + 1)
                    & (F.col("destination_zone_id") == d + 1),
                    partition_col="partition_date", mode="merge_on_read",
                )
            mine = [k for k in model if k[0] == day and k[2] == o and k[3] == d]
            for k in mine:
                del model[k]
            changed = changes = len(mine)
        else:
            with ctx.op(kind, "write") as rec:
                lake.compact(
                    spark, *FACT, partition_col="partition_date", vacuum=False
                )
        if not rec["ok"]:
            return
        committed = len(lake.snapshots(*FACT)) > before
        if kind != "compact":
            ctx.check(
                rec, committed == (changed > 0),
                f"committed={committed} for {changed} changed rows",
            )
        if committed:
            self.last_change_rows = changes
        self.changed_rows += changed
        rec["changed_rows"] = changed
        row = lake.read(spark, *FACT).agg(
            F.count(F.lit(1)).alias("n"), F.sum("trips").alias("t")
        ).collect()[0]
        want_t = sum(model.values())
        ctx.check(
            rec,
            row["n"] == len(model)
            and abs((row["t"] or 0.0) - want_t) <= 1e-6 * max(1.0, want_t),
            f"table holds {row['n']} rows / {row['t']} trips, "
            f"model {len(model)} / {want_t}",
        )

    def run(self, ctx: Context):
        def one_round(i: int) -> None:
            for kind in ctx.rng.sample(READS, len(READS)):
                self.read(ctx, kind)
            self.write(ctx, WRITES[i % len(WRITES)])

        return ctx.loop(one_round)

    def logical_rows(self) -> int:
        return self.changed_rows
