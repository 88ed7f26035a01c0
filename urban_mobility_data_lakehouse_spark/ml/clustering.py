"""Typical-day clustering dataflow (SURVEY.md §2.10 U1–U5).

Reference pipeline (mobility_ingestion_pipeline.py:640-814): SQL hourly
agg → pandas pivot → row-normalize → sklearn KMeans(k=3, seed=42) →
re-register → gold CTAS.  Spark-first rebuild: the pivot (U1) and row
normalization (U2) are DataFrame ops, clustering is MLlib KMeans (U3),
and the rejoin (U4) is a broadcast join of the tiny assignments table
back onto the hourly aggregate — the only driver-side data is the k×24
centroid matrix.

Cluster labels are permutation-unstable across implementations (SURVEY
§7 'What's hard'), so labels are deterministically re-mapped by cluster
size (desc) then earliest member date — making output stable for a given
assignment partition regardless of MLlib's internal label order.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


HOURS = list(range(24))


def hourly_totals(events: DataFrame) -> DataFrame:
    """U1 input: per (date, hour) totals from the raw event stream."""
    return events.groupBy(
        F.to_date("ts").alias("event_date"),
        F.hour("ts").alias("hour"),
    ).agg(F.sum("value").alias("total_trips"))


def day_profiles(hourly: DataFrame) -> DataFrame:
    """U1+U2: pivot to 24 hour-columns, fill gaps with 0, row-normalize.

    groupBy().pivot(values=HOURS) pre-declares the pivot domain so Spark
    skips the extra distinct-values job — at 100 TB that job would be a
    full extra scan.
    """
    wide = (
        hourly.groupBy("event_date")
        .pivot("hour", HOURS)
        .agg(F.first("total_trips"))
        .na.fill(0.0)
    )
    total = sum((F.col(str(h)) for h in HOURS[1:]), F.col("0"))
    row_sum = F.when(total == 0, F.lit(1.0)).otherwise(total)
    return wide.select(
        "event_date",
        *[(F.col(str(h)) / row_sum).alias(f"h{h}") for h in HOURS],
    )


def _kmeans_driver(
    profiles: DataFrame, k: int, seed: int, n_init: int = 10
) -> DataFrame:
    """Driver-side seeded Lloyd's over the collected profile matrix.

    The profile table is bounded by |distinct days| — a few thousand
    rows even at 100 TB of events — so after the *distributed* agg +
    pivot, clustering its k×24 matrix on the driver is the honest scale
    design (and what the reference does with sklearn:
    mobility_ingestion_pipeline.py:692-693, KMeans(n_clusters=3,
    random_state=42, n_init=10)).  Best-of-n_init by inertia, all
    seeded → bit-deterministic, no MLlib job storm.
    """
    import numpy as np

    spark = profiles.sparkSession
    rows = profiles.orderBy("event_date").collect()
    x = np.array([[r[f"h{h}"] for h in HOURS] for r in rows])
    rng = np.random.RandomState(seed)
    best_assign, best_inertia = None, np.inf
    kk = min(k, len(x))
    for _ in range(n_init):
        cents = x[rng.choice(len(x), size=kk, replace=False)]
        for _ in range(50):
            d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            new = np.array(
                [
                    x[assign == c].mean(axis=0) if (assign == c).any() else cents[c]
                    for c in range(kk)
                ]
            )
            if np.allclose(new, cents):
                break
            cents = new
        d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        inertia = d2.min(axis=1).sum()
        if inertia < best_inertia - 1e-12:
            best_inertia, best_assign = inertia, assign
    from ..sources.localrel import values_df

    return values_df(
        spark,
        [(r["event_date"], int(c)) for r, c in zip(rows, best_assign)],
        "event_date date, raw_cluster int",
    )


def _kmeans_mllib(profiles: DataFrame, k: int, seed: int) -> DataFrame:
    """MLlib backend — the fully-distributed path, for feature matrices
    that outgrow the driver (not the case for day-profiles)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import VectorAssembler

    assembler = VectorAssembler(
        inputCols=[f"h{h}" for h in HOURS], outputCol="features"
    )
    model = KMeans(k=k, seed=seed, featuresCol="features").fit(
        assembler.transform(profiles)
    )
    return model.transform(assembler.transform(profiles)).select(
        "event_date", F.col("prediction").alias("raw_cluster")
    )


def typical_day_clustering(
    events: DataFrame, k: int = 3, seed: int = 42, backend: str = "driver"
) -> tuple[DataFrame, DataFrame]:
    """U3+U4: returns (assignments[event_date, cluster_id],
    gold_profile[cluster_id, hour, avg_trips, total_trips_sample]).

    Gold schema parity: gold.typical_day_by_cluster
    (mobility_ingestion_pipeline.py:708-727).
    """
    # hourly is tiny (days × 24 rows) and feeds BOTH the profile pivot
    # and the gold re-aggregation — checkpoint it so the events
    # scan+shuffle runs once, not twice (localCheckpoint, not .cache():
    # blocks are ContextCleaner-freed on GC instead of leaking in the
    # CacheManager for the session).
    hourly = hourly_totals(events).localCheckpoint(eager=False)
    profiles = day_profiles(hourly)

    if backend == "mllib":
        raw = _kmeans_mllib(profiles, k, seed)
    else:
        raw = _kmeans_driver(profiles, k, seed)

    # Deterministic relabel: biggest cluster → 0, ties by earliest date.
    sizes = raw.groupBy("raw_cluster").agg(
        F.count(F.lit(1)).alias("n_days"), F.min("event_date").alias("first_date")
    )
    order = Window.orderBy(
        F.col("n_days").desc(), F.col("first_date").asc()
    )
    relabel = sizes.select(
        "raw_cluster", (F.row_number().over(order) - 1).alias("cluster_id")
    )
    assignments = (
        raw.join(F.broadcast(relabel), "raw_cluster")
        .select("event_date", F.col("cluster_id").cast("long"))
    )

    gold = (
        hourly.join(F.broadcast(assignments), "event_date")
        .groupBy("cluster_id", F.col("hour").cast("long").alias("hour"))
        .agg(
            F.round(F.avg("total_trips"), 2).alias("avg_trips"),
            F.round(F.sum("total_trips"), 2).alias("total_trips_sample"),
        )
        .orderBy("cluster_id", "hour")
    )
    return assignments, gold


def deterministic_kmeans_assignments(
    events: DataFrame, k: int = 3, iters: int = 5
) -> DataFrame:
    """Per-day relabeled cluster assignment (event_date, cluster_id,
    n_days) — the replayable core `deterministic_kmeans` aggregates
    into the gold profile, exposed separately for the polygon
    consultation (mobility_consultations.py:27-124 joins gold
    assignments to polygon-filtered activity)."""
    _hourly, assignments = _kmeans_hourly_assignments(events, k, iters)
    return assignments.select("event_date", "cluster_id", "n_days")


def deterministic_kmeans_suite(
    events: DataFrame,
    k: int = 3,
    iters: int = 5,
    hourly: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(gold profile, relabeled assignments) over ONE shared replay.

    `typical_day_clusters` needs both the gold rows and the per-day
    assignments (for the polygon consultation); calling
    `deterministic_kmeans` and `deterministic_kmeans_assignments`
    separately ran the WHOLE pipeline twice — two events scans, two
    pivot+collect rounds, two driver Lloyd's loops (r13 measured the
    query at ~2× its r12 wall from exactly this).  This entry point
    computes `_kmeans_hourly_assignments` once and derives both
    outputs from it.  Pass `hourly` to reuse an
    already-materialized (event_date, hour, total_trips) frame —
    values must equal `hourly_totals_exact(events)` bit-for-bit.
    """
    hourly, assignments = _kmeans_hourly_assignments(
        events, k, iters, hourly=hourly
    )
    return (
        _kmeans_gold(hourly, assignments),
        assignments.select("event_date", "cluster_id", "n_days"),
    )


def _kmeans_gold(hourly: DataFrame, assignments: DataFrame) -> DataFrame:
    """Gold rows (cluster_id, hour, avg_trips, total_trips_sample,
    n_days) from the shared hourly totals + relabeled assignments.

    Final 2-dp rounding happens in exact integer micro-units: double
    round() diverges between engines on boundary-adjacent values
    (342.03/6 = 57.005 → Spark 57.00, DuckDB 57.01), but
    floor((200·S + 10⁶·n) / (2·10⁶·n)) is pure BIGINT math — i.e.
    round-half-up of the exact rational — identical everywhere."""
    su = F.sum(
        F.round(F.col("total_trips") * 1000000, 0).cast("long")
    ).alias("su")
    return (
        hourly.join(F.broadcast(assignments), "event_date")
        .groupBy("cluster_id", F.col("hour").cast("long").alias("hour"))
        .agg(
            su,
            F.count(F.lit(1)).alias("n_rows"),
            F.max("n_days").alias("n_days"),
        )
        .select(
            "cluster_id",
            "hour",
            (
                F.expr(
                    "(200 * su + 1000000 * n_rows)"
                    " div (2000000 * n_rows)"
                ).cast("double")
                / 100
            ).alias("avg_trips"),
            (
                F.expr("(su + 5000) div 10000").cast("double") / 100
            ).alias("total_trips_sample"),
            "n_days",
        )
        .orderBy("cluster_id", "hour")
    )


def deterministic_kmeans(
    events: DataFrame, k: int = 3, iters: int = 5
) -> DataFrame:
    """U3 the oracle-checkable way: Lloyd's k-means with a FIXED
    deterministic initialization (the k earliest dates' profiles) and a
    fixed number of unrolled iterations, every arithmetic step chosen
    to be bit-identical across engines:

      - profile values quantized to 6 decimals (round before use)
      - centroid means via DECIMAL(25,6) sums (order-independent)
      - distance folds in fixed h0→h23 order; ties → lowest cluster

    This makes the assignment a pure function of the data — DuckDB can
    recompute it from generated SQL (see queries/clustering_oracle.py),
    which upgrades the clustering gold table from rows-only to a full
    value-hash driver check.  The seeded best-of-n-init variant
    (_kmeans_driver, sklearn parity) remains the pipeline default.

    Returns gold rows: (cluster_id, hour, avg_trips,
    total_trips_sample, n_days), relabeled by size desc / earliest
    date.  Fully distributed: iterations are chained DataFrame aggs
    with the (1 × k·24) centroid row broadcast — no driver-side
    clustering loop over data.
    """
    hourly, assignments = _kmeans_hourly_assignments(events, k, iters)
    return _kmeans_gold(hourly, assignments)


def _kmeans_hourly_assignments(
    events: DataFrame,
    k: int,
    iters: int,
    hourly: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(hourly totals, relabeled per-day assignments) — the shared body
    of the deterministic-Lloyd's replay.  `hourly` overrides the
    events scan with a caller-materialized (event_date, hour,
    total_trips) frame (see deterministic_kmeans_suite)."""
    if hourly is None:
        hourly = hourly_totals_exact(events).localCheckpoint(eager=False)

    # pivot + normalize, quantized
    wide = (
        hourly.groupBy("event_date")
        .pivot("hour", HOURS)
        .agg(F.first("total_trips"))
        .na.fill(0.0)
    )
    total = sum((F.col(str(h)) for h in HOURS[1:]), F.col("0"))
    row_sum = F.when(total == 0, F.lit(1.0)).otherwise(total)
    norm = wide.select(
        "event_date",
        *[
            F.round(F.col(str(h)) / row_sum, 6).alias(f"v{h}")
            for h in HOURS
        ],
    )

    # The profile matrix is bounded by |distinct days| (a few thousand
    # rows even at 100 TB of events), so after the DISTRIBUTED agg +
    # pivot the Lloyd loop itself runs on the driver — the same honest
    # scale design as _kmeans_driver, and what the reference does with
    # sklearn.  Every arithmetic step mirrors the SQL oracle exactly:
    #   - profile values are exact 6-dp decimals → kept as integer
    #     micro-units, so per-cluster sums are exact (== the engines'
    #     DECIMAL(25,6) sums, which are exact for 6-dp inputs)
    #   - centroid = (S/1e6)/n in Python floats = the oracle's
    #     CAST(sum AS DOUBLE)/count: both are two correctly-rounded
    #     IEEE-double operations on identical values
    #   - distances fold h0→h23 left-to-right in doubles; ties → the
    #     lowest cluster — identical to the generated SQL CASE
    rows = norm.orderBy("event_date").collect()
    dates = [r["event_date"] for r in rows]
    vf = [[r[f"v{h}"] for h in HOURS] for r in rows]  # floats
    vi = [
        [int(round(v * 1_000_000)) for v in row] for row in vf
    ]  # exact micro-units

    kk = min(k, len(vf))
    cents = [list(vf[j]) for j in range(kk)]

    def assign_all(c):
        out = []
        for row in vf:
            d = []
            for j in range(kk):
                acc = (row[0] - c[j][0]) * (row[0] - c[j][0])
                for h in HOURS[1:]:
                    acc = acc + (row[h] - c[j][h]) * (row[h] - c[j][h])
                d.append(acc)
            best = kk - 1
            for j in range(kk - 2, -1, -1):
                if all(d[j] <= d[m] for m in range(j + 1, kk)):
                    best = j
            out.append(best)
        return out

    # iters assignments ⇒ iters-1 centroid updates (the final
    # assignment uses the last updated centroids, mirroring the
    # oracle's a1..a{T} / cent1..cent{T-1} CTE chain)
    asg = assign_all(cents)
    for _ in range(iters - 1):
        for j in range(kk):
            members = [vi[i] for i in range(len(vi)) if asg[i] == j]
            if members:
                n = len(members)
                cents[j] = [
                    (float(sum(m[h] for m in members)) / 1e6) / n
                    for h in HOURS
                ]
        asg = assign_all(cents)

    # Deterministic relabel (biggest cluster → 0, ties by earliest
    # date) computed HERE, in the driver loop that already owns
    # dates/asg: the former Spark form (createDataFrame → groupBy
    # sizes → Window row_number → broadcast join) spent 4 extra jobs'
    # scheduling latency re-deriving integer counts of a ≤|dates|-row
    # list the driver was holding.  Pure int/date arithmetic — no
    # float path — so the labels are bit-identical to the Window form
    # (row_number over n_days DESC, first_date ASC; min-date ties are
    # impossible: a date belongs to exactly one cluster).
    n_days: dict[int, int] = {}
    first_date: dict[int, object] = {}
    for d, a in zip(dates, asg):
        n_days[a] = n_days.get(a, 0) + 1
        if a not in first_date or d < first_date[a]:
            first_date[a] = d
    order = sorted(n_days, key=lambda j: (-n_days[j], first_date[j]))
    label = {j: i for i, j in enumerate(order)}
    from ..sources.localrel import values_df

    spark = events.sparkSession
    # values_df, not createDataFrame: this ≤|dates|-row table is
    # broadcast TWICE (gold + consult joins); the pickled-RDD form
    # launched 32 Python workers per broadcast (~20 s task time per
    # bench run of typical_day_clusters)
    assignments = values_df(
        spark,
        [
            (d, label[a], n_days[a])
            for d, a in zip(dates, asg)
        ],
        "event_date date, cluster_id long, n_days long",
    )
    return hourly, assignments


def hourly_totals_exact(events: DataFrame) -> DataFrame:
    """Per (date, hour) totals with an order-independent EXACT sum
    (dsum's BIGINT micro-unit accumulation) — the deterministic twin
    of hourly_totals for oracle-checked paths."""
    from ..operators.relational import dsum

    return events.groupBy(
        F.to_date("ts").alias("event_date"),
        F.hour("ts").alias("hour"),
    ).agg(dsum("value").alias("total_trips"))
