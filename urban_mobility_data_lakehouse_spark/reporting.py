"""Reporting edge (SURVEY §2.10 U6): matplotlib PNGs from gold tables.

The reference renders cluster hourly profiles and consultation charts
(mobility_ingestion_pipeline.py:776-799; mobility_consultations.py:
97-118).  Chart rendering is driver-side by nature — the engine's
contract is that ONLY the final small aggregate crosses `.toPandas()`.
matplotlib is an optional dependency; without it the chart function
raises a clear ImportError.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _require_matplotlib():
    try:
        import matplotlib

        matplotlib.use("Agg")
        import matplotlib.pyplot as plt

        return plt
    except ImportError as e:
        raise ImportError(
            "matplotlib is required for chart rendering; the underlying "
            "DataFrames are available without it"
        ) from e


def plot_cluster_profiles(gold: DataFrame, out_path: str) -> str:
    """One line per cluster_id over hour → avg_trips (the reference's
    typical-day chart).  `gold` = gold.typical_day_by_cluster shape."""
    plt = _require_matplotlib()
    pdf = gold.select("cluster_id", "hour", "avg_trips").toPandas()
    fig, ax = plt.subplots(figsize=(10, 5))
    for cid, grp in pdf.groupby("cluster_id"):
        grp = grp.sort_values("hour")
        ax.plot(grp["hour"], grp["avg_trips"], label=f"Cluster {cid}")
    ax.set_xlabel("hour"), ax.set_ylabel("avg trips"), ax.legend()
    fig.savefig(out_path, dpi=100, bbox_inches="tight")
    plt.close(fig)
    return out_path
