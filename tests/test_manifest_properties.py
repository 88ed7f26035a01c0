"""Property test for `export_manifest`: after ANY random sequence of
lakehouse mutations, the manifest contract must hold at every version —
either the export REFUSES (exactly when the snapshot holds
file-inexpressible state: live DVs, additive exclusions, non-NULL ADD
defaults) or the DuckDB replay of the file list matches `read()`
row-for-row.  This is the same randomized-tape methodology as
test_concurrency_mixed, pointed at the newest read surface.
"""

from __future__ import annotations

import random

import duckdb
import pandas as pd
import pyspark.sql.functions as F
import pytest

from urban_mobility_data_lakehouse_spark.sources.lakehouse import (
    Lakehouse,
    ManifestExportError,
)

N_STEPS = 10


def _replay(manifest) -> set[tuple]:
    con = duckdb.connect()

    def project(rel):
        cols = []
        for c in rel.columns:
            if c in manifest["dropped_physical_columns"]:
                continue
            if c in manifest["hidden_partition_columns"]:
                continue
            cols.append(
                f'"{c}" AS "{manifest["column_mapping"].get(c, c)}"'
            )
        return con.sql(f"SELECT {', '.join(cols)} FROM rel").df()

    frames = []
    for key, hive in (("hive_files", True), ("flat_files", False)):
        if manifest[key]:
            rel = con.sql(
                "SELECT * FROM read_parquet($files, "
                f"hive_partitioning={'true' if hive else 'false'}, "
                "union_by_name=true)",
                params={"files": manifest[key]},
            )
            frames.append(project(rel))
    df = (
        pd.concat(frames, ignore_index=True)
        if len(frames) > 1
        else frames[0]
    )
    for a in manifest["added_null_columns"]:
        if a["column"] not in df.columns:
            df[a["column"]] = None
    df = df[sorted(df.columns)]
    return {
        tuple(str(x) for x in r) for r in df.itertuples(index=False)
    }


def _spark_rows(df) -> set[tuple]:
    cols = sorted(df.columns)
    pdf = df.select(
        *[F.col(c).cast("string") for c in cols]
    ).toPandas()
    return {
        tuple(str(x) for x in r) for r in pdf.itertuples(index=False)
    }


def _df(spark, rows, vcol="v", vtype="float"):
    # Writers must speak the CURRENT logical schema: once the tape has
    # executed rename_column("v", "v2"), every later frame we hand to
    # append/merge must carry `v2` (the writer's logical→physical
    # translation maps it back to the physical `v` bytes on disk).
    # v starts FLOAT so the tape's "widen" op (float→double) is legal;
    # every v value is a small integer, so float32/float64 renderings
    # agree and the string-compare replay stays exact.
    return spark.createDataFrame(
        rows, f"id long, p string, {vcol} {vtype}"
    )


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_manifest_contract_under_random_op_tape(spark, tmp_path, seed):
    rng = random.Random(20260815 + seed)
    lake = Lakehouse(str(tmp_path / "lake"))
    lake.create_schemas("silver")
    lake.overwrite_partitions(
        _df(spark, [(i, str(i % 3), float(i)) for i in range(30)]),
        "silver", "t", partition_col="p",
    )
    next_id = 1000
    renamed = False
    widened = False
    for step in range(N_STEPS):
        vcol = "v2" if renamed else "v"
        op = rng.choice(
            ["append", "merge", "delete_cow", "delete_mor",
             "update_mor", "compact", "add_col", "rename", "widen",
             "txn_purge_merge", "txn_delete"]
        )
        if op == "append":
            lake.append(
                _df(spark, [(next_id, str(rng.randrange(3)), 1.0)],
                    vcol),
                "silver", "t",
            )
            next_id += 1
        elif op == "merge":
            lake.merge_into(
                spark, "silver", "t",
                _df(spark, [(rng.randrange(30), str(rng.randrange(3)),
                             100.0 + step)], vcol).withColumn(
                    "p", F.col("id").cast("string").substr(1, 1)
                ).withColumn("p", (F.col("id") % 3).cast("string")),
                key="id", partition_col="p",
            )
        elif op == "delete_cow":
            lake.delete_where(
                spark, "silver", "t",
                F.col("id") == rng.randrange(30),
                partition_col="p", mode="copy_on_write",
            )
        elif op == "delete_mor":
            lake.delete_where(
                spark, "silver", "t",
                F.col("id") == rng.randrange(30),
                partition_col="p", mode="merge_on_read",
            )
        elif op == "update_mor":
            lake.update_where(
                spark, "silver", "t",
                F.col("id") == rng.randrange(30),
                {vcol: F.col(vcol) + 1.0},
                partition_col="p", mode="merge_on_read",
            )
        elif op == "txn_purge_merge":
            # the r10 WHEN-MATCHED-DELETE leg: ONE staged commit that
            # merges a row AND purges an unrelated id, whose partition
            # may differ from the update's — the explicit-partition
            # staging (a purge can empty a partition) rides the tape
            with lake.transaction() as txn:
                txn.merge_into(
                    spark, "silver", "t",
                    _df(
                        spark,
                        [(rng.randrange(30), "0", 50.0 + step)],
                        vcol,
                    ).withColumn("p", (F.col("id") % 3).cast("string")),
                    key="id", partition_col="p",
                    purge_condition=F.col("id") == rng.randrange(30),
                )
        elif op == "txn_delete":
            # staged copy-on-write DELETE (r10) — commits only if rows
            # match, like the direct path
            with lake.transaction() as txn:
                txn.delete_where(
                    spark, "silver", "t",
                    F.col("id") == rng.randrange(30),
                    partition_col="p",
                )
        elif op == "compact":
            lake.compact(spark, "silver", "t", partition_col="p")
        elif op == "add_col":
            try:
                lake.add_column(
                    spark, "silver", "t", f"c{step}", "string",
                    default=("x" if rng.random() < 0.5 else None),
                )
            except ValueError:
                pass  # duplicate/retired name — fine
        elif op == "rename" and not renamed:
            lake.rename_column(spark, "silver", "t", "v", "v2")
            renamed = True
        elif op == "widen" and not widened:
            # float→double over the live logical name; later narrow
            # FLOAT frames from _df stay legal (reads upcast), and the
            # manifest replay's union_by_name unifies generations
            lake.widen_column_type(spark, "silver", "t", vcol, "double")
            widened = True

        # contract at the CURRENT version: refuse or replay-exact
        try:
            manifest = lake.export_manifest(
                "silver", "t", write=False
            )
        except ManifestExportError:
            part_map, extra, dvs = lake._manifest("silver", "t")
            has_dv = lake.describe_detail("silver", "t")[
                "num_deletion_vectors"
            ] > 0
            has_excl = any(excl for excl in extra.values())
            has_default = any(
                a["default"] is not None
                for a in lake._state("silver", "t").added
            )
            assert has_dv or has_excl or has_default, (
                "export refused with no file-inexpressible state"
            )
            continue
        assert _replay(manifest) == _spark_rows(
            lake.read(spark, "silver", "t")
        ), f"replay diverged at step {step} (op {op})"
