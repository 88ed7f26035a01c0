"""Driver row composing the lakehouse's column-mapping + DML + type-
widening read surface: overwrite → RENAME COLUMN → UPDATE
(merge-on-read) → DELETE (merge-on-read, deletion vectors) →
ADD COLUMN (NULL default) → WIDEN COLUMN TYPE (int → bigint) →
APPEND a post-widen generation with values beyond int32 → read.

This is exactly the composition the randomized manifest tape
(`tests/test_manifest_properties.py`) walks — pinned here as a driver
hash row so the logical→physical column translation under RENAME, the
MoR update/delete application at read time, the projected NULL
default, and the mixed narrow/wide generation upcast are all
value-checked against an INDEPENDENT recomputation: the oracle never
sees the warehouse files, it derives the expected table straight from
the `events` source with the same arithmetic (UPDATE as a CASE,
DELETE as a WHERE, the renamed column as an alias, generation 2 as a
UNION ALL).  A wrong physical rename, an unapplied deletion vector,
an update leaking into the wrong rows, or a widened read that fails
to surface the old int32 files and the new int64 files as ONE bigint
column each move the hash.

The builder materializes a THROWAWAY warehouse per call (per-PID tmp
dir, rebuilt from scratch) — the ops are cheap at driver scale and a
fresh build is what makes the row deterministic under parallel test
shards and repeated runs.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..sources.lakehouse import Lakehouse
from ..sources.testdata import load_table
from . import register

_FIXTURE_ROOT = "/tmp/umdl_fixtures"


def _grouped_part(df: DataFrame, label: str) -> DataFrame:
    """The shared aggregate shape of the reconstruction parts
    (man/ckpt): (part, id=sum(n), p, v2=decimal-exact sum(v2),
    flag=NULL, n=count) per partition — one place, so a convention
    tweak (e.g. the DECIMAL(25,6) double-sum rule) can never land in
    one part and silently unbalance the census cross-check."""
    return (
        df.groupBy("p")
        .agg(
            F.sum("n").cast("long").alias("id"),
            F.expr(
                "cast(sum(cast(v2 as decimal(25,6))) as double)"
            ).alias("v2"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.lit(label).alias("part"),
            "id",
            "p",
            "v2",
            F.lit(None).cast("string").alias("flag"),
            "n",
        )
    )


def _manifest_replay(spark: SparkSession, manifest: dict) -> DataFrame:
    """Reconstruct the logical table from an exported manifest ALONE —
    the Spark twin of `tests/test_manifest_export._duckdb_replay`, the
    code an external engine with no commit-log reader would run.

    Deliberately avoids `Lakehouse.read`: files are opened by path
    with schema merge, hive partition values come from the file PATH
    (`input_file_name()` regexp — external engines do exactly this),
    physical→logical renames / dropped / hidden columns apply from the
    manifest's metadata, NULL-default added columns materialize as
    typed NULLs, and widened columns CAST after the read.  A missing
    file, a superseded file the manifest failed to drop, or wrong
    mapping metadata all change the hashed aggregate."""
    frames = []
    if manifest["hive_files"]:
        df = spark.read.option("mergeSchema", "true").parquet(
            *manifest["hive_files"]
        )
        for pc in manifest["hive_partition_columns"]:
            # the extracted segment carries TWO encoding layers (the
            # r11 canonical-token rule, `lakehouse._canon_token`):
            # input_file_name() is a URI (the on-disk '%' of a
            # hive-escaped name arrives as '%25'), so one url_decode
            # yields the on-disk directory token; the hive layer then
            # maps the __HIVE_DEFAULT_PARTITION__ sentinel to a real
            # NULL and a second url_decode undoes hive %-escaping
            # ('a%3Ab' → 'a:b').  Plain tokens pass through unchanged.
            # NB: both decodes must be PERCENT-ONLY (the engine's
            # `_canon_token` uses urllib.parse.unquote, which leaves a
            # literal '+' alone), but F.url_decode applies
            # x-www-form-urlencoded semantics and would turn '+' into
            # a space.  Pre-escaping '+' to %2B makes that rule
            # unreachable, so url_decode degenerates to pure
            # %XX-decoding and matches unquote exactly.
            def _pct_decode(col):
                return F.url_decode(F.regexp_replace(col, r"\+", "%2B"))

            seg = _pct_decode(
                F.regexp_extract(
                    F.input_file_name(), f"/{pc}=([^/]+)/", 1
                )
            )
            df = df.withColumn(
                pc,
                F.when(
                    seg == "__HIVE_DEFAULT_PARTITION__",
                    F.lit(None).cast("string"),
                ).otherwise(_pct_decode(seg)),
            )
        frames.append(df)
    if manifest["flat_files"]:
        frames.append(
            spark.read.option("mergeSchema", "true").parquet(
                *manifest["flat_files"]
            )
        )
    if not frames:
        raise ValueError(
            f"manifest for {manifest['table']}@v{manifest['version']} "
            "lists no files — nothing to reconstruct (empty table "
            "snapshots are not replayable as a frame)"
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    mapping = manifest["column_mapping"]
    dropped = set(manifest["dropped_physical_columns"])
    hidden = set(manifest["hidden_partition_columns"])
    widened = manifest["widened_columns"]
    out = out.select(
        *[
            F.col(c).cast(widened[c]).alias(mapping.get(c, c))
            if c in widened
            else F.col(c).alias(mapping.get(c, c))
            for c in out.columns
            if c not in dropped and c not in hidden
        ]
    )
    for a in manifest["added_null_columns"]:
        if a["column"] not in out.columns:
            out = out.withColumn(
                a["column"], F.lit(None).cast(a["dtype"])
            )
    return out

# generation-2 constants, shared by the builder and the oracle: ids
# shift clear of generation 1, and the widened column carries values
# ABOVE int32 range — only a correctly-widened read can hold them
_G2_ID_OFFSET = 10_000_000
_G2_N_OFFSET = 3_000_000_000  # > 2^31: needs the widened bigint


@register(
    "lakehouse_roundtrip",
    oracle=f"""
    WITH final_state AS (
        SELECT event_id AS id,
               event_type AS p,
               CASE WHEN event_id % 7 = 3 THEN value * 2 + 1
                    ELSE value END AS v2,
               CAST(NULL AS VARCHAR) AS flag,
               CAST(event_id AS BIGINT) AS n
        FROM events
        WHERE event_id % 11 != 0
        UNION ALL
        SELECT event_id + {_G2_ID_OFFSET},
               event_type,
               value * 3,
               'g2',
               event_id + {_G2_N_OFFSET}
        FROM events
        WHERE event_id % 13 = 0
    )
    , cdc_rows AS (
        -- the change feed the pipe must deliver, replayed from first
        -- principles: initial snapshot as inserts, the MoR UPDATE as
        -- old-image delete + new-image insert pairs, the DV DELETE as
        -- deletes of the CURRENT (post-update) images, the metadata
        -- commits (add_column / widen) as nothing, the post-widen
        -- append as inserts
        SELECT event_id AS id, value AS v2, 'insert' AS ct FROM events
        UNION ALL
        SELECT event_id, value, 'delete' FROM events
        WHERE event_id % 7 = 3
        UNION ALL
        SELECT event_id, value * 2 + 1, 'insert' FROM events
        WHERE event_id % 7 = 3
        UNION ALL
        SELECT event_id,
               CASE WHEN event_id % 7 = 3 THEN value * 2 + 1
                    ELSE value END,
               'delete'
        FROM events WHERE event_id % 11 = 0
        UNION ALL
        SELECT event_id + {_G2_ID_OFFSET}, value * 3, 'insert'
        FROM events WHERE event_id % 13 = 0
    )
    SELECT * FROM (
        SELECT 'dml' AS part, id, p, v2, flag, n FROM final_state
        UNION ALL
        -- mv: the incrementally-refreshed materialized view.  The
        -- engine maintains it from the base table's CDC feed
        -- (affected-group recompute); the oracle aggregates the final
        -- state from scratch — hash equality proves incremental
        -- refresh == from-scratch recompute across the whole DML walk
        SELECT 'mv', CAST(NULL AS BIGINT), p,
               CAST(sum(CAST(v2 AS DECIMAL(25,6))) AS DOUBLE),
               CAST(NULL AS VARCHAR), count(*)
        FROM final_state GROUP BY p
        UNION ALL
        -- cdc: the exactly-once change-feed pipe's sink, summarized
        -- per change type.  The engine's sink accumulated four
        -- incremental polls; the oracle replays the entire change
        -- history from scratch — hash equality proves the windows
        -- covered everything exactly once
        SELECT 'cdc', CAST(NULL AS BIGINT), ct,
               CAST(sum(CAST(v2 AS DECIMAL(25,6))) AS DOUBLE),
               CAST(NULL AS VARCHAR), count(*)
        FROM cdc_rows GROUP BY ct
        UNION ALL
        -- man: the exported snapshot manifest, replayed by a reader
        -- that never touches the commit log.  The engine groups a
        -- raw-file reconstruction (manifest file list + rename /
        -- hidden-column / widen metadata only); the oracle aggregates
        -- the final state from first principles — hash equality
        -- proves the manifest hands an external engine the complete,
        -- exact table (sum(n) pins the widened column end-to-end)
        SELECT 'man', CAST(sum(n) AS BIGINT), p,
               CAST(sum(CAST(v2 AS DECIMAL(25,6))) AS DOUBLE),
               CAST(NULL AS VARCHAR), count(*)
        FROM final_state GROUP BY p
        UNION ALL
        -- ckpt: a cold reader replaying the whole commit log; hash
        -- equality against the same first-principles aggregate proves
        -- the log-only reconstruction ≡ the final state
        SELECT 'ckpt', CAST(sum(n) AS BIGINT), p,
               CAST(sum(CAST(v2 AS DECIMAL(25,6))) AS DOUBLE),
               CAST(NULL AS VARCHAR), count(*)
        FROM final_state GROUP BY p
        UNION ALL
        -- adv: the compaction advisor.  The builder fragments exactly
        -- one partition (the smallest event_type) after the full
        -- compact, so the deterministic recommendation is that single
        -- value ('pre'); compacting the recommendation must leave an
        -- empty set ('post' pins 0)
        SELECT 'adv', CAST(NULL AS BIGINT), min(event_type),
               CAST(NULL AS DOUBLE), 'pre', CAST(NULL AS BIGINT)
        FROM events
        UNION ALL
        SELECT 'adv', CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
               CAST(NULL AS DOUBLE), 'post', CAST(0 AS BIGINT)
    )
    ORDER BY part, coalesce(id, -1), p
    """,
    tags=(
        "lakehouse", "column-mapping", "update", "mor", "dv", "widen",
        "matview",
    ),
)
def lakehouse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events as a partitioned lakehouse table, then walk the
    column-mapping + DML + widening surface and return the final read:

      1. overwrite_partitions: (id, p=event_type, v=value,
         n=CAST(id AS INT)), hive on p — n is PHYSICALLY int32
      2. rename_column v → v2 (logical rename; physical bytes keep v)
      3. update_where id%7==3: SET v2 = v2*2+1, merge_on_read
         (writers must speak the NEW logical name — the translation
         the fixed manifest tape now exercises)
      4. delete_where id%11==0, merge_on_read (deletion vectors)
      5. add_column flag string DEFAULT NULL (projected, no rewrite)
      6. widen_column_type n: int → bigint (metadata-only; the old
         int32 files are never rewritten)
      7. append generation 2 (id%13==0 rows, ids shifted, flag='g2',
         n beyond int32) — physically int64, untouched by the earlier
         UPDATE/DELETE commits
      8. read → part='dml' rows (id, p, v2, flag, n): one bigint `n`
         column spanning both physical generations

    Part 'mv' (r10) rides the same walk: a MaterializedView over
    silver.t (group p → decimal-exact sum(v2), count) is FULL-built
    right after the rename, then incrementally refreshed ONCE after
    the update/delete/widen/append — the refresh reads the CDC feed
    and recomputes only the affected partitions (`sources/matview.py`;
    the builder asserts the incremental strategy actually ran, so a
    silent full-rebuild fallback fails the row rather than passing by
    accident).  The oracle aggregates the final state from scratch,
    so hash equality proves incremental refresh ≡ from-scratch
    recompute through MoR updates, deletion vectors, a metadata-only
    widen, and a post-widen append.

    Part 'cdc' (r10): an exactly-once ChangeFeedPipe
    (`sources/changefeed.py`) from silver.t into gold.t_feed, polled
    FOUR times (initial snapshot, after the MoR update, after the DV
    delete, after the metadata commits + append) plus a fifth no-op
    poll; the part summarizes the sink per change type (decimal-exact
    sum(v2), count).  The oracle replays the ENTIRE change history
    from first principles — initial inserts, old-image delete +
    new-image insert pairs for the update, current-image deletes for
    the DV delete, gen2 inserts — so hash equality proves the
    incremental windows delivered everything exactly once with the
    right images.

    Part 'man' (r11): the snapshot-manifest export contract, driven
    end-to-end.  The builder first asserts the HONESTY RULE — export
    with live deletion vectors must raise (a plain file manifest can't
    express row-position deletes) — then compacts, exports, and
    reconstructs the table from the manifest ALONE with a log-blind
    reader (`_manifest_replay`: raw file paths + the manifest's
    rename/hidden/widen metadata, partition values regexped from hive
    paths).  The grouped (sum(n), sum(v2), count) per p hash-checks
    against the oracle's first-principles final state, so a missing or
    superseded file, wrong column mapping, or a lost widen all fail
    the row.

    Part 'ckpt' (r11): a cold read.  A fresh Lakehouse instance
    reconstructs the table from its commit log alone — the whole
    history, including the two 'adv' compaction commits — and the
    same per-partition aggregate hash-checks that reconstruction ≡
    the oracle's full first-principles state.

    Part 'adv' (r12): the OPTIMIZE advisor
    (`Lakehouse.recommend_compaction`) hash-gated.  After the full
    compact the builder fragments exactly one partition (the smallest
    event_type, via the scoped files-per-partition knob); the 'pre'
    row carries the advisor's own recommendation set — which the
    oracle predicts from first principles as that single value — and
    after compacting the recommendation the 'post' row carries the
    advisor's new count, pinned to 0.  A sensor that over- or
    under-recommends, or a remediation that doesn't clear it, fails
    the hash.
    """
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(
        _FIXTURE_ROOT, f"lakeround_{tag}_{os.getpid()}"
    )
    shutil.rmtree(root, ignore_errors=True)
    lake = Lakehouse(root)
    lake.create_schemas("silver", "gold")
    events = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("id"),
        F.col("event_type").alias("p"),
        F.col("value").alias("v"),
        F.col("event_id").cast("int").alias("n"),
    )
    lake.overwrite_partitions(events, "silver", "t", partition_col="p")
    lake.rename_column(spark, "silver", "t", "v", "v2")
    from ..sources.matview import MaterializedView

    mv = MaterializedView(
        lake,
        base=("silver", "t"),
        view=("gold", "t_by_type"),
        group_by=["p"],
        partition_col="p",
        aggs={
            "total": "cast(sum(cast(v2 as decimal(25,6))) as double)",
            "n_rows": "count(*)",
        },
    )
    first = mv.refresh(spark)
    assert first["strategy"] == "full", first
    from ..sources.changefeed import ChangeFeedPipe

    pipe = ChangeFeedPipe(
        lake,
        source=("silver", "t"),
        sink=("gold", "t_feed"),
        transform=lambda cdc: cdc.select("id", "v2", "_change_type"),
    )
    # poll 1: initial snapshot (post-rename, pre-mutation) as inserts
    assert pipe.poll(spark)["status"] == "initial"
    lake.update_where(
        spark, "silver", "t",
        F.col("id") % 7 == 3,
        {"v2": F.col("v2") * 2 + 1},
        partition_col="p", mode="merge_on_read",
    )
    # poll 2: the MoR UPDATE as old-image delete + new-image inserts
    p2 = pipe.poll(spark)
    assert p2["status"] == "delta" and p2["rows"] > 0, p2
    lake.delete_where(
        spark, "silver", "t",
        F.col("id") % 11 == 0,
        partition_col="p", mode="merge_on_read",
    )
    # poll 3: the DV DELETE as deletes of the current images
    p3 = pipe.poll(spark)
    assert p3["status"] == "delta" and p3["rows"] > 0, p3
    lake.add_column(spark, "silver", "t", "flag", "string", default=None)
    lake.widen_column_type(spark, "silver", "t", "n", "bigint")
    gen2 = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") % 13 == 0
    ).select(
        (F.col("event_id") + F.lit(_G2_ID_OFFSET)).alias("id"),
        F.col("event_type").alias("p"),
        (F.col("value") * 3).alias("v2"),
        F.lit("g2").alias("flag"),
        (F.col("event_id") + F.lit(_G2_N_OFFSET)).alias("n"),
    )
    lake.append(gen2, "silver", "t")
    # poll 4: a window spanning two metadata-only commits (add_column,
    # widen — no CDC rows) plus the post-widen append's inserts; then
    # an extra poll proves exactly-once (noop, sink untouched)
    p4 = pipe.poll(spark)
    assert p4["status"] == "delta" and p4["rows"] > 0, p4
    assert pipe.poll(spark)["status"] == "noop"
    # ONE incremental refresh across the whole mutation window: MoR
    # update + deletion vectors + add_column + widen + append.  The
    # strategy assertion is the point — a fallback full rebuild would
    # also hash-match (same agg expressions), silently un-testing the
    # CDC path
    second = mv.refresh(spark)
    assert second["strategy"] == "incremental", second
    # part 'man': snapshot manifest export for external engines.  The
    # honesty rule first — with live deletion vectors (the MoR update
    # + DV delete above) a plain file manifest would be silently wrong,
    # so export MUST refuse; a success here means the guard rotted
    from ..sources.lakehouse import ManifestExportError

    try:
        lake.export_manifest("silver", "t", write=False)
        raise AssertionError(
            "export_manifest accepted a table with live deletion "
            "vectors"
        )
    except ManifestExportError:
        pass
    lake.compact(spark, "silver", "t", partition_col="p")
    manifest = lake.export_manifest("silver", "t", write=False)
    # part 'adv' (r12): the compaction advisor driven through the hash
    # gate.  The full compact above left a clean layout (one file per
    # partition, no additive dirs, vectors materialized), so
    # fragmentation is manufactured in exactly ONE partition — the
    # lexicographically smallest event_type — with the scoped
    # files-per-partition knob.  The advisor must then recommend
    # exactly that partition (the 'pre' row carries the engine's own
    # recommendation, which the oracle predicts from first principles
    # as min(event_type)), and compacting the advisor's OWN output
    # must empty the recommendation (the 'post' row pins 0).
    frag_p = min(
        str(r[0]) for r in events.select("p").distinct().collect()
    )
    lake.compact(
        spark, "silver", "t", partition_col="p",
        partitions=[frag_p], target_files_per_partition=6,
    )
    # Scale-invariant threshold (r13): derive small_file_bytes from
    # the fragmented partition's ACTUAL live size instead of a fixed
    # 1 MiB, so the part keeps working at scale factors where the six
    # fragments outgrow any constant.  half-the-partition means every
    # even-ish fragment (~size/6) is "small" while the post-compaction
    # single file (~size) is not; the other partitions hold one file
    # each, under min_small_files=4 either way.
    frag_bytes = lake.recommend_compaction(
        "silver", "t", small_file_bytes=1, min_small_files=1 << 30
    )["detail"][frag_p]["bytes"]
    thr = max(1, frag_bytes // 2)
    rec = lake.recommend_compaction(
        "silver", "t", small_file_bytes=thr, min_small_files=4
    )
    assert rec["unpartitioned_dirs"] == 0, rec
    lake.compact(
        spark, "silver", "t", partition_col="p",
        partitions=rec["partitions"],
    )
    rec_after = lake.recommend_compaction(
        "silver", "t", small_file_bytes=thr, min_small_files=4
    )
    from ..sources.localrel import values_df

    adv_rows = values_df(
        spark,
        [("adv", None, p, None, "pre", None) for p in rec["partitions"]]
        + [
            (
                "adv", None, None, None, "post",
                len(rec_after["partitions"]),
            )
        ],
        schema="part string, id long, p string, v2 double, flag string, n long",
    )
    # part 'ckpt': a COLD Lakehouse instance reconstructs the table
    # from the whole commit log; the hashed aggregate proves the
    # replay equals the oracle's first-principles final state.
    ckpt_rows = _grouped_part(
        Lakehouse(root).read(spark, "silver", "t"), "ckpt"
    )
    man_rows = _grouped_part(_manifest_replay(spark, manifest), "man")
    dml_rows = (
        lake.read(spark, "silver", "t")
        .select(
            F.lit("dml").alias("part"), "id", "p", "v2", "flag", "n"
        )
    )
    mv_rows = mv.read(spark).select(
        F.lit("mv").alias("part"),
        F.lit(None).cast("long").alias("id"),
        "p",
        F.col("total").alias("v2"),
        F.lit(None).cast("string").alias("flag"),
        F.col("n_rows").alias("n"),
    )
    cdc_rows = (
        lake.read(spark, "gold", "t_feed")
        .groupBy("_change_type")
        .agg(
            F.expr(
                "cast(sum(cast(v2 as decimal(25,6))) as double)"
            ).alias("v2"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.lit("cdc").alias("part"),
            F.lit(None).cast("long").alias("id"),
            F.col("_change_type").alias("p"),
            "v2",
            F.lit(None).cast("string").alias("flag"),
            "n",
        )
    )
    return (
        dml_rows.unionByName(mv_rows)
        .unionByName(cdc_rows)
        .unionByName(man_rows)
        .unionByName(ckpt_rows)
        .unionByName(adv_rows)
        .orderBy("part", F.coalesce(F.col("id"), F.lit(-1)), "p")
    )
