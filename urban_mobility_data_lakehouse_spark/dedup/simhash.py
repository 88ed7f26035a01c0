"""SimHash near-duplicate fingerprints (60-bit) — Spark-native bitwise
implementation, fully oracle-checkable.

Per doc: each distinct token hashes to 60 bits (the first 15 hex chars
of md5 — portable: Spark `conv(substr(md5(t),1,15),16,10)` equals
DuckDB `CAST(CONCAT('0x', substr(md5(t),1,15)) AS UBIGINT)` exactly,
and 60 bits always fits a signed BIGINT); each bit position votes
+1/-1; the sign vector is the fingerprint.  Near-dups = fingerprints
within a small Hamming distance, found via band exact-match buckets
(4 × 15-bit bands → catches Hamming distance ≤ 3 pairs).

Scale: one explode + one group-by per doc; bucket join on 15-bit band
values is uniform.  Everything stays in JVM expressions (codegen
whens + shifts — no UDF).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

BITS = 60
BANDS = 4  # 4 × 15-bit bands
BAND_BITS = BITS // BANDS
BAND_MASK = (1 << BAND_BITS) - 1


def token_hash(col) -> F.Column:
    """Portable 60-bit token hash (md5-derived, engine-agnostic)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash(documents: DataFrame) -> DataFrame:
    """(doc_id, simhash BIGINT) via bitwise vote aggregation.

    The ±1 vote per bit is algebraically 2·popcount_j − n, so the agg
    only sums raw bits ((h>>j)&1, no branch) plus one count; the sign
    test becomes 2·s_j > n at fingerprint build — same result, ~half
    the per-row aggregation work of a when(±1) formulation.

    The 60 bit-sum aggregates and the 60-term fingerprint assembly are
    built as SQL STRINGS (`F.expr`), not chained Column-API calls:
    each Column operator is a py4j round-trip, and ~500 of them cost
    multiple driver-side seconds per plan build — measured 2.9 s →
    <0.1 s for this frame.  Bit j's CASE contributes the disjoint
    power 2^j, so `+` ≡ bitwise OR."""
    toks = documents.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("token"),
    ).withColumn("h", token_hash(F.col("token")))
    votes = toks.groupBy("doc_id").agg(
        *[
            F.expr(f"sum((shiftright(h, {j}) & 1)) AS s{j}")
            for j in range(BITS)
        ],
        F.expr("count(1) AS n"),
    )
    # fingerprint assembly as ONE fold over array(s0..s59) instead of a
    # 60-term CASE sum: the fold expression is ~20 Catalyst nodes vs
    # ~360, which cuts the measured plan+checkpoint time of this frame
    # 0.88 → 0.57 s (r13; the fold runs only on the |docs| grouped
    # rows, so interpreted-HOF eval cost is nil).  IF(2·s > n,
    # 1<<j, 0) summed over disjoint powers is bit-for-bit the old CASE
    # chain (verified value-equal at sf0.1).
    s_array = ",".join(f"s{j}" for j in range(BITS))
    fold_sql = (
        f"aggregate(zip_with(array({s_array}), sequence(0, {BITS - 1}), "
        "(s, j) -> IF(2 * s > n, shiftleft(CAST(1 AS BIGINT), j), "
        "CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (a, x) -> a + x)"
    )
    return votes.selectExpr(
        "doc_id", f"CAST({fold_sql} AS BIGINT) AS simhash"
    )


HAMMING_MAX = 3  # what 4 × 15-bit bands guarantee to catch


def _banded_sides(documents: DataFrame):
    """(a, b): the two aliased sides of the band-bucket self-join.

    The fingerprint frame is localCheckpoint-ed first: both join sides
    deriving from the same `fps` lineage would otherwise recompute the
    token explode + md5 + 60-bit vote aggregation TWICE (the aliasing
    projections differ, so Catalyst's ReusedExchange can't kick in) —
    measured 3.6 s → 2.0 s warm at sf0.1 from this alone.  At 100 TB
    the equivalent is materializing the fingerprint table once (it's
    |docs| rows) before the banded join; localCheckpoint is the
    session-local analog, and its blocks are freed by the
    ContextCleaner when the frame is collected (no CacheManager leak,
    unlike .persist())."""
    fps = simhash(documents).localCheckpoint(eager=False)
    # band structs as one SQL string: the Column-API form cost ~20 py4j
    # round-trips per build (guide §4 boundary discipline applies to
    # the driver too)
    band_structs = ", ".join(
        f"struct(CAST({b} AS INT) AS band_id, "
        f"shiftrightunsigned(simhash, {b * BAND_BITS}) & {BAND_MASK} "
        "AS band_val)"
        for b in range(BANDS)
    )
    bands = fps.selectExpr(
        "doc_id",
        "simhash",
        f"explode(array({band_structs})) AS band",
    ).select("doc_id", "simhash", "band.band_id", "band.band_val")
    a = bands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("sim_a"),
        "band_id",
        "band_val",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sim_b"),
        "band_id",
        "band_val",
    )
    return a, b


def dedup_map(
    documents: DataFrame, hamming_max: int = HAMMING_MAX
) -> DataFrame:
    """Keep-one-per-cluster map: for every doc with at least one
    near-duplicate of smaller id, its canonical representative
    (min neighbor) and near-dup degree.

    This is the output shape an LLM-data dedup pipeline actually
    materializes — |docs| rows, NOT the pair list, which is quadratic
    in duplicate-family size (a 700-doc template family alone is 245k
    pairs; observed 271k pairs vs ≤5k map rows at sf0.1).  The pair
    blowup still exists as the join's intermediate, but it is
    filtered row-locally in codegen; nothing quadratic is shuffled,
    distinct-ed, sorted, or returned."""
    a, b = _banded_sides(documents)
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        a.join(b, ["band_id", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(hamming <= hamming_max)
        .groupBy(F.col("doc_b").alias("doc_id"))
        .agg(
            F.min("doc_a").alias("canonical_id"),
            F.countDistinct("doc_a").alias("n_near_dups"),
        )
        .orderBy("doc_id")
    )


# DuckDB oracle for the full pipeline (hash → vote → fingerprint →
# band-blocked Hamming-verified dedup map) — same md5-60bit hash,
# same 2·s > n vote semantics, same min-neighbor canonicalization.
SIMHASH_ORACLE = f"""
WITH toks AS (
    SELECT doc_id,
           unnest(list_distinct(string_split(text, ' '))) AS token
    FROM documents
),
hashed AS (
    SELECT doc_id,
           CAST(CAST(CONCAT('0x', substr(md5(token), 1, 15)) AS UBIGINT)
                AS BIGINT) AS h
    FROM toks
),
votes AS (
    SELECT doc_id, j, SUM((h >> j) & 1) AS s, count(*) AS n
    FROM hashed, generate_series(0, {BITS - 1}) t(j)
    GROUP BY doc_id, j
),
fps AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN 2 * s > n
                         THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
                AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
),
bands AS (
    SELECT doc_id, simhash,
           (simhash >> (b * {BAND_BITS})) & {BAND_MASK} AS band_val, b
    FROM fps, generate_series(0, {BANDS - 1}) t(b)
)
SELECT b.doc_id AS doc_id,
       min(a.doc_id) AS canonical_id,
       count(DISTINCT a.doc_id) AS n_near_dups
FROM bands a JOIN bands b
  ON a.b = b.b AND a.band_val = b.band_val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
GROUP BY 1
ORDER BY doc_id
"""
