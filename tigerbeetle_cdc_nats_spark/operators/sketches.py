"""Count-min sketch: a mergeable frequency sketch as a first-class
DataFrame operator.

The CMS is a d x w counter matrix; item x increments cell (i, h_i(x) mod w)
for each of d hash rows; the frequency estimate is the min over rows. All
integer arithmetic over the shared md5-derived hash (operators/dedup.hash60),
so the sketch is bit-identical on any engine and ORACLE-CHECKABLE — unlike
HLL/KLL whose internals differ per implementation.

Scale: building is one groupBy over (row, col) — map-side combinable; two
sketches merge by cell-wise addition (the property that makes CMS work for
distributed/streaming counting).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from tigerbeetle_cdc_nats_spark.operators.dedup import MINHASH_P, hash60, sql_hash60

CMS_DEPTH = 4
CMS_WIDTH = 64

#: Per-row universal-hash params (same family as MinHash permutations).
CMS_A = tuple((3 * i + 7) * 2654435761 % MINHASH_P for i in range(CMS_DEPTH))
CMS_B = tuple((i * 1013904223 + 5) % MINHASH_P for i in range(CMS_DEPTH))


def sql_cms_cell(expr: str, row: int, width: int = CMS_WIDTH) -> str:
    h = f"({sql_hash60(expr)} % {MINHASH_P})"
    return f"((({CMS_A[row]} * {h} + {CMS_B[row]}) % {MINHASH_P}) % {width})"


def _cell_from_base(h: Column, row: int, width: int) -> Column:
    """Cell column for hash row ``row`` given the depth-invariant base hash
    (hash60 % P) — lets callers hash each key ONCE and vary only the
    integer (a, b) mix per depth row."""
    return ((F.lit(CMS_A[row]) * h + F.lit(CMS_B[row])) % MINHASH_P) % width


def count_min_sketch(df: DataFrame, key: Column, *, depth: int = CMS_DEPTH,
                     width: int = CMS_WIDTH) -> DataFrame:
    """Build the sketch: one output row per non-empty (row, col) cell with
    its count. Exploding d rows per input row keeps it one groupBy; the
    md5-derived base hash is computed BEFORE the explode (it does not vary
    by depth row), so hash work is 1x, not depth-x, per input row."""
    rows = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("cms_row")
    keyed = (df.select(key.alias("_k"))
             .select((hash60(F.col("_k")) % MINHASH_P).alias("_h"))
             .select("_h", rows))
    # CASE over cms_row (hash params differ per row)
    expr = F.when(F.col("cms_row") == 0, _cell_from_base(F.col("_h"), 0, width))
    for i in range(1, depth):
        expr = expr.when(F.col("cms_row") == i,
                         _cell_from_base(F.col("_h"), i, width))
    return (
        keyed.withColumn("cms_col", expr.cast("long"))
        .groupBy("cms_row", "cms_col")
        .agg(F.count("*").alias("n"))
    )


def cms_estimate(sketch: DataFrame, keys: DataFrame, key: Column,
                 *, depth: int = CMS_DEPTH, width: int = CMS_WIDTH) -> DataFrame:
    """Point-query the sketch for each key: min over rows of the cell count
    (missing cell -> 0, though CMS never underestimates present keys)."""
    rows = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("cms_row")
    expr = F.when(F.col("cms_row") == 0, _cell_from_base(F.col("_h"), 0, width))
    for i in range(1, depth):
        expr = expr.when(F.col("cms_row") == i,
                         _cell_from_base(F.col("_h"), i, width))
    probes = (keys.select(key.alias("_k"))
              .select("_k", (hash60(F.col("_k")) % MINHASH_P).alias("_h"))
              .select("_k", "_h", rows)
              .withColumn("cms_col", expr.cast("long")))
    joined = probes.join(sketch, on=["cms_row", "cms_col"], how="left")
    return (
        joined.groupBy("_k")
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).alias("est_count"))
        .withColumnRenamed("_k", "key")
    )


# ---------------------------------------------------------------------------
# Portable HyperLogLog: register array + estimate from the shared md5 hash.
# Engine-native HLLs (Spark approx_count_distinct, DuckDB approx_*) differ in
# hash and register layout, so they can never hash-match an oracle. This one
# derives every register from hash60, making the SKETCH ITSELF cross-engine
# bit-identical — the same trick as the CMS above.
# ---------------------------------------------------------------------------

HLL_P = 9                    # 2^9 = 512 registers
HLL_M = 1 << HLL_P
_HLL_W = 60 - HLL_P          # 51-bit remainder field per register
_TWO_W = 1 << _HLL_W
#: 2^(rho-1) scaling makes Z = sum(2^-rho) an exact BIGINT: each register
#: contributes 2^(W+1-rho), empties contribute 2^(W+1); total <= m * 2^52.
_Z_ONE = 1 << (_HLL_W + 1)


def hll_register_cols(key: Column) -> tuple[Column, Column]:
    """(bucket, rho) for one item: top p bits pick the register, rho is the
    1-based position of the first set bit in the remaining W bits (W+1 when
    they are all zero). bin() length gives the bit position with identical
    semantics on both engines (verified: bin(0)='0', no padding)."""
    h = hash60(key)
    bucket = F.shiftright(h, _HLL_W)
    rem = h % _TWO_W
    rho = (
        F.when(rem == 0, F.lit(_HLL_W + 1))
        .otherwise(F.lit(_HLL_W + 1) - F.length(F.bin(rem)))
    )
    return bucket.alias("bucket"), rho.cast("int").alias("rho")


def sql_hll_register(expr: str) -> str:
    """DuckDB mirror of ``hll_register_cols`` as a SELECT fragment."""
    h = sql_hash60(expr)
    return (
        f"({h}) // {_TWO_W} AS bucket, "
        f"CASE WHEN ({h}) % {_TWO_W} = 0 THEN {_HLL_W + 1} "
        f"ELSE {_HLL_W + 1} - length(bin(({h}) % {_TWO_W})) END AS rho"
    )


#: alpha_m * m^2 * 2^(W+1) / Z_int, with the linear-counting branch for the
#: small range — written once and F.expr'd / inlined verbatim on both
#: engines so every float op runs in the same order.
HLL_EST_SQL = (
    f"CASE WHEN (0.7213 / (1.0 + 1.079 / {HLL_M}.0)) * {HLL_M}.0 * {HLL_M}.0"
    f" * {float(_Z_ONE)} / CAST(z_int AS DOUBLE) <= {2.5 * HLL_M}"
    f" AND zeros > 0"
    f" THEN {HLL_M}.0 * ln({HLL_M}.0 / CAST(zeros AS DOUBLE))"
    f" ELSE (0.7213 / (1.0 + 1.079 / {HLL_M}.0)) * {HLL_M}.0 * {HLL_M}.0"
    f" * {float(_Z_ONE)} / CAST(z_int AS DOUBLE) END"
)


def hll_registers(df: DataFrame, key: Column,
                  group_cols: list[str]) -> DataFrame:
    """Per-group register table (bucket, r = max rho) — the mergeable HLL
    state: m rows per group regardless of input size, merged by per-bucket
    MAX. Works identically on batch and streaming DataFrames; as a
    streaming aggregation the state is bounded by construction (m keys per
    group, no watermark needed) and MAX is idempotent, so at-least-once
    replay cannot corrupt the sketch."""
    b, r = hll_register_cols(key)
    return (
        df.select(*group_cols, b, r)
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("r"))
    )


def hll_estimate_from_registers(reg: DataFrame,
                                group_cols: list[str]) -> DataFrame:
    """Harmonic estimate (with linear-counting small range) from a register
    table — the read side of the sketch."""
    g = reg.groupBy(*group_cols).agg(
        F.count("*").cast("long").alias("nonzero_registers"),
        F.sum("r").cast("long").alias("sum_rho"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                     f"CAST({_HLL_W + 1} - r AS INT))")).alias("_zp"),
    )
    return (
        g.withColumn("zeros", F.lit(HLL_M) - F.col("nonzero_registers"))
        .withColumn("z_int",
                    F.col("_zp") + F.col("zeros") * F.lit(_Z_ONE))
        .withColumn("est_e6",
                    F.expr(f"CAST(FLOOR(({HLL_EST_SQL}) * 1000000.0) "
                           f"AS BIGINT)"))
        .drop("_zp", "z_int")
    )


def hll_sketch(df: DataFrame, key: Column, group_cols: list[str]) -> DataFrame:
    """Per-group HLL: registers then estimate — two map-side-combinable
    aggregations end to end."""
    return hll_estimate_from_registers(
        hll_registers(df, key, group_cols), group_cols)
