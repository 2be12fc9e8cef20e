"""Range (interval) join: match facts to the intervals containing them.

Naive formulation — ``a JOIN b ON a.ts BETWEEN b.lo AND b.hi`` — has no
equality key, so Spark plans a BroadcastNestedLoopJoin (or worse, a
cartesian product): O(n*m) compares. The scalable formulation buckets both
sides by a coarse grain g: a fact joins only buckets its ts falls in, an
interval is replicated into ceil((hi-lo)/g)+1 buckets, and the exact
BETWEEN predicate filters within the equality-joined bucket. Compare count
drops to O(n * avg_intervals_per_bucket) and the join is a plain shuffled
equality join that scales like any other.

Grain choice: ~= typical interval length; longer intervals replicate more,
shorter grains make more buckets — both linear, never quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def bucketize_facts(facts: DataFrame, ts_col: str, grain: int) -> DataFrame:
    return facts.withColumn("_bucket", (F.col(ts_col) - F.col(ts_col) % grain))


def bucketize_intervals(intervals: DataFrame, lo_col: str, hi_col: str,
                        grain: int) -> DataFrame:
    """Replicate each interval into every grain bucket it overlaps."""
    lo_b = F.col(lo_col) - F.col(lo_col) % grain
    hi_b = F.col(hi_col) - F.col(hi_col) % grain
    return intervals.withColumn(
        "_bucket", F.explode(F.sequence(lo_b, hi_b, F.lit(grain)))
    )


def range_join(facts: DataFrame, intervals: DataFrame, *, ts_col: str,
               lo_col: str, hi_col: str, grain: int,
               how: str = "inner") -> DataFrame:
    """Equality-join on the grain bucket, then the exact containment filter.
    Output columns: all fact columns + all interval columns."""
    f = bucketize_facts(facts, ts_col, grain)
    iv = bucketize_intervals(intervals, lo_col, hi_col, grain)
    joined = f.join(iv, on="_bucket", how=how).where(
        (F.col(ts_col) >= F.col(lo_col)) & (F.col(ts_col) <= F.col(hi_col))
    )
    return joined.drop("_bucket")


def interval_overlap_join(a: DataFrame, b: DataFrame, *,
                          a_lo: str, a_hi: str, b_lo: str, b_hi: str,
                          grain: int) -> DataFrame:
    """Interval x interval overlap join (half-open [lo, hi) on both sides)
    — the generalization of ``range_join`` where BOTH sides are intervals.

    Each side replicates into every grain bucket it overlaps; the equality
    join on the bucket bounds compares to co-bucketed pairs; the exact
    ``a.lo < b.hi AND b.lo < a.hi`` predicate filters them. A pair that
    overlaps across several shared buckets would surface once per bucket,
    so the EMIT-ONCE guard keeps only the bucket containing the overlap's
    start (``greatest(a.lo, b.lo)``) — no downstream DISTINCT (which would
    be a second shuffle of the full pair set) is needed.

    Output: all columns of both sides. Compare cost is
    O(pairs-per-bucket), never |a| x |b|.
    """
    ae = a.withColumn(
        "_bucket",
        F.explode(F.sequence(F.col(a_lo) - F.col(a_lo) % grain,
                             (F.col(a_hi) - 1) - (F.col(a_hi) - 1) % grain,
                             F.lit(grain))))
    be = b.withColumn(
        "_bucket",
        F.explode(F.sequence(F.col(b_lo) - F.col(b_lo) % grain,
                             (F.col(b_hi) - 1) - (F.col(b_hi) - 1) % grain,
                             F.lit(grain))))
    start = F.greatest(F.col(a_lo), F.col(b_lo))
    return (
        ae.join(be, on="_bucket")
        .where((F.col(a_lo) < F.col(b_hi)) & (F.col(b_lo) < F.col(a_hi)))
        .where(F.col("_bucket") == start - start % grain)
        .drop("_bucket")
    )
