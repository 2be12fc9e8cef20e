"""Z-order layout key: the Spark expression interleaves bits exactly as an
independent Python model does."""

from __future__ import annotations


def test_zorder_key_interleaves_bits(spark):
    from pyspark.sql import functions as F

    from tigerbeetle_cdc_nats_spark.sources.layout import zorder_key

    cases = [(0, 0, 0), (1, 0, 1), (0, 1, 2), (1, 1, 3),
             (2, 0, 4), (0, 2, 8), (3, 3, 15), (5, 3, 27),
             (1023, 1023, (1 << 20) - 1)]
    df = spark.createDataFrame([(a, b, w) for a, b, w in cases],
                               "a long, b long, want long")
    got = df.select(
        "want", zorder_key(F.col("a"), F.col("b")).alias("zkey")).collect()
    for r in got:
        assert r["zkey"] == r["want"]


from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=5, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 1023), st.integers(0, 1023)),
                min_size=1, max_size=50))
def test_zorder_key_roundtrips_against_python_model(spark, pairs):
    """zorder_key must match an independent bit-interleave model, and the
    key must be injective over the (a, b) domain (decodable layout key)."""
    from pyspark.sql import functions as F

    from tigerbeetle_cdc_nats_spark.sources.layout import zorder_key

    def model(a, b):
        out = 0
        for i in range(10):
            out |= ((a >> i) & 1) << (2 * i)
            out |= ((b >> i) & 1) << (2 * i + 1)
        return out

    df = spark.createDataFrame(list(set(pairs)), "a long, b long")
    got = df.select("a", "b",
                    zorder_key(F.col("a"), F.col("b")).alias("z")).collect()
    for r in got:
        assert r["z"] == model(r["a"], r["b"])
    assert len({r["z"] for r in got}) == len(got)  # injective
