"""table_rows: the footer row count must equal df.count() (it feeds
adaptive LSH geometry in place of a plan-build-time Spark job)."""

from __future__ import annotations

import os

from tigerbeetle_cdc_nats_spark.operators.similarity import table_rows


def test_footer_count_matches_spark_count(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"vec_id": list(range(137))}),
                   os.path.join(tmp_path, "embeddings.parquet"))
    assert table_rows(str(tmp_path)) == 137
    got = spark.read.parquet(
        os.path.join(str(tmp_path), "embeddings.parquet")).count()
    assert got == 137


def test_footer_count_directory_dataset(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(tmp_path, "embeddings.parquet")
    os.makedirs(d)
    pq.write_table(pa.table({"v": [1, 2, 3]}), os.path.join(d, "a.parquet"))
    pq.write_table(pa.table({"v": [4, 5]}), os.path.join(d, "b.parquet"))
    assert table_rows(str(tmp_path)) == 5


def test_directory_with_subdirectories_returns_none(spark, tmp_path):
    """Spark's partition discovery decides which nested part files a
    directory dataset holds (here only ``k=1/``'s); a top-level footer
    walk can't follow it, so it defers to the Spark count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(tmp_path, "embeddings.parquet")
    os.makedirs(os.path.join(d, "k=1"))
    pq.write_table(pa.table({"v": [1, 2, 3]}), os.path.join(d, "a.parquet"))
    pq.write_table(pa.table({"v": [4, 5]}),
                   os.path.join(d, "k=1", "b.parquet"))
    assert table_rows(str(tmp_path)) is None
    # the top-level walk would have said 3
    assert spark.read.parquet(d).count() != 3


def test_footer_count_missing_file_returns_none(tmp_path):
    assert table_rows(str(tmp_path)) is None


def test_footer_count_reprobes_on_rewrite(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = os.path.join(tmp_path, "embeddings.parquet")
    pq.write_table(pa.table({"v": [1]}), p)
    assert table_rows(str(tmp_path)) == 1
    pq.write_table(pa.table({"v": [1, 2]}), p)
    os.utime(p, ns=(1, 1))  # force a distinct mtime either way
    assert table_rows(str(tmp_path)) == 2
