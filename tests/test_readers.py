"""Reader behaviour that the oracle hash-match cannot see."""

from __future__ import annotations

from caliper_poc_data_etl_spark.sources.readers import sf_table


def test_schema_cache_sees_rewritten_table(spark, tmp_path):
    """A parquet path rewritten in-process with a new schema is read
    with the new schema, not the cached one."""
    sf_dir = str(tmp_path)
    path = f"{sf_dir}/t.parquet"
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(path)
    assert sf_table(spark, sf_dir, "t").columns == ["k", "v"]
    spark.createDataFrame([(2.5,)], "w double").write.mode("overwrite").parquet(path)
    got = sf_table(spark, sf_dir, "t")
    assert got.columns == ["w"]
    assert got.collect()[0]["w"] == 2.5
