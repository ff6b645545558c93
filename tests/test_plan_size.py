"""session.plan_size_bytes: the one job-free size signal every "auto"
gate routes on. Plans without statistics must read as unknown (0), not
as the Long.MaxValue placeholder Catalyst reports for them."""

from wimbd_spark.session import (
    ARROW_TEXT_MIN_BYTES,
    plan_size_bytes,
    resolve_text_engine,
)


def test_in_memory_frames_read_as_unknown(spark):
    rows = [(1, "a b c"), (2, "d e f")]
    from_list = spark.createDataFrame(rows, "doc_id long, text string")
    from_rdd = spark.createDataFrame(
        spark.sparkContext.parallelize(rows), "doc_id long, text string"
    )
    joined = from_list.join(from_rdd, "doc_id")
    for df in (from_list, from_rdd, joined):
        assert plan_size_bytes(df) == 0
        assert resolve_text_engine(df, "auto") == "expr"


def test_parquet_frame_reports_file_size(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(1000).selectExpr("id", "cast(id as string) s").write.parquet(
        path
    )
    size = plan_size_bytes(spark.read.parquet(path))
    assert 0 < size < ARROW_TEXT_MIN_BYTES
