"""A ``date`` field fed a TIMESTAMP_NTZ column fails before the build
writes anything: the zone maps read dates as epoch seconds, which a
zone-less timestamp does not have."""

import os

import pytest
from pyspark.sql import functions as F

from sonar_tantivy_spark import IndexCatalog
from sonar_tantivy_spark.plans import ast as A
from sonar_tantivy_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA,
    generate_transcripts,
)


def _parquet_files(root: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(root)
            for f in fs if f.endswith(".parquet")]


def test_timestamp_ntz_date_field_is_rejected_before_any_write(spark,
                                                                tmp_path):
    idx = IndexCatalog(spark, str(tmp_path)).create_index(
        "ntz", TRANSCRIPT_SCHEMA)
    df = spark.createDataFrame(generate_transcripts(50)).withColumn(
        "ts", F.col("ts").cast("timestamp_ntz"))
    before = idx.storage.manifest()
    with pytest.raises(A.QueryError, match=r"'ts'.*cast it to TIMESTAMP"):
        idx.add_df(df, order_cols=["conv_id", "turn_idx"])
    assert _parquet_files(str(tmp_path)) == []
    assert idx.storage.manifest() == before


def test_timestamp_date_field_still_builds(spark, tmp_path):
    idx = IndexCatalog(spark, str(tmp_path)).create_index(
        "tz", TRANSCRIPT_SCHEMA)
    idx.add_df(spark.createDataFrame(generate_transcripts(50)),
               order_cols=["conv_id", "turn_idx"])
    assert idx.storage.manifest()["segments"]
