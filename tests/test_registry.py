"""Source-registry footer shortcuts: metadata-only answers must agree
with the Spark aggregate they replace, or step aside for it."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def test_source_column_max_integer_footer_matches_spark(spark):
    from mycarely_saas_dbt_spark.sources.registry import source_column_max

    got = source_column_max(SF_SMALL, "documents.parquet", "doc_id")
    want = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .agg(F.max("doc_id"))
        .first()[0]
    )
    assert got is not None and got == want


def test_source_column_max_timestamp_falls_back_to_spark(spark):
    """Timestamp footer stats come back tz-naive (and ns units truncate
    to us) where Spark collects driver-local datetimes, so non-integer
    columns return None and callers take the Spark aggregate."""
    from mycarely_saas_dbt_spark.sources.registry import source_column_max

    assert source_column_max(SF_SMALL, "events.parquet", "ts") is None
    assert source_column_max(SF_SMALL, "events.parquet", "no_such") is None
    assert source_column_max(SF_SMALL, "no_such.parquet", "ts") is None
