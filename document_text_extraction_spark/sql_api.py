"""SQL surface: register the engine's tables/views so users can drive
everything from ``spark.sql`` (Catalyst produces the same plans either
way — SURVEY.md §3's "Spark shape" holds for both APIs).

Example::

    from document_text_extraction_spark import sql_api
    sql_api.register_views(spark, sf_dir="/root/testdata/sf0.01")
    spark.sql('''
        SELECT lineage.route, count(*) AS n
        FROM extracted GROUP BY 1
    ''').show()
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from . import pipeline
from .functions.fields import fields_col
from .sources import web_pages_from_documents

VIEWS = ("web_pages", "extracted", "documents", "events", "embeddings")


def register_views(spark: SparkSession, sf_dir: str,
                   n_buckets: int = 64) -> None:
    """Create temp views: raw tables, the derived pages and the
    extraction output with its derived field struct (lazy — nothing
    runs until queried)."""
    for t in ("documents", "events", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet") \
            .createOrReplaceTempView(t)
    pages = web_pages_from_documents(spark, sf_dir)
    pages.createOrReplaceTempView("web_pages")
    pipeline.extract_df(pages, n_buckets=n_buckets) \
        .withColumn("fields", fields_col()) \
        .createOrReplaceTempView("extracted")
