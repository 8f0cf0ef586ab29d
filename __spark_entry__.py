"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction over sf0.001-derived pages;
``queries()``/``oracle_sql()`` expose the operator registry
(``document_text_extraction_spark.queries``) for the DuckDB cross-check.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# the package next to this file, whatever the checkout is named
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from document_text_extraction_spark import pipeline  # noqa: E402
from document_text_extraction_spark.functions.fields import (  # noqa: E402
    fields_col,
)
from document_text_extraction_spark.queries import (  # noqa: E402
    ORACLE_SQL,
    QUERIES,
)
from document_text_extraction_spark.sources import (  # noqa: E402
    web_pages_from_documents,
)
from document_text_extraction_spark.shipping import (  # noqa: E402
    ensure_package_shipped,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction (route, parse, classify, order, fields)
    over pages derived from /root/testdata/sf0.001."""
    ensure_package_shipped(spark)
    pages = web_pages_from_documents(spark, "/root/testdata/sf0.001")
    out = pipeline.extract_df(pages, n_buckets=16)
    return out.select(
        "url", "extracted_text", "spans", fields_col().alias("fields"),
        "lineage.status", "lineage.route", "lineage.n_pages",
        "lineage.n_blocks",
    )


def _shipped(fn: Callable) -> Callable:
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_package_shipped(spark)
        return fn(spark, sf_dir)
    wrapped.__name__ = getattr(fn, "__name__", "query")
    wrapped.__doc__ = fn.__doc__
    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _shipped(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return dict(ORACLE_SQL)
